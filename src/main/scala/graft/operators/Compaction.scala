package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Small-file compaction: rewrite a directory of many undersized parquet
  * files into target-sized ones. The 100 TB maintenance operation every
  * long-lived table needs — streaming sinks and over-parallel writers
  * produce kilobyte files whose open/footer overhead eventually dominates
  * scan time and overwhelms driver file listings.
  *
  * Built on AQE rebalance (the `REBALANCE` hint): the shuffle write sizes
  * output partitions to `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * from RUNTIME statistics — skewed partitions split, tiny ones coalesce —
  * so the operator needs no row-count heuristics of its own and scales to
  * any input distribution. One shuffle, the unavoidable price of changing
  * file boundaries.
  */
object Compaction {

  final case class Result(rows: Long, filesBefore: Int, filesAfter: Int)

  private def dataFiles(dir: String, suffix: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(suffix))

  private def parquetFooterRows(conf: Configuration, path: String): Long =
    Tables.footer(conf, path)(_.getBlocks.asScala.map(_.getRowCount).sum)

  private def orcFooterRows(conf: Configuration, path: String): Long = {
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(path), org.apache.orc.OrcFile.readerOptions(conf))
    try reader.getNumberOfRows finally reader.close()
  }

  /** Sum of footer row counts over data files — METADATA-only row-count
    * verification (each footer read is a few KB of tail bytes, never the
    * data pages; both parquet and ORC store the row count there).
    * Re-scanning both sides to count rows would double the I/O of a
    * 100 TB maintenance pass; footers make verification proportional to
    * file COUNT. Small file sets read on the driver (same cost as the
    * listing); large ones fan out as tasks (`Tables.perFile`).
    */
  private[graft] def footerRowCount(spark: SparkSession,
      files: Seq[String], format: String = "parquet"): Long =
    Tables.perFile(spark, files)(
      if (format == "orc") orcFooterRows else parquetFooterRows).sum

  /** A compaction's input: its data files and their read (parquet
    * through `Tables.read`, whose schema comes from a footer).
    */
  private def input(spark: SparkSession, inDir: String, format: String)
      : (Array[java.io.File], DataFrame) = {
    require(format == "parquet" || format == "orc",
      s"unsupported compaction format: $format")
    (dataFiles(inDir, s".$format"),
      if (format == "parquet") Tables.read(spark, inDir)
      else spark.read.format(format).load(inDir))
  }

  /** Compact `inDir`'s data files into `outDir` targeting `targetBytes`
    * per output file. `format` is `parquet` (default) or `orc` (the
    * declared Vortex substitute) — the same AQE-rebalance rewrite either
    * way. Returns row count (verified equal on both sides from file
    * FOOTERS — no data re-scan) and the before/after file counts.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      format: String = "parquet"): Result = {
    val (before, df) = input(spark, inDir, format)
    withAdvisorySize(spark, targetBytes) {
      df.hint("rebalance").write.mode("overwrite").format(format).save(outDir)
    }
    val after = dataFiles(outDir, s".$format")
    val inRows = footerRowCount(spark, before.map(_.getPath).toSeq, format)
    val rows = footerRowCount(spark, after.map(_.getPath).toSeq, format)
    require(rows == inRows, s"compaction changed row count: $inRows -> $rows")
    Result(rows, before.length, after.length)
  }

  /** Cluster-compact: like [[compact]], but rows are RANGE-partitIONED and
    * sorted by `clusterCols` on the way out, so every output file (and
    * every parquet row group / ORC stripe inside it) covers a narrow key
    * range. Column min/max statistics then turn key predicates into DATA
    * SKIPPING at read time — the reader decodes only the row groups whose
    * range can match — which is the layout lever (Z-order's 1-D special
    * case) behind clustered tables in every lakehouse table format. The
    * price over plain compaction is the same single shuffle (range instead
    * of rebalance) plus an in-partition sort; at 100 TB this is the
    * difference between a point lookup scanning one row group and
    * scanning the table. SourcesSpec proves the skip with task
    * recordsRead on a selective key scan, clustered vs rebalance-only.
    *
    * `writeOptions` passes format knobs (e.g. a small `parquet.block.size`
    * to get several row groups per file where row-group granularity
    * matters at test scale).
    */
  def compactClustered(spark: SparkSession, inDir: String, outDir: String,
      clusterCols: Seq[String], targetBytes: Long = 128L * 1024 * 1024,
      format: String = "parquet",
      writeOptions: Map[String, String] = Map.empty): Result = {
    require(clusterCols.nonEmpty, "compactClustered needs cluster columns")
    import org.apache.spark.sql.functions.col
    val (before, df) = input(spark, inDir, format)
    withAdvisorySize(spark, targetBytes) {
      df.repartitionByRange(clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
        .write.mode("overwrite").options(writeOptions).format(format)
        .save(outDir)
    }
    val after = dataFiles(outDir, s".$format")
    val inRows = footerRowCount(spark, before.map(_.getPath).toSeq, format)
    val rows = footerRowCount(spark, after.map(_.getPath).toSeq, format)
    require(rows == inRows, s"compaction changed row count: $inRows -> $rows")
    Result(rows, before.length, after.length)
  }

  /** Morton (Z-order) interleave: bit `b` of dimension `d`'s rank lands at
    * output bit `b*D + d`, so the curve alternates dimensions at every bit
    * level — points close in ANY dimension stay close along the curve,
    * which is what makes multi-column data skipping work where a
    * lexicographic sort only skips on its leading column. Ranks must
    * already be longs in `[0, 2^bits)`; `bits * D` must fit a long.
    */
  private[graft] def mortonInterleave(ranks: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val d = ranks.size
    require(d >= 1 && bits >= 1 && bits * d <= 62,
      s"bits($bits) * dims($d) must be in [1, 62]")
    val terms = for {
      b <- 0 until bits
      (r, i) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * d + i)
    terms.reduce(_ + _)
  }

  /** Z-ORDER compaction: rewrite so rows are range-partitioned and sorted
    * along the Morton curve over `zCols` — the multi-dimensional
    * generalization of [[compactClustered]] (its 1-D special case) and
    * the layout behind `OPTIMIZE ... ZORDER BY` in lakehouse formats.
    * After the rewrite, a selective predicate on ANY of the z columns
    * (or a box over several) prunes row groups via min/max stats; a
    * lexicographic sort gives that only for the leading column.
    *
    * Each column is ranked into `[0, 2^bits)` by a linear min/max map
    * (two doubles per column of driver state from ONE stats aggregate) —
    * simpler than the percentile-rank variant lakehouses use, with the
    * known caveat that a heavily skewed column wastes rank codes on its
    * sparse range. File SIZES stay balanced regardless:
    * `repartitionByRange` samples the z-value distribution, so output
    * partitions hold equal ROW counts however skewed the z codes are.
    * Cost is the same single range shuffle + in-partition sort as
    * clustered compaction; row counts verified footer-only, as there.
    */
  def compactZOrder(spark: SparkSession, inDir: String, outDir: String,
      zCols: Seq[String], bits: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024,
      format: String = "parquet",
      writeOptions: Map[String, String] = Map.empty): Result = {
    require(zCols.size >= 2, "z-order needs at least 2 columns (use " +
      "compactClustered for 1)")
    import org.apache.spark.sql.functions._
    val (before, df) = input(spark, inDir, format)
    val statCols = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"mn_$c"),
      max(col(c)).cast("double").as(s"mx_$c")))
    val stats = df.agg(statCols.head, statCols.tail: _*).first()
    val top = (1L << bits) - 1
    val ranks = zCols.zipWithIndex.map { case (c, i) =>
      val mn = stats.getDouble(2 * i)
      val mx = stats.getDouble(2 * i + 1)
      if (mx <= mn) lit(0L)
      else least(lit(top), greatest(lit(0L),
        floor((col(c).cast("double") - lit(mn)) / lit(mx - mn) * top)
          .cast("long")))
    }
    val z = mortonInterleave(ranks, bits)
    withAdvisorySize(spark, targetBytes) {
      df.withColumn("__graft_z", z)
        .repartitionByRange(col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z")
        .write.mode("overwrite").options(writeOptions).format(format)
        .save(outDir)
    }
    val after = dataFiles(outDir, s".$format")
    val inRows = footerRowCount(spark, before.map(_.getPath).toSeq, format)
    val rows = footerRowCount(spark, after.map(_.getPath).toSeq, format)
    require(rows == inRows, s"compaction changed row count: $inRows -> $rows")
    Result(rows, before.length, after.length)
  }

  /** Write `df` as parquet with a PARQUET BLOOM FILTER on `bloomCols` —
    * the layout lever for HIGH-CARDINALITY point lookups, complementing
    * clustering/Z-order (which need the data SORTED to make min/max stats
    * selective): a bloom filter answers "row group cannot contain value
    * v" for values scattered uniformly, where every row group's min/max
    * spans the whole domain and sorting by one key is already spent.
    * Dictionary encoding is disabled for the bloom columns' file (bloom
    * targets exactly the cardinality regime where dictionaries stop
    * fitting; at test scale a dictionary would also shadow the bloom
    * pruning the spec measures). At 100 TB: an absent-key probe touches
    * footers + a few KB of bloom bitset per row group instead of
    * decoding the column — the reader-side row-group elimination is
    * automatic in the parquet reader once the equality predicate pushes
    * down.
    */
  def writeWithBloom(df: org.apache.spark.sql.DataFrame, outDir: String,
      bloomCols: Seq[String], expectedNdv: Long = 100000L,
      blockSize: Long = 1L * 1024 * 1024): Unit = {
    val w = df.write.mode("overwrite")
      .option("parquet.block.size", blockSize.toString)
      .option("parquet.enable.dictionary", "false")
    bloomCols.foreach { c =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }
    w.parquet(outDir)
  }

  /** True iff every row group in `path` carries a bloom filter for
    * `column` (footer check — bloom offsets are recorded per chunk),
    * read with the active session's Hadoop conf.
    */
  def hasBloomFilter(path: String, column: String): Boolean =
    Tables.footer(SparkSession.active.sessionState.newHadoopConf(), path) { footer =>
      val blocks = footer.getBlocks.asScala
      blocks.nonEmpty && blocks.forall(_.getColumns.asScala
        .filter(_.getPath.toDotString == column)
        .forall(_.getBloomFilterOffset >= 0))
    }

  private def withAdvisorySize[A](spark: SparkSession, bytes: Long)(f: => A): A = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try f
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
