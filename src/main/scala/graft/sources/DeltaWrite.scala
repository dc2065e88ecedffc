package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration

import graft.core.Tables
import graft.plans.FooterStats

/** Minimal Delta Lake WRITE path — append and overwrite commits compatible
  * with [[DeltaLog]]'s reader (and any Delta reader at protocol
  * minReaderVersion 1): data files written by Spark's distributed parquet
  * writer, then published by ONE versioned JSON commit in `_delta_log`.
  * Completes the lakehouse story the read path started: a pipeline can now
  * land its output AS a Delta table and time-travel its own history.
  *
  * Commit protocol correctness (the part that matters at scale):
  *  - data files land under uuid names in the table root BEFORE the
  *    commit exists — readers can't see them until the JSON publishes
  *    them, so a crashed writer leaves garbage files, never a torn table;
  *  - the commit file is staged then published to `NNNN…N.json` by an
  *    atomic link(2) that FAILS if the version exists — optimistic
  *    concurrency exactly like real Delta ([[publish]] states the
  *    protocol), spec-pinned; POSIX rename would silently replace;
  *  - version 0 carries `protocol` (minReader 1 / minWriter 2) and
  *    `metaData` (schemaString, no partition columns) so stock readers
  *    accept the table.
  */
object DeltaWrite {

  private[sources] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def versionOf(f: File): Long = f.getName.stripSuffix(".json").toLong

  private def commitFiles(logDir: File): Array[File] =
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("""\d{20}\.json"""))

  /** Write `df`'s rows as parquet under the table root (staged then moved
    * to uuid names), returning the published-in-root file names.
    */
  private def stageDataFiles(df: DataFrame, root: File): Seq[File] = {
    val staging = new File(root, s".graft-stage-${java.util.UUID.randomUUID}")
    df.write.parquet(staging.getPath)
    val parts = Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val moved = parts.map { f =>
      val dst = new File(root, s"part-${java.util.UUID.randomUUID}.parquet")
      Files.move(f.toPath, dst.toPath)
      dst
    }.toSeq
    Option(staging.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(staging.toPath)
    require(moved.nonEmpty, s"no data files produced for ${root.getPath}")
    moved
  }

  /** Publish `actions` as commit `version`, atomically. Throws
    * [[ConcurrentCommitException]] if that version was committed
    * concurrently.
    *
    * THE COMMIT PROTOCOL of every Delta op: a commit claims the version
    * after the one it read, or it fails. An op that reads the log
    * (merge, delete, overwrite, optimize, restore, metadata changes)
    * captures `base` = [[DeltaLog.headVersion]] BEFORE it reads the
    * snapshot and publishes once at `base + 1` — a commit landing after
    * the capture makes that claim fail fast, because rebasing the stale
    * read set would resurrect or double rows; a no-op returns `base`.
    * Only blind appends retry, through [[publishWithRetry]].
    */
  private[graft] def publish(logDir: File, version: Long,
      actions: Seq[String]): Unit =
    publishStreamed(logDir, version, actions, Seq.empty, Seq.empty)

  private def headerActions(df: DataFrame,
      partitionCols: Seq[String] = Seq.empty): Seq[String] =
    headerActions(df.schema, partitionCols)

  private def headerActions(schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): Seq[String] = Seq(
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
    s"""{"metaData":{"id":"${java.util.UUID.randomUUID}",""" +
      """"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${jsonEscape(schema.json)}",""" +
      s""""partitionColumns":[${partitionCols.map(c =>
        "\"" + jsonEscape(c) + "\"").mkString(",")}],"configuration":{}}}""")

  /** Per-file column statistics for the add action's `stats` field, in
    * Delta's format ({"numRecords":N,"minValues":{..},"maxValues":{..},
    * "nullCount":{..}}), computed from the parquet FOOTER of the file
    * just written — no data re-read. Restricted to int/long/float/double/
    * string top-level columns (the exactly-JSON-renderable subset; real
    * Delta also renders timestamps as ISO strings and truncates long
    * strings — both omitted here, which only ever makes pruning less
    * aggressive, never wrong). None when any such column lacks
    * trustworthy footer stats (NaN floats, pre-PARQUET-251 binary): a
    * stats-less add is always scanned.
    */
  private def fileStats(conf: Configuration, f: File,
      schema: org.apache.spark.sql.types.StructType): Option[String] = {
    import org.apache.spark.sql.types._
    val cols = schema.fields.filter(_.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType => true
      case _ => false
    }).map(_.name).toSeq
    if (cols.isEmpty) return None
    Tables.footer(conf, f.getPath)(FooterStats.readOne(_, cols)).map { case (rows, per) =>
      def render(v: Any): String = v match {
        case b: Array[Byte] =>
          "\"" + jsonEscape(new String(b, StandardCharsets.UTF_8)) + "\""
        case other => other.toString
      }
      def side(pick: ((Option[Any], Option[Any])) => Option[Any]): String =
        cols.zip(per).flatMap { case (n, mm) =>
          pick(mm).map(v => s""""${jsonEscape(n)}":${render(v)}""")
        }.mkString("{", ",", "}")
      s"""{"numRecords":$rows,"minValues":${side(_._1)}""" +
        s""","maxValues":${side(_._2)},"nullCount":{}}"""
    }
  }

  /** The `add` action of a file just written in the table root, with
    * its partition tuple and footer stats over `schema`'s columns.
    */
  private def addAction(conf: Configuration, f: File,
      schema: org.apache.spark.sql.types.StructType,
      pv: Map[String, String] = Map.empty, dataChange: Boolean = true): String =
    s"""{"add":{"path":"${jsonEscape(f.getName)}",""" +
      s""""partitionValues":${pvJson(pv)},""" +
      s""""size":${f.length},"modificationTime":${f.lastModified},""" +
      fileStats(conf, f, schema).fold("")(s => s""""stats":"${jsonEscape(s)}",""") +
      s""""dataChange":$dataChange}}"""

  /** The append retry loop. Appends' DATA can never conflict (real
    * Delta's conflict matrix allows concurrent appends; only the VERSION
    * NUMBER is contended), so each attempt claims head + 1 and a lost
    * claim re-runs through [[ConcurrentCommitException.retry]]. Before
    * each claim `attempt(version)` returns the actions to claim it with
    * — the version-0 header appears exactly when this writer creates the
    * table — or None to veto the commit. Versions are dense, so every
    * commit below `version` exists when `attempt` runs, and a successful
    * claim proves none slipped between its checks and the claim: the
    * caller re-validates there when a metaData/protocol commit landed
    * ([[revalidateOnMetadataChange]]; real Delta fails appends across
    * those with MetadataChangedException rather than commit a batch the
    * new metadata never screened) and re-reads its txn record.
    */
  private def publishWithRetry(logDir: File)(
      attempt: Long => Option[Seq[String]]): Option[Long] =
    ConcurrentCommitException.retry {
      val version = DeltaLog.headVersion(logDir) + 1
      attempt(version).map { actions =>
        publish(logDir, version, actions)
        version
      }
    }

  /** True iff any committed version in (`after`, `until`) carries a
    * metaData or protocol action — the signal that an append's
    * constraint/schema validation is stale and must re-run against the
    * new table metadata before re-claiming (real Delta's
    * MetadataChangedException conflict class).
    */
  private def metadataChangedBetween(logDir: File, after: Long,
      until: Long): Boolean =
    commitFiles(logDir).exists { f =>
      val v = versionOf(f)
      v > after && v < until && {
        val txt =
          new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        txt.contains("\"metaData\"") || txt.contains("\"protocol\"")
      }
    }

  /** A `preClaim` hook re-running CHECK-constraint validation whenever a
    * metaData/protocol commit landed after `validatedAt` (the head
    * version observed BEFORE the caller's initial validation — captured
    * first so a constraint commit racing the initial check still
    * triggers a re-check). Shared by the append family.
    */
  private def revalidateOnMetadataChange(logDir: File, tablePath: String,
      df: DataFrame, op: String, validatedAt: Long): Long => Unit = {
    var validatedThrough = validatedAt
    version => {
      if (metadataChangedBetween(logDir, validatedThrough, version)) {
        requireSatisfiesConstraints(df.sparkSession, tablePath, df, op)
        validatedThrough = version - 1
      }
    }
  }

  /** Seam for the cross-format mirror ([[Uniform.icebergToDelta]]): the
    * version-0 header, without exposing the internals more widely.
    */
  private[sources] def mirrorHeader(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    headerActions(schema, Seq.empty)

  /** Test seam: runs between an append's initial constraint validation
    * and its version claim, where a concurrent writer's metaData commit
    * can land — lets the spec stage that race deterministically instead
    * of hoping threads interleave.
    */
  private[graft] var onAppendRaceWindow: () => Unit = () => ()

  /** Stage-time translation for column-mapped tables: data files must
    * carry PHYSICAL column names (and, in id mode, parquet footer field
    * ids), so an appended batch — authored against the logical schema —
    * is renamed field-for-field before it is written. Returns the frame
    * to stage plus the physical schema its footers will carry (the shape
    * [[fileStats]] must read). Unmapped tables pass through untouched.
    * NAME mode renames every nesting level via a positional cast; ID
    * mode additionally stamps `parquet.field.id` from each column's
    * `delta.columnMapping.id` and keeps to top-level non-nested columns
    * (metadata cannot ride a cast into nested fields — refuse rather
    * than write footers an id-resolving reader cannot match).
    */
  private def physicalizeForStage(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      df: DataFrame,
      passthrough: Seq[String] = Seq.empty,
      logicalOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : (DataFrame, org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val logDir = new File(tablePath, "_delta_log")
    if (DeltaLog.headVersion(logDir) < 0L) return (df, df.schema)
    val meta = DeltaLog.tableMetaData(spark, tablePath)
    val mode = DeltaLog.mappingMode(meta)
    if (mode == "none") return (df, df.schema)
    // `passthrough` columns (e.g. a cdc staging's _change_type) ride
    // the physicalized frame untouched, after the mapped fields.
    // `logicalOverride` lets a schema-evolving commit stage under the
    // schema it is ABOUT to publish (the log still holds the old one).
    val passCols = passthrough.map(c => col(s"`$c`"))
    val logical = logicalOverride.getOrElse(
      DeltaLog.metaSchema(spark, tablePath).getOrElse(
        throw new IllegalArgumentException(
          s"column-mapped table without a parseable schemaString: " +
            tablePath)))
    val missing = logical.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"mapped append to $tablePath lacks column(s): ${missing.mkString(",")}")
    val physical = DeltaLog.physicalize(logical).asInstanceOf[StructType]
    val staged = mode match {
      case "name" =>
        df.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
          col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
        }.toSeq ++ passCols: _*)
      case "id" =>
        def nested(dt: DataType): Boolean = dt match {
          case _: StructType => true
          case ArrayType(et, _) => nested(et)
          case MapType(k, v, _) => nested(k) || nested(v)
          case _ => false
        }
        logical.fields.foreach { f =>
          require(!nested(f.dataType),
            s"id-mode mapped append to $tablePath: nested column " +
              s"'${f.name}' is not supported (nested parquet field ids " +
              "cannot be attached at stage time — write through an " +
              "id-mode writer)")
          require(f.metadata.contains(DeltaLog.FieldIdKey),
            s"id-mode table $tablePath: column '${f.name}' lacks " +
              s"${DeltaLog.FieldIdKey}")
        }
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        df.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
          val md = new MetadataBuilder()
            .putLong(DeltaLog.ParquetFieldIdKey,
              lf.metadata.getLong(DeltaLog.FieldIdKey)).build()
          col(s"`${lf.name}`").cast(pf.dataType).as(pf.name, md)
        }.toSeq ++ passCols: _*)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported delta.columnMapping.mode '$other' in $tablePath")
    }
    (staged, physical)
  }

  /** PHYSICAL partition column names for staging a partitioned write:
    * identical to the logical names on unmapped tables; translated
    * through the mapping otherwise (hive dirs and add.partitionValues
    * are keyed physical per the protocol).
    */
  private def physPartitionCols(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, partitionCols: Seq[String]): Seq[String] = {
    val byLogical = DeltaLog.physByLogical(spark, tablePath)
    partitionCols.map(c => byLogical.getOrElse(c, c))
  }

  /** Hive/Spark path escaping encodes special characters as %XX but does
    * NOT encode '+' or space — URLDecoder would corrupt a literal '+'
    * into a space. Decode only the %XX escapes.
    */
  private def hivePathDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Stage `stagedDf` PARTITIONED by `physParts` (hive layout) and move
    * the part files under the table root's `col=value/` directories,
    * returning each published file with the partition tuple its staging
    * path encoded. One distributed write job regardless of partition
    * count — the shared staging seam of every partitioned writer here
    * (append, create, and the copy-on-write rewrites). Spark writes a
    * NULL partition value as the __HIVE_DEFAULT_PARTITION__ sentinel
    * directory — recorded as a true null partitionValue (the protocol
    * renders it as JSON null), never as the literal string.
    */
  private def stagePartitionedFiles(stagedDf: DataFrame, root: File,
      physParts: Seq[String]): Seq[(File, Map[String, String])] = {
    val staging = new File(root, s".graft-stage-${java.util.UUID.randomUUID}")
    stagedDf.write.partitionBy(physParts: _*).parquet(staging.getPath)
    def walk(dir: File, pv: Map[String, String])
        : Seq[(File, Map[String, String])] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName.contains("=") =>
          val Array(k, raw) = d.getName.split("=", 2)
          val value =
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else hivePathDecode(raw)
          walk(d, pv + (hivePathDecode(k) -> value))
        case f if f.isFile && f.getName.endsWith(".parquet") => Seq(f -> pv)
        case _ => Seq.empty
      }
    val staged = walk(staging, Map.empty)
    val moved = staged.map { case (f, pv) =>
      val dir = new File(root, physParts.map { c =>
        val seg = pv(c) match {
          case null => "__HIVE_DEFAULT_PARTITION__"
          case v => java.net.URLEncoder.encode(v, "UTF-8")
        }
        s"$c=$seg"
      }.mkString("/"))
      dir.mkdirs()
      val dst = new File(dir, s"part-${java.util.UUID.randomUUID}.parquet")
      Files.move(f.toPath, dst.toPath)
      (dst, pv)
    }
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      Files.deleteIfExists(f.toPath); ()
    }
    rmTree(staging)
    moved
  }

  /** One partitioned `add` action: root-relative URL-encoded path (each
    * hive segment encoded so an escaped dir name round-trips), the
    * partition tuple, and footer stats over the DATA columns (partition
    * values live in the path/log, never the footers).
    */
  private def partitionedAddAction(conf: Configuration, root: File, f: File,
      pv: Map[String, String],
      dataSchema: org.apache.spark.sql.types.StructType,
      dataChange: Boolean): String = {
    val rel = relPath(root, f.getPath).split("/")
      .map(seg => java.net.URLEncoder.encode(seg, "UTF-8")).mkString("/")
    s"""{"add":{"path":"${jsonEscape(rel)}",""" +
      s""""partitionValues":${pvJson(pv)},"size":${f.length},""" +
      s""""modificationTime":${f.lastModified},""" +
      fileStats(conf, f, dataSchema).fold("")(st =>
        s""""stats":"${jsonEscape(st)}",""") +
      s""""dataChange":$dataChange}}"""
  }

  /** A remove action carrying the file's partition tuple (the protocol's
    * extended file metadata — `extendedFileMetadata:true` with
    * partitionValues and size, per spec) — what lets a change-data-feed
    * derivation re-attach partition values to a removed file without
    * re-resolving the dead add action.
    */
  private def removeAction(a: DeltaLog.LiveFile,
      dataChange: Boolean = true): String =
    s"""{"remove":{"path":"${jsonEscape(a.recordedPath)}",""" +
      (if (a.partitionValues.nonEmpty)
        s""""extendedFileMetadata":true,""" +
          s""""partitionValues":${pvJson(a.partitionValues)},""" +
          s""""size":${new File(a.path).length},"""
      else "") +
      s""""dataChange":$dataChange}}"""

  /** The current metaData's configuration map serialized as a JSON
    * fragment — shared by commits that must RE-EMIT table metadata
    * (schema evolution) without dropping table properties like
    * delta.enableChangeDataFeed or the column-mapping configuration.
    */
  private def configJsonOf(meta: Option[Map[String, Any]],
      overrides: Map[String, String] = Map.empty): String =
    (meta.flatMap(_.get("configuration"))
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty[String, Any])
      .collect { case (k, v: String) => k -> v } ++ overrides)
      .toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
      }.mkString("{", ",", "}")

  /** Restrict a DELETE/match scan's candidate files by the predicate's
    * PARTITION conjuncts — the first pruning lever at 100 TB, answered
    * from log metadata alone. Sound by construction: only top-level AND
    * conjuncts referencing NOTHING but partition columns are evaluated
    * (against one local row per live file, partition values cast to
    * their declared types); a file whose tuple makes such a conjunct
    * false-or-null can contain no row satisfying the full predicate
    * (the conjunct is constant across the file), so pruning it never
    * changes the answer. Predicates with no partition-only conjunct
    * prune nothing, and ANY analysis/replay failure falls back to the
    * full candidate set — pruning may only ever shrink the scan.
    *
    * Mechanics: Spark 4 `Column`s wrap lazy ColumnNodes (no inspectable
    * expression tree until analysis), so the predicate is ANALYZED
    * against a zero-row frame with the table's logical schema; the
    * resolved Filter condition splits into conjuncts, and the
    * partition-only subset replays over the tuple frame via its SQL
    * rendering — the analyzer's own resolution, no Catalyst internals
    * reached into.
    */
  private[sources] def prunePartitionConjuncts(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      adds: Seq[DeltaLog.LiveFile],
      predicate: org.apache.spark.sql.Column): Seq[DeltaLog.LiveFile] = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val partCols = DeltaLog.recordedPartitionColumns(spark, tablePath)
    if (partCols.isEmpty || adds.isEmpty) return adds
    val logical = DeltaLog.metaSchema(spark, tablePath) match {
      case Some(ms) => ms
      case None => return adds // minimal foreign log: no schema to analyze
    }
    val partOnlySql =
      PredicateConjuncts.partitionOnlySql(spark, logical, predicate, partCols)
    if (partOnlySql.isEmpty) return adds
    // pv keys are PHYSICAL names under column mapping; resolve each
    // logical partition column to the key its adds record
    val physOf = DeltaLog.physByLogical(spark, tablePath)
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      logical.fields.map(f => f.name -> f.dataType).toMap
    val schema = StructType(StructField("__graft_path", StringType) +:
      partCols.map(c => StructField(c, StringType)))
    val rows = adds.map(a => org.apache.spark.sql.Row.fromSeq(
      a.path +: partCols.map(c =>
        a.partitionValues.get(physOf.getOrElse(c, c)).orNull)))
    try {
      val filterCol = partOnlySql.map(expr).reduce(_ && _)
      val local = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      val typed = partCols.foldLeft(local)((d, c) =>
        declared.get(c).fold(d)(dt =>
          d.withColumn(c, col(s"`$c`").cast(dt))))
      val kept = typed.filter(filterCol)
        .select(col("__graft_path")).collect().map(_.getString(0)).toSet
      adds.filter(a => kept.contains(a.path))
    } catch { case scala.util.control.NonFatal(_) => adds }
  }

  /** APPEND `df` as one atomic commit; returns the committed version. */
  def append(df: DataFrame, tablePath: String): Long =
    appendCommit(df, tablePath, Seq.empty, None).get // no txn: no veto

  /** The append family's one body ([[append]], [[appendPartitioned]],
    * [[appendIdempotent]]): screen the batch, stage its files, then
    * commit through [[publishWithRetry]]. With `txn` = (appId, epoch)
    * the commit carries Delta's transaction identifier, and each attempt
    * re-reads the txn table AFTER choosing its version: the commit this
    * writer lost to may be another worker retrying the SAME epoch, so a
    * recorded epoch vetoes the commit (staged files deleted, None)
    * instead of doubling the batch.
    */
  private def appendCommit(df: DataFrame, tablePath: String,
      partitionCols: Seq[String], txn: Option[(String, Long)]): Option[Long] = {
    val spark = df.sparkSession
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    logDir.mkdirs()
    val op =
      if (txn.isDefined) "idempotent append"
      else if (partitionCols.nonEmpty) "partitioned append"
      else "append"
    val validatedAt = DeltaLog.headVersion(logDir)
    requireSatisfiesConstraints(spark, tablePath, df, op)
    requirePartitioningMatches(spark, tablePath, partitionCols)
    onAppendRaceWindow()
    val revalidate =
      revalidateOnMetadataChange(logDir, tablePath, df, op, validatedAt)
    // COLUMN-MAPPED tables append first-class: the batch is authored
    // against the LOGICAL schema, staged under PHYSICAL column names
    // (id-stamped footers in id mode), and partitioned batches land in
    // PHYSICAL hive dirs — the pv keys every mapped add records
    val (stage, physSchema) = physicalizeForStage(spark, tablePath, df)
    val (files, adds) =
      stageAdds(spark, tablePath, root, stage, physSchema, partitionCols)
    // an idempotent epoch may be empty: its txn record still lands
    require(files.nonEmpty || txn.isDefined,
      s"no data files produced for $tablePath")
    val txnAction = txn.map { case (appId, epoch) =>
      s"""{"txn":{"appId":"${jsonEscape(appId)}","version":$epoch}}"""
    }
    val commitInfo =
      if (txn.isDefined)
        """{"commitInfo":{"operation":"STREAMING UPDATE","operationParameters":{}}}"""
      else
        """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Append"}}}"""
    publishWithRetry(logDir) { version =>
      if (txn.exists { case (appId, epoch) =>
          DeltaLog.latestTxnVersions(tablePath).get(appId).exists(_ >= epoch)
        }) {
        files.foreach(f => Files.deleteIfExists(f.toPath))
        None
      } else {
        revalidate(version)
        val header =
          if (version == 0L) headerActions(df, partitionCols) else Seq.empty
        Some(header ++ txnAction ++ adds :+ commitInfo)
      }
    }
  }

  /** Stage `staged` as data files under the table root — flat, or in
    * hive `col=value/` dirs when `partCols` is non-empty — and render
    * their add actions with footer stats over the DATA columns of
    * `statsSchema` (partition values live in the log, not the footers).
    * The shared landing step of every writer that adds rows.
    */
  private def stageAdds(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, root: File, staged: DataFrame,
      statsSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): (Seq[File], Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    if (partCols.isEmpty) {
      val fs = stageDataFiles(staged, root)
      (fs, fs.map(addAction(conf, _, statsSchema)))
    } else {
      val physParts = physPartitionCols(spark, tablePath, partCols)
      val moved = stagePartitionedFiles(staged, root, physParts)
      val dataSchema = org.apache.spark.sql.types.StructType(
        statsSchema.fields.filterNot(f => physParts.contains(f.name)))
      (moved.map(_._1), moved.map { case (f, pv) =>
        partitionedAddAction(conf, root, f, pv, dataSchema, dataChange = true)
      })
    }
  }

  /** Outcome of a [[merge]] commit. */
  final case class MergeStats(version: Long, filesRewritten: Int,
      filesAdded: Int, rowsUpdated: Long, rowsInserted: Long)

  /** MERGE (upsert) into a Delta table: source rows whose `keys` match an
    * existing row REPLACE it (update-all-columns), the rest are inserted —
    * one atomic commit, copy-on-write at FILE granularity like real Delta:
    *
    *  - touched files = live files containing at least one matched key,
    *    found by a broadcast semi-join of the (small, incremental-batch)
    *    source keys against the target scan — the full table is read once,
    *    but only for key columns + the file-path metadata column;
    *  - ONLY touched files are rewritten (their unmatched survivors union
    *    the full source); untouched files keep their physical identity, so
    *    a merge against a clustered layout (x06/x10) rewrites the few
    *    files whose key range overlaps the batch, not the table;
    *  - the commit removes touched files and adds the rewritten ones via
    *    the same atomic version claim as append/overwrite — readers see
    *    the pre- or post-merge snapshot, never a mix.
    *
    * Refuses ambiguous sources (two source rows matching one target key),
    * the same error real Delta raises. Source must carry exactly the
    * target's columns (any order).
    *
    * `matchCondition` is real Delta's extra ON predicate
    * (`ON keys AND pred`, the `whenMatched(condition)` family): a
    * predicate over TARGET columns that NARROWS the match. A target row
    * failing it is not matched — it survives as-is even when its key
    * appears in the batch — and a source row whose key reaches only
    * condition-false target rows is unmatched and inserts. Because the
    * condition is part of the match itself, its partition conjuncts
    * prune the candidate-file set from log metadata BEFORE any data
    * file opens ([[prunePartitionConjuncts]]) — "merge today's batch
    * into the last 7 days' partitions" opens only those partitions'
    * files, the canonical incremental-upsert shape at 100 TB. NULL
    * evaluates as no-match (SQL join semantics).
    */
  def merge(tablePath: String, source: DataFrame,
      keys: Seq[String], mergeSchema: Boolean = false,
      matchCondition: Option[org.apache.spark.sql.Column] = None)
      : MergeStats = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val spark = source.sparkSession
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val t = mergeTarget(spark, tablePath, source)
    val (meta, mapMode, partCols) = (t.meta, t.mapMode, t.partCols)
    val cols = t.schema.fieldNames.toSeq
    // SCHEMA EVOLUTION (`mergeSchema`, real Delta's autoMerge): source
    // columns beyond the table's schema widen it — the commit carries a
    // new metaData action with the merged schema (partitioning and table
    // configuration preserved), touched files rewrite in it, and
    // UNTOUCHED files stay physically old (readers NULL-fill through the
    // metaData schema; no O(table) rewrite for a new column). On a
    // MAPPED table each new column also gets a fresh mapping entry
    // (maxColumnId+1, its own physical name / field id) in the same
    // metaData commit. Source must still cover every existing column;
    // dropping or retyping columns is not evolution and stays refused.
    val newCols = source.columns.filterNot(cols.contains).toSeq
    require(newCols.isEmpty || mergeSchema,
      s"source columns ${newCols.mkString(",")} are not in the table " +
        s"schema ${cols.mkString(",")} — pass mergeSchema=true to evolve")
    require(cols.forall(source.columns.contains),
      s"source columns ${source.columns.mkString(",")} must cover table " +
        s"columns ${cols.mkString(",")}")
    val allCols = cols ++ newCols
    // fresh mapping entries for an evolving MAPPED merge: ids continue
    // past the recorded maxColumnId, physical names follow the col-<id>
    // convention, and the SAME metaData commit bumps the counter — a
    // reused id would silently cross-resolve two columns in id mode
    val evolvedLogical: Option[StructType] =
      if (newCols.isEmpty || mapMode == "none") None
      else {
        val oldLogical = DeltaLog.metaSchema(spark, tablePath).getOrElse(
          throw new IllegalArgumentException(
            s"column-mapped table without a parseable schemaString: " +
              tablePath))
        val maxId = math.max(
          meta.flatMap(_.get("configuration"))
            .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
            .flatMap(_.get("delta.columnMapping.maxColumnId"))
            .collect { case s: String => s.toLong }.getOrElse(0L),
          oldLogical.fields.map(f =>
            if (f.metadata.contains(DeltaLog.FieldIdKey))
              f.metadata.getLong(DeltaLog.FieldIdKey) else 0L).max)
        val fresh = newCols.zipWithIndex.map { case (c, i) =>
          val id = maxId + i + 1
          StructField(c, source.schema(c).dataType, nullable = true,
            new MetadataBuilder()
              .putString(DeltaLog.PhysNameKey, s"col-$id")
              .putLong(DeltaLog.FieldIdKey, id).build())
        }
        Some(StructType(oldLogical.fields ++ fresh))
      }
    val batch = MergeBatch(source, t.schema, keys) match {
      case Some(b) => b
      case None => return MergeStats(t.base, 0, 0, 0L, 0L)
    }
    val (src, srcKeys) = (batch.rows, batch.keys)
    val m = matchScan(spark, tablePath, t, batch, keys, matchCondition)
    val condT = m.flatMap(_.condition)
    // only condition-true matches make a file touched — a file whose key
    // hits are all condition-false keeps its physical identity
    val st = MergeBatch.stats(m.map(_.rows), "__graft_dv_file", keys)
    // resolution back to the log keys on the QUALIFIED URI — basenames
    // collide across partition dirs on CONVERT-adopted tables
    val byPath = DeltaLog.byQualifiedPath(spark, t.adds)
    val touchedAdds: Seq[DeltaLog.LiveFile] =
      st.files.map(uri => byPath.getOrElse(DeltaLog.canonicalScanPath(uri),
        throw new IllegalStateException(s"touched file not in live set: $uri")))
    // decode touched files through the snapshot reader (DVs applied,
    // typed pv injected) and NULL-fill evolving columns so
    // pre-evolution survivors rewrite under the merged schema
    val touchedRows =
      if (touchedAdds.isEmpty) None
      else Some(newCols.foldLeft(
        DeltaLog.readLivePaths(spark, tablePath, touchedAdds.map(_.path)))(
        (d, c) => d.withColumn(c, lit(null).cast(source.schema(c).dataType))))
    val (survivors, matchedRows) = touchedRows match {
      case None => (None, None)
      case Some(tr) =>
        val surv = condT match {
          case None => tr.join(broadcast(srcKeys), keys, "leftanti")
          // condition-false rows survive AS-IS even under a matching
          // key; only condition-true matches are replaced by the batch.
          // ONE pass over the touched files: a left-outer match marker
          // plus the (already NULL-coalesced) condition filter, never a
          // two-branch union that reads each touched parquet twice
          case Some(ct) => tr.join(
              broadcast(srcKeys.withColumn("__graft_m", lit(1))),
              keys, "left_outer")
            .filter(col("__graft_m").isNull || !ct).drop("__graft_m")
        }
        val matched = condT.fold(tr)(tr.filter(_))
          .join(broadcast(srcKeys), keys, "leftsemi")
        (Some(surv), Some(matched))
    }
    // duplicate-key targets (two appends of the same key; nothing
    // forbids them) show in the match aggregate: more rows than keys
    val dupTargets = st.rows != st.keys
    // real MERGE updates EVERY matched target row. When every matched
    // key has exactly one target row (the common case), the batch
    // itself IS updated-rows ∪ inserts and unions in directly — no
    // extra pass over the touched files (the conditional-merge
    // records-read pin holds). A duplicate-key target keeps its
    // multiplicity on the general path: one output row PER TARGET ROW,
    // values joined from the (unique-keyed) source, never a collapse to
    // one row with the rest silently lost.
    val updatedRows: Option[DataFrame] =
      if (!dupTargets) None
      else matchedRows.map(m =>
        m.select(keys.map(c => col(s"`$c`")): _*)
          .join(broadcast(src), keys, "inner")
          .select(allCols.map(c => col(s"`$c`")): _*))
    val batchLanding = updatedRows.fold(src)(_.unionByName(src.join(
      broadcast(matchedRows.get.select(keys.map(c => col(s"`$c`")): _*)
        .distinct()), keys, "leftanti")))
    val out = survivors.fold(batchLanding)(_.unionByName(batchLanding))
    val cdcActions = stageMergeCdc(spark, tablePath, root, mapMode, src,
      keys, matchedRows, updatedRows, evolvedLogical)
    // mapped rewrites stage physical-named (id-stamped) files, exactly
    // like a mapped append; stats key on the physical schema.
    // PARTITIONED rewrites stage hive-laid-out via ONE distributed
    // partitionBy write for all touched groups; each fresh add carries
    // its tuple (an update that moves a row between partitions lands in
    // its new tuple naturally).
    val (outStaged, outStatsSchema) =
      if (mapMode == "none") (out, out.schema)
      else physicalizeForStage(spark, tablePath, out,
        logicalOverride = evolvedLogical)
    val (files, addActions) =
      stageAdds(spark, tablePath, root, outStaged, outStatsSchema, partCols)
    val version = t.base + 1
    val removes = touchedAdds.map(removeAction(_))
    // an evolving merge commits a NEW metaData action with the merged
    // schema — table id, partitioning, and configuration all carry
    // forward (dropping configuration here would silently disable CDF
    // or the column mapping); only the schemaString (and, mapped, the
    // maxColumnId counter) advances
    val metaAction =
      if (newCols.isEmpty) Seq.empty
      else {
        val tableId = meta.flatMap(_.get("id"))
          .collect { case s: String => s }
          .getOrElse(java.util.UUID.randomUUID.toString)
        val evolvedJson = evolvedLogical.map(_.json).getOrElse(
          DeltaLog.metaSchema(spark, tablePath) match {
            case Some(ms) => StructType(ms.fields ++
              newCols.map(c => StructField(c, source.schema(c).dataType)))
              .json
            // foreign minimal log without a metaData action: the staged
            // output's own schema is the only full-width source of truth
            case None => out.schema.json
          })
        val cfgOverrides = evolvedLogical.map { ev =>
          Map("delta.columnMapping.maxColumnId" ->
            ev.fields.map(f =>
              if (f.metadata.contains(DeltaLog.FieldIdKey))
                f.metadata.getLong(DeltaLog.FieldIdKey) else 0L)
              .max.toString)
        }.getOrElse(Map.empty[String, String])
        Seq(metaDataActionJson(tableId, evolvedJson, partCols,
          configJsonOf(meta, cfgOverrides)))
      }
    publish(logDir, version,
      metaAction ++ removes ++ addActions ++ cdcActions :+
      """{"commitInfo":{"operation":"MERGE","operationParameters":{}}}""")
    MergeStats(version, touchedAdds.size, files.size, st.rows,
      batch.count - st.keys)
  }

  /** MERGE-ON-READ MERGE (deletion-vector write mode) — the Delta twin
    * of [[IcebergLog.mergeMoR]] and the production shape for frequent
    * small upserts into wide files: matched target rows die via DV
    * bitmaps on their files (remove + re-add of the SAME path and bytes,
    * [[stageDvKills]]) and the batch appends as fresh data files — the
    * commit writes O(batch + bitmap bytes), never O(touched files),
    * where the CoW [[merge]] rewrites every touched file. Untouched AND
    * touched data files keep their physical identity; reads apply the
    * bitmaps like any MoR delete; [[purgeDeletionVectors]] folds the
    * debt back into clean files.
    *
    * The batch check, candidate pruning and match scan are the CoW
    * verb's ([[MergeBatch]], [[matchScan]]); the scan applies EXISTING
    * DVs first, so a MoR-dead row re-inserts, never resurrects, and a
    * second DV merge on the same file UNIONs bitmaps. DUPLICATE-KEY
    * targets refuse loudly — kill-and-insert would collapse their multiplicity
    * where the CoW verb preserves it; schema evolution (`mergeSchema`)
    * stays a CoW-merge feature, matching the Iceberg twin. CDF publishes
    * the SAME update_preimage/update_postimage/insert rows as the CoW
    * merge — the feed cannot tell the write modes apart (the shape real
    * Delta's DV-backed MERGE emits), which is what lets a downstream CDC
    * consumer survive a sink switching write modes mid-stream.
    */
  def mergeDv(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      source: DataFrame, keys: Seq[String],
      matchCondition: Option[org.apache.spark.sql.Column] = None,
      maxDvCollectBytes: Long = 256L << 20): MergeStats = {
    import org.apache.spark.sql.functions.col
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val t = mergeTarget(spark, tablePath, source)
    val cols = t.schema.fieldNames.toSeq
    require(cols.forall(source.columns.contains) &&
        source.columns.forall(cols.contains),
      s"merge source columns ${source.columns.mkString(",")} must match " +
        s"table columns ${cols.mkString(",")} — schema evolution " +
        "(mergeSchema) is a CoW-merge feature")
    val batch = MergeBatch(source, t.schema, keys) match {
      case Some(b) => b
      case None => return MergeStats(t.base, 0, 0, 0L, 0L)
    }
    // matched rows, persisted ONCE and reused for the match aggregate,
    // the DV kill stage, and the CDF preimages — incremental-batch
    // sized (bounded by the match count), never re-reading the candidate
    // parquet three times
    val matched = matchScan(spark, tablePath, t, batch, keys, matchCondition)
      .map(_.rows.persist())
    try {
      val st = MergeBatch.stats(matched, "__graft_dv_file", keys)
      require(st.rows == st.keys,
        s"DV merge matched ${st.rows} target rows over ${st.keys} keys — " +
          "duplicate-key targets would lose multiplicity under " +
          "kill-and-insert; use the CoW merge (it preserves them)")
      val touched = matched.fold(
        Seq.empty[(DeltaLog.LiveFile, Long, Long, Option[DeltaDv.Descriptor])])(
        m => stageDvKills(spark, root,
          m.select(col("__graft_dv_file").as("__f"),
            col("__graft_dv_pos").as("__i")),
          DeltaLog.byQualifiedPath(spark, t.adds), maxDvCollectBytes))
      // the WHOLE batch lands as fresh files (updates + inserts — no
      // duplicate-key targets, so the batch IS updated-rows ∪ inserts)
      val (outStaged, outStatsSchema) =
        if (t.mapMode == "none") (batch.rows, batch.rows.schema)
        else physicalizeForStage(spark, tablePath, batch.rows)
      val (files, addActions) = stageAdds(spark, tablePath, root, outStaged,
        outStatsSchema, t.partCols)
      val cdcActions = stageMergeCdc(spark, tablePath, root, t.mapMode,
        batch.rows, keys,
        matched.map(_.drop("__graft_dv_file", "__graft_dv_pos")), None)
      val protoAction =
        if (touched.isEmpty) Seq.empty
        else dvProtocolAction(tablePath, t.mapMode != "none")
      val version = t.base + 1
      publish(logDir, version,
        protoAction ++ dvKillActions(touched) ++ addActions ++ cdcActions :+
        """{"commitInfo":{"operation":"MERGE","operationParameters":{"mode":"merge-on-read"}}}""")
      MergeStats(version, 0, files.size, st.rows, batch.count - st.keys)
    } finally matched.foreach { m => m.unpersist(); () }
  }

  /** What a merge reads of the table before it touches the batch: the
    * version it read (the commit claims the next one), the live files,
    * the metaData action and its mapping mode and partition columns, and
    * the logical snapshot schema — decoded exactly like the snapshot
    * reader (metaData schema, mapping resolved), schema-only: no job.
    */
  private final case class MergeTarget(base: Long,
      adds: Seq[DeltaLog.LiveFile], meta: Option[Map[String, Any]],
      mapMode: String, partCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType)

  /** Both merge verbs' read of the table; the batch must satisfy the
    * table's CHECK constraints before anything is staged.
    */
  private def mergeTarget(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, source: DataFrame): MergeTarget = {
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath)
    val partCols = DeltaLog.recordedPartitionColumns(spark, tablePath)
    requireSatisfiesConstraints(spark, tablePath, source, "merge")
    MergeTarget(base, adds, meta, DeltaLog.mappingMode(meta), partCols,
      DeltaLog.readLivePaths(spark, tablePath, adds.map(_.path)).schema)
  }

  /** The match step both merge verbs share. Candidate files prune from
    * log metadata before any data file opens: first by the match
    * condition's partition conjuncts ([[prunePartitionConjuncts]]; a file
    * whose tuple fails them holds no matched row — "merge today's batch
    * into the last 7 days' partitions" opens only those partitions), then
    * by the batch's values of every join key that is a partition column
    * ([[MergeBatch.keyValues]], compared through the same TYPED
    * evaluation: the log's string rendering of a tuple, "05" or "5.0",
    * is never string-compared against the batch's). The candidates then
    * read through the snapshot decoder with each row's PHYSICAL file and
    * position (`__graft_dv_file`, `__graft_dv_pos`) captured before any
    * projection or join — live DVs applied, so a MoR-deleted row is no
    * match and re-inserts instead of resurrecting; typed partition
    * columns injected, so keys and the condition may name them — and
    * semi-join against the batch keys under the condition. No
    * candidates, no scan.
    */
  private def matchScan(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, t: MergeTarget, batch: MergeBatch.Batch,
      keys: Seq[String], matchCondition: Option[org.apache.spark.sql.Column])
      : Option[MergeBatch.Matched] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val condPruned = matchCondition.fold(t.adds)(c =>
      prunePartitionConjuncts(spark, tablePath, t.adds, c))
    val candidates = keys.filter(t.partCols.contains)
      .foldLeft(condPruned) { (as, k) =>
        if (as.isEmpty) as
        else MergeBatch.keyValues(batch, k) match {
          case None => as
          case Some(vals) if vals.isEmpty => Seq.empty
          case Some(vals) => prunePartitionConjuncts(spark, tablePath, as,
            col(s"`$k`").isin(vals: _*))
        }
      }
    if (candidates.isEmpty) None
    else {
      val cond = matchCondition.map(coalesce(_, lit(false)))
      val scan = DeltaLog.readWithRowIdentity(spark, tablePath,
        Some(candidates.map(_.path).toSet))
      Some(MergeBatch.Matched(cond.fold(scan)(scan.filter(_))
        .join(broadcast(batch.keys), keys, "leftsemi"), cond))
    }
  }

  /** Outcome of a [[deleteWhere]] commit. */
  final case class DeleteStats(version: Long, filesRewritten: Int,
      filesAdded: Int, rowsDeleted: Long)

  /** DELETE WHERE: remove the rows matching `predicate` in one atomic
    * commit — [[replaceWhere]] with no batch, through the one
    * copy-on-write body [[rewriteWhere]]. Only files containing at least
    * one matching row are rewritten (as their surviving rows); files
    * with no match keep their physical identity. A fully-deleted file is
    * removed without a replacement; a predicate matching nothing is a
    * no-op (no empty commit).
    */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column): DeleteStats = {
    val st = rewriteWhere(spark, tablePath, predicate, None,
      """{"commitInfo":{"operation":"DELETE","operationParameters":{}}}""")
    DeleteStats(st.version, st.filesRewritten, st.filesAdded, st.rowsDeleted)
  }

  /** Outcome of a [[replaceWhere]] commit. */
  final case class ReplaceStats(version: Long, filesRewritten: Int,
      filesAdded: Int, rowsDeleted: Long, rowsInserted: Long)

  /** REPLACE WHERE — real Delta's selective overwrite
    * (`.option("replaceWhere", …)`): in ONE atomic commit, delete every
    * row matching `predicate` and insert `df` — the backfill verb a
    * partitioned 100 TB corpus lives on (recompute one date/source
    * partition and swap it without touching the rest, and without the
    * delete-then-append window where readers see neither). Every batch
    * row must itself satisfy the predicate (otherwise the "replace"
    * would smuggle rows into untouched ranges) — refused loudly up
    * front. The rewrite itself is [[rewriteWhere]], shared with
    * [[deleteWhere]].
    */
  def replaceWhere(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, predicate: org.apache.spark.sql.Column,
      df: DataFrame): ReplaceStats =
    rewriteWhere(spark, tablePath, predicate, Some(df),
      """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite","predicate":"replaceWhere"}}}""")

  /** The one copy-on-write rewrite behind [[deleteWhere]] (no batch) and
    * [[replaceWhere]], committed with `commitInfo`:
    *
    *  - a batch aligns to the table's logical schema and exact types,
    *    and must lie inside the range; a delete skips both checks;
    *  - the match scan prunes by the predicate's partition conjuncts
    *    from log metadata ([[prunePartitionConjuncts]]) before any data
    *    file opens — a one-partition delete or backfill opens one
    *    partition's files;
    *  - copy-on-write at file granularity: touched files' SURVIVING
    *    rows (predicate false-or-null — SQL DELETE semantics) restage
    *    with the batch; untouched files keep their physical identity;
    *  - live deletion vectors compose: the match scan and the rewrite
    *    both read through the snapshot (DVs applied), and a rewritten
    *    file's fresh add carries no descriptor — the rewrite is the DV's
    *    natural retirement point; column mapping and partitioned layouts
    *    restage like [[merge]];
    *  - the change data feed sees the exact deleted rows plus the batch
    *    as inserts — O(changed rows), never derived from add/removes
    *    (survivors re-add under new uuids).
    *
    * Nothing matched and nothing to insert is a no-op: no commit.
    */
  private def rewriteWhere(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, predicate: org.apache.spark.sql.Column,
      df: Option[DataFrame], commitInfo: String): ReplaceStats = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    val mapMode = DeltaLog.mappingMode(DeltaLog.tableMetaData(spark, tablePath))
    val partCols = DeltaLog.recordedPartitionColumns(spark, tablePath)
    val batch = df.map { d =>
      requireSatisfiesConstraints(spark, tablePath, d, "replaceWhere")
      val target = DeltaLog.readLivePaths(spark, tablePath, adds.map(_.path))
      val cols = target.columns.toSeq
      require(cols.forall(d.columns.contains) &&
          d.columns.forall(cols.contains),
        s"replaceWhere batch columns ${d.columns.mkString(",")} must " +
          s"match table columns ${cols.mkString(",")}")
      val aligned = d.select(cols.map(c =>
        col(s"`$c`").cast(target.schema(c).dataType).as(c)): _*)
      // evaluated on the CASTED batch so the check sees the predicate
      // under the same column types the match scan and the written rows
      // use (a string-typed partition key in the raw batch could pass
      // under one implicit coercion yet land under different semantics
      // after the cast)
      val strays = aligned.filter(!coalesce(predicate, lit(false)))
        .agg(count(lit(1))).head.getLong(0)
      require(strays == 0L,
        s"replaceWhere: $strays batch row(s) do not satisfy the " +
          "predicate — the batch may only replace rows inside the range")
      aligned
    }
    // match scan: snapshot read (existing DVs applied, typed partition
    // columns injected from the log so the predicate may reference
    // them), with physical row identity captured BEFORE the pv join;
    // resolution keys on the QUALIFIED URI — basenames collide across
    // partition dirs on CONVERT-adopted tables
    val candidateAdds = prunePartitionConjuncts(spark, tablePath, adds,
      predicate)
    val touchedAdds: Seq[DeltaLog.LiveFile] =
      if (candidateAdds.isEmpty) Seq.empty
      else {
        val byPath = DeltaLog.byQualifiedPath(spark, adds)
        DeltaLog.readWithRowIdentity(spark, tablePath,
            Some(candidateAdds.map(_.path).toSet))
          .filter(predicate)
          .select(col("__graft_dv_file")).distinct()
          .collect().map(_.getString(0)).toSeq
          .map(uri => byPath.getOrElse(DeltaLog.canonicalScanPath(uri),
            throw new IllegalStateException(
              s"matched file not in live set: $uri")))
      }
    val rowsInserted = batch.fold(0L)(_.count())
    if (touchedAdds.isEmpty && rowsInserted == 0L)
      return ReplaceStats(base, 0, 0, 0L, 0L)
    // decode touched files through the snapshot reader (mapping
    // resolved, DVs applied, typed pv injected)
    val touchedRows =
      if (touchedAdds.isEmpty) None
      else Some(DeltaLog.readLivePaths(spark, tablePath,
        touchedAdds.map(_.path)))
    val rowsDeleted = touchedRows.fold(0L)(_.filter(predicate).count())
    // `!predicate` alone would silently drop NULL-predicate rows
    val survivors = touchedRows.map(_.filter(
      !coalesce(predicate, lit(false))))
    val out = (survivors ++ batch).reduce(_.unionByName(_))
    // mapped rows restage physical-named (id-stamped), partitioned rows
    // hive-laid-out with their tuples; a delete may leave no row at all
    val (outStaged, statsSchema) =
      if (mapMode == "none") (out, out.schema)
      else physicalizeForStage(spark, tablePath, out)
    val (files, addActions) =
      if (out.isEmpty) (Seq.empty[File], Seq.empty[String])
      else stageAdds(spark, tablePath, root, outStaged, statsSchema,
        partCols)
    val cdcActions =
      if (!cdfEnabled(spark, tablePath)) Seq.empty
      else stageCdc(spark, tablePath, root, mapMode,
        (touchedRows.map(_.filter(predicate)
            .withColumn("_change_type", lit("delete"))) ++
          batch.map(_.withColumn("_change_type", lit("insert"))))
          .reduce(_.unionByName(_)))
    val version = base + 1
    publish(logDir, version,
      touchedAdds.map(removeAction(_)) ++ addActions ++ cdcActions :+
        commitInfo)
    ReplaceStats(version, touchedAdds.size, files.size, rowsDeleted,
      rowsInserted)
  }

  // ---- CHANGE DATA FEED ----------------------------------------------
  // The Delta protocol's CDC mechanism: with the
  // `delta.enableChangeDataFeed` table property set, commits that change
  // rows IN PLACE (merge updates, deletes) publish the changed rows as
  // parquet files under `_change_data/`, referenced by `cdc` actions in
  // the same commit. Pure-insert commits (append) and whole-file removes
  // write no change file — readers derive insert/delete rows from the
  // add/remove actions (DeltaLog.tableChanges). dataChange:false commits
  // (optimize, purge) are invisible to the feed by construction.

  /** Is the change data feed enabled on this table? */
  def cdfEnabled(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Boolean =
    DeltaLog.tableMetaData(spark, tablePath)
      .flatMap(_.get("configuration"))
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("delta.enableChangeDataFeed"))
      .collect { case s: String => s }
      .exists(_.equalsIgnoreCase("true"))

  /** Enable the change data feed: ONE metadata-only commit carrying the
    * table's current metaData action plus the
    * `delta.enableChangeDataFeed` property (the `ALTER TABLE SET
    * TBLPROPERTIES` analog). Changes are recorded from the NEXT commit
    * on — exactly real Delta's rule; history before the property is not
    * retroactively readable as a feed. Returns the committed version.
    */
  def enableChangeDataFeed(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Long = {
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cannot enable CDF: no metaData action in the log of $tablePath"))
    // PRESERVE existing configuration keys (dropping, say, a
    // columnMapping mode would corrupt the table) and add the property
    setConfiguration(meta, logDir, base,
      Map("delta.enableChangeDataFeed" -> "true"))
  }

  /** Publish one metadata-only commit whose configuration is the current
    * one plus `set` minus `unset` — the `ALTER TABLE SET/UNSET
    * TBLPROPERTIES` engine shared by CDF enablement and CHECK
    * constraints. All other metaData fields (table id, schema, partition
    * columns) carry forward verbatim. `extraActions` ride the same
    * commit (e.g. a protocol upgrade). Commits at `base + 1`, `base`
    * being the head the caller captured before it read `meta`.
    */
  private def setConfiguration(meta: Map[String, Any], logDir: File,
      base: Long, set: Map[String, String], unset: Set[String] = Set.empty,
      extraActions: Seq[String] = Seq.empty,
      newSchemaJson: Option[String] = None,
      operation: String = "SET TBLPROPERTIES",
      opParams: Map[String, String] = Map.empty,
      newPartitionColumns: Option[Seq[String]] = None): Long = {
    def str(k: String): String = meta.get(k).collect { case s: String => s }
      .getOrElse(throw new IllegalArgumentException(
        s"metaData action lacks required field $k"))
    // partitionColumns carry forward verbatim unless the caller renames
    // one (metaData.partitionColumns record LOGICAL names, which follow
    // a RENAME COLUMN; the add actions' pv keys are physical and never
    // change)
    val partCols = newPartitionColumns.getOrElse(
      meta.get("partitionColumns")
        .collect { case xs: Seq[_] => xs.collect { case s: String => s } }
        .getOrElse(Seq.empty))
    val config = meta.get("configuration")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
      .collect { case (k, v: String) => k -> v } --
      unset ++ set
    val configJson = config.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    val opParamsJson = opParams.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    val version = base + 1
    publish(logDir, version, extraActions ++ Seq(
      metaDataActionJson(str("id"),
        newSchemaJson.getOrElse(str("schemaString")), partCols, configJson),
      s"""{"commitInfo":{"operation":"${jsonEscape(operation)}",""" +
        s""""operationParameters":$opParamsJson}}"""))
    version
  }

  /** Serialize a PARSED metaData map (from [[DeltaLog.tableMetaData]])
    * back into its action JSON, optionally overriding partitionColumns —
    * the building block for commits that must re-emit or restore table
    * metadata (overwrite's unpartition redeclaration, RESTORE's
    * metadata-as-of-target).
    */
  private def serializeMetaAction(meta: Map[String, Any],
      partitionColsOverride: Option[Seq[String]] = None): String = {
    def str(k: String): String = meta.get(k)
      .collect { case s: String => s }
      .getOrElse(throw new IllegalArgumentException(
        s"metaData action lacks required field $k"))
    val partCols = partitionColsOverride.getOrElse(
      meta.get("partitionColumns")
        .collect { case xs: Seq[_] => xs.collect { case s: String => s } }
        .getOrElse(Seq.empty))
    val configJson = meta.get("configuration")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty[String, Any])
      .collect { case (k, v: String) => k -> v }
      .toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
      }.mkString("{", ",", "}")
    metaDataActionJson(str("id"), str("schemaString"), partCols, configJson)
  }

  /** One serialized `metaData` action — the single shape every metadata
    * rewrite in this file publishes (schemaString is already JSON, the
    * configuration fragment already serialized).
    */
  private def metaDataActionJson(id: String, schemaJson: String,
      partCols: Seq[String], configJson: String): String =
    s"""{"metaData":{"id":"${jsonEscape(id)}",""" +
      """"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${jsonEscape(schemaJson)}",""" +
      s""""partitionColumns":[${partCols.map(c =>
        "\"" + jsonEscape(c) + "\"").mkString(",")}],""" +
      s""""configuration":$configJson}}"""

  /** ALTER TABLE ... SET TBLPROPERTIES ('delta.columnMapping.mode'='name')
    * — upgrade an unmapped table to NAME-mode column mapping WITHOUT
    * touching a data file: every field (at every nesting level) gets
    * `physicalName` = its current name plus a stable `columnMapping.id`,
    * so existing files keep resolving by name and every future
    * [[renameColumn]] is a metadata-only commit. This is the whole point
    * of column mapping at 100 TB: a rename that would otherwise rewrite
    * the corpus costs one JSON commit. ID mode is creation-time only
    * (existing footers lack parquet field ids — real Delta has the same
    * rule), so upgrading to it refuses. The protocol bumps to
    * minReaderVersion 2 / minWriterVersion 5, or gains the columnMapping
    * table feature when already on the v3 feature protocol. Returns the
    * committed version.
    */
  def enableColumnMapping(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Long = {
    import org.apache.spark.sql.types._
    val logDir = new File(tablePath, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"no metaData action in $tablePath — cannot upgrade"))
    require(DeltaLog.mappingMode(Some(meta)) == "none",
      s"column mapping already enabled on $tablePath")
    val schema = DeltaLog.metaSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"unparseable schemaString in $tablePath"))
    var nextId = 0L
    def annotate(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        nextId += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName", f.name)
          .putLong(DeltaLog.FieldIdKey, nextId).build()
        StructField(f.name, annotate(f.dataType), f.nullable, md)
      })
      case ArrayType(et, n) => ArrayType(annotate(et), n)
      case MapType(k, v, n) => MapType(annotate(k), annotate(v), n)
      case other => other
    }
    val mapped = annotate(schema).asInstanceOf[StructType]
    val (minR, minW, rFeats, wFeats) = DeltaLog.currentProtocol(tablePath)
    val proto =
      if (minR >= 3)
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[${(rFeats :+ DeltaLog.CmFeature).distinct
            .map("\"" + _ + "\"").mkString(",")}],""" +
          s""""writerFeatures":[${(wFeats :+ DeltaLog.CmFeature).distinct
            .map("\"" + _ + "\"").mkString(",")}]}}"""
      else
        s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":${
          math.max(5, minW)}}}"""
    setConfiguration(meta, logDir, base,
      Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> nextId.toString),
      extraActions = Seq(proto),
      newSchemaJson = Some(mapped.json),
      operation = "SET TBLPROPERTIES",
      opParams = Map("delta.columnMapping.mode" -> "name"))
  }

  /** CREATE an ID-mode column-mapped Delta table from `df` — the
    * creation-time path real Delta requires for id mode (existing
    * tables upgrade to NAME mode only, [[enableColumnMapping]]): every
    * column gets `columnMapping.id` = its ordinal and a decoupled
    * physical name (`col-<i>`), the staged parquet footers carry those
    * ids (`parquet.field.id`), and version 0 publishes the
    * minReaderVersion 2 / minWriterVersion 5 protocol with the mapping
    * configuration. From then on every rename/drop is metadata-only and
    * every reader resolves columns by footer id — names and column
    * order in the files never matter again. Top-level non-nested
    * columns only (footer ids cannot be attached to nested fields at
    * stage time).
    *
    * `partitionCols` creates the table PARTITIONED under mapping: data
    * files land in hive dirs named by the PHYSICAL partition column
    * (add.partitionValues are keyed physical per the protocol, while
    * metaData.partitionColumns record the logical names), so partition
    * column renames stay metadata-only like everything else.
    * Returns the committed version (0).
    */
  def createIdMapped(df: DataFrame, tablePath: String,
      partitionCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    // existence = JSON commits OR a checkpoint: a table whose JSON log
    // was expired (checkpoint-only) has no 0.json, so publish(…, 0L)
    // would "succeed" with actions invisible below the checkpoint —
    // the same existence test physicalizeForStage uses
    require(DeltaLog.headVersion(logDir) < 0L,
      s"table already exists: $tablePath (id mode is creation-time " +
        "only — real Delta's rule; existing tables upgrade to name mode)")
    def nested(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case ArrayType(et, _) => nested(et)
      case MapType(k, v, _) => nested(k) || nested(v)
      case _ => false
    }
    df.schema.fields.foreach(f => require(!nested(f.dataType),
      s"createIdMapped: nested column '${f.name}' is not supported " +
        "(nested parquet field ids cannot be attached at stage time)"))
    logDir.mkdirs()
    val logical = StructType(df.schema.fields.zipWithIndex.map {
      case (f, i) =>
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName", s"col-${i + 1}")
          .putLong(DeltaLog.FieldIdKey, (i + 1).toLong).build()
        StructField(f.name, f.dataType, f.nullable, md)
    })
    val physical = DeltaLog.physicalize(logical).asInstanceOf[StructType]
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val staged = df.select(logical.fields.zip(physical.fields).zipWithIndex
      .map { case ((lf, pf), i) =>
        val md = new MetadataBuilder()
          .putLong(DeltaLog.ParquetFieldIdKey, (i + 1).toLong).build()
        col(s"`${lf.name}`").as(pf.name, md)
      }.toSeq: _*)
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"createIdMapped: partition column '$c' not in the DataFrame"))
    val physByLogical = logical.fields.zip(physical.fields)
      .map { case (lf, pf) => lf.name -> pf.name }.toMap
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val adds: Seq[String] =
      if (partitionCols.isEmpty)
        stageDataFiles(staged, root).map(addAction(conf, _, physical))
      else {
        // PARTITIONED staging: hive dirs named by the PHYSICAL column
        // (the pv keys of every future add), data files carry only the
        // non-partition physical columns with their footer ids — the
        // shared staging seam (one distributed write, tuple-walked)
        val physParts = partitionCols.map(physByLogical)
        val moved = stagePartitionedFiles(staged, root, physParts)
        require(moved.nonEmpty, s"no data files produced for $tablePath")
        val physData = org.apache.spark.sql.types.StructType(
          physical.fields.filterNot(f => physParts.contains(f.name)))
        moved.map { case (f, pv) =>
          partitionedAddAction(conf, root, f, pv, physData, dataChange = true)
        }
      }
    val maxId = logical.fields.length
    val partColsJson = partitionCols.map(c =>
      "\"" + jsonEscape(c) + "\"").mkString(",")
    publish(logDir, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"${java.util.UUID.randomUUID}",""" +
        """"format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${jsonEscape(logical.json)}",""" +
        s""""partitionColumns":[$partColsJson],""" +
        s""""configuration":{"delta.columnMapping.mode":"id",""" +
        s""""delta.columnMapping.maxColumnId":"$maxId"}}}""") ++ adds :+
      """{"commitInfo":{"operation":"CREATE TABLE","operationParameters":{"columnMapping":"id"}}}""")
    0L
  }

  /** ALTER TABLE ... RENAME COLUMN old TO new — the metadata-only rename
    * column mapping exists for: the field's LOGICAL name changes in the
    * schemaString while its physicalName/columnMapping.id (and therefore
    * every data file) stay untouched. Time travel across the rename sees
    * each epoch's own name, because reads decode through the metaData in
    * force at the read version. Requires column mapping (name or id
    * mode); refuses unknown/colliding names and columns referenced by a
    * CHECK constraint (the stored expression would silently stop
    * matching rows — real Delta blocks this the same way). Top-level
    * columns only. Returns the committed version.
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, oldName: String, newName: String): Long = {
    import org.apache.spark.sql.types._
    val logDir = new File(tablePath, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"no metaData action in $tablePath"))
    require(DeltaLog.mappingMode(Some(meta)) != "none",
      s"RENAME COLUMN needs column mapping on $tablePath — without it " +
        "the files carry the old name and every reader would decode " +
        "NULLs; run enableColumnMapping first (one metadata commit)")
    val schema = DeltaLog.metaSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"unparseable schemaString in $tablePath"))
    require(schema.fieldNames.contains(oldName),
      s"no such column to rename: $oldName in $tablePath")
    require(!schema.fieldNames.contains(newName),
      s"rename target already exists: $newName in $tablePath")
    DeltaLog.checkConstraints(spark, tablePath).foreach { case (n, e) =>
      require(!s"\\b${java.util.regex.Pattern.quote(oldName)}\\b".r
          .findFirstIn(e).isDefined,
        s"cannot rename $oldName: CHECK constraint $n references it ($e) " +
          "— drop the constraint first")
    }
    val renamed = StructType(schema.fields.map { f =>
      if (f.name == oldName) StructField(newName, f.dataType, f.nullable,
        f.metadata)
      else f
    })
    // a renamed PARTITION column follows in metaData.partitionColumns
    // (logical names); the add actions' physical pv keys are untouched
    val priorPartCols = meta.get("partitionColumns")
      .collect { case xs: Seq[_] => xs.collect { case s0: String => s0 } }
      .getOrElse(Seq.empty)
    val newPartCols =
      if (priorPartCols.contains(oldName))
        Some(priorPartCols.map(c => if (c == oldName) newName else c))
      else None
    setConfiguration(meta, logDir, base, Map.empty,
      newSchemaJson = Some(renamed.json),
      operation = "RENAME COLUMN",
      opParams = Map("from" -> oldName, "to" -> newName),
      newPartitionColumns = newPartCols)
  }

  /** ALTER TABLE ... DROP COLUMN — rename's metadata-only sibling: the
    * field leaves the logical schemaString while every data file keeps
    * its physical column untouched (readers simply stop requesting it;
    * a later [[purgeDeletionVectors]]-style rewrite is the only thing
    * that ever physically removes the bytes — exactly real Delta).
    * Requires column mapping for the same reason rename does: without
    * it, a re-ADD of a same-named column would silently resurrect the
    * old data out of the files. Time travel before the drop still sees
    * the column. Refuses the last column, unknown names, and columns a
    * CHECK constraint references. Returns the committed version.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, name: String): Long = {
    import org.apache.spark.sql.types._
    val logDir = new File(tablePath, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"no metaData action in $tablePath"))
    require(DeltaLog.mappingMode(Some(meta)) != "none",
      s"DROP COLUMN needs column mapping on $tablePath — without it a " +
        "future column of the same name would resurrect the old bytes; " +
        "run enableColumnMapping first (one metadata commit)")
    val schema = DeltaLog.metaSchema(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"unparseable schemaString in $tablePath"))
    require(schema.fieldNames.contains(name),
      s"no such column to drop: $name in $tablePath")
    require(schema.fields.length > 1,
      s"cannot drop the last column of $tablePath")
    val partCols = meta.get("partitionColumns")
      .collect { case xs: Seq[_] => xs.collect { case s0: String => s0 } }
      .getOrElse(Seq.empty)
    require(!partCols.contains(name),
      s"cannot drop partition column $name of $tablePath")
    DeltaLog.checkConstraints(spark, tablePath).foreach { case (n, e) =>
      require(!s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
          .findFirstIn(e).isDefined,
        s"cannot drop $name: CHECK constraint $n references it ($e) — " +
          "drop the constraint first")
    }
    val remaining = StructType(schema.fields.filterNot(_.name == name))
    setConfiguration(meta, logDir, base, Map.empty,
      newSchemaJson = Some(remaining.json),
      operation = "DROP COLUMNS",
      opParams = Map("column" -> name))
  }

  /** ADD CONSTRAINT — the Delta protocol's CHECK constraints (writer
    * feature, `delta.constraints.<name>` configuration keys holding SQL
    * expressions; minWriterVersion 3): every row added from now on must
    * satisfy the expression, enforced at WRITE time so a violation
    * refuses the whole batch BEFORE any commit exists — the invariant a
    * 100 TB curated corpus needs cheap, because checking costs one pass
    * over each incoming BATCH, never a table scan. Existing rows are
    * verified once at creation (real Delta's rule: a constraint cannot
    * be born already violated). SQL-standard CHECK semantics: a NULL
    * evaluation passes, only FALSE violates. The commit bumps
    * minWriterVersion to 3 if below (never downgrades a feature-gated
    * table). Returns the committed version.
    */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, name: String, exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier: $name")
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cannot add constraint: no metaData action in $tablePath"))
    val key = s"delta.constraints.$name"
    val existing = meta.get("configuration")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
    require(!existing.contains(key),
      s"constraint $name already exists on $tablePath")
    // a constraint cannot be born violated: one scan of the CURRENT rows
    val bad = DeltaLog.read(spark, tablePath)
      .filter(not(coalesce(expr(exprSql), lit(true)))).limit(1).collect()
    require(bad.isEmpty,
      s"existing row violates CHECK ($exprSql): ${bad.headOption.orNull}")
    val (mr, mw, _, _) = DeltaLog.currentProtocol(tablePath)
    val protoBump =
      if (mw >= 3) Seq.empty
      else Seq(s"""{"protocol":{"minReaderVersion":$mr,"minWriterVersion":3}}""")
    setConfiguration(meta, logDir, base, Map(key -> exprSql),
      extraActions = protoBump)
  }

  /** DROP CONSTRAINT — metadata-only removal; refuses unknown names. */
  def dropCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, name: String): Long = {
    val logDir = new File(tablePath, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cannot drop constraint: no metaData action in $tablePath"))
    val key = s"delta.constraints.$name"
    val existing = meta.get("configuration")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
    require(existing.contains(key),
      s"no such constraint on $tablePath: $name")
    setConfiguration(meta, logDir, base, Map.empty, unset = Set(key))
  }

  /** Writer-side CHECK enforcement: refuse `df` if any row violates a
    * constraint of the table at `tablePath` — BEFORE any file is staged
    * or commit attempted, so a violating batch leaves zero trace. No-op
    * (and zero-cost: no job) on tables without constraints. The error
    * names the constraint and carries one violating row.
    */
  private def requireSatisfiesConstraints(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      df: DataFrame, op: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val logDir = new File(tablePath, "_delta_log")
    if (DeltaLog.headVersion(logDir) < 0L) return
    val cons = DeltaLog.checkConstraints(spark, tablePath)
    cons.foreach { case (name, e) =>
      val bad = df.filter(not(coalesce(expr(e), lit(true))))
        .limit(1).collect()
      require(bad.isEmpty,
        s"$op violates CHECK constraint $name ($e) on $tablePath — " +
          s"example row: ${bad.headOption.orNull}")
    }
  }

  /** The change feed of both merge verbs, in ONE code path — the feed
    * cannot tell the write modes apart BY CONSTRUCTION, not by two
    * copies kept in sync. A merge's in-place updates are invisible to
    * add/remove derivation (survivors would masquerade as
    * delete+insert), so the commit publishes the exact change rows: the
    * `matched` target rows as update_preimage — one per matched target
    * row, real Delta's CDF shape — their replacements as
    * update_postimage (`updated` when duplicate-key targets were
    * expanded, else the batch rows of matched keys), and the batch rows
    * that matched nothing as insert. All O(batch), one write; partition
    * columns ride as DATA columns (typed by the batch cast), so the feed
    * decode needs no pv re-injection for cdc rows. Nothing when the
    * table has no change data feed.
    */
  private def stageMergeCdc(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, root: File, mapMode: String, batch: DataFrame,
      keys: Seq[String], matched: Option[DataFrame],
      updated: Option[DataFrame],
      evolvedLogical: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] =
    if (!cdfEnabled(spark, tablePath)) Seq.empty
    else {
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      val kc = keys.map(c => col(s"`$c`"))
      val mk = matched.fold(batch.select(kc: _*).limit(0))(
        _.select(kc: _*).distinct())
      val change = matched.getOrElse(batch.limit(0))
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(updated.getOrElse(
            batch.join(broadcast(mk), keys, "leftsemi"))
          .withColumn("_change_type", lit("update_postimage")))
        .unionByName(batch.join(broadcast(mk), keys, "leftanti")
          .withColumn("_change_type", lit("insert")))
      stageCdc(spark, tablePath, root, mapMode, change, evolvedLogical)
    }

  /** Stage `changes` (table columns + `_change_type`) as parquet under
    * `_change_data/` and return the cdc actions referencing them. The
    * feed costs O(changed rows), written once, in the same atomic commit
    * as the data change itself. Mapped tables physicalize the rows
    * first, `_change_type` riding through (the feed decodes cdc files
    * like data files); `logicalOverride` is a schema-evolving commit's
    * about-to-publish schema.
    */
  private def stageCdc(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, root: File, mapMode: String, changes: DataFrame,
      logicalOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    val staged =
      if (mapMode == "none") changes
      else physicalizeForStage(spark, tablePath, changes,
        passthrough = Seq("_change_type"),
        logicalOverride = logicalOverride)._1
    val dir = new File(root, "_change_data")
    dir.mkdirs()
    val staging = new File(root, s".graft-stage-${java.util.UUID.randomUUID}")
    staged.write.parquet(staging.getPath)
    val parts = Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
    val moved = parts.map { f =>
      val dst = new File(dir, s"cdc-${java.util.UUID.randomUUID}.parquet")
      Files.move(f.toPath, dst.toPath)
      dst
    }.toSeq
    Option(staging.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(staging.toPath)
    moved.map(f =>
      s"""{"cdc":{"path":"_change_data/${jsonEscape(f.getName)}",""" +
        s""""partitionValues":{},"size":${f.length},"dataChange":false}}""")
  }

  /** The rewrite scans' schema (OPTIMIZE, ZORDER, the DV purge): the
    * live set's [[DeltaLog.scanSchema]]. Files restage as they are
    * stored — physical bytes in, physical bytes out, the mapping
    * untouched, so a 100 TB mapped corpus keeps its maintenance verbs
    * without ever paying a decode — and a column an older file lacks
    * restages as NULL rather than dropping out. Id mode also re-stamps
    * the field ids on write; its nested columns refuse.
    */
  private def rewriteSchema(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, adds: Seq[DeltaLog.LiveFile]): DeltaLog.ScanSchema = {
    import org.apache.spark.sql.types._
    val scan = DeltaLog.scanSchema(spark, tablePath, adds, None)
    if (scan.mode == "id") {
      def nested(dt: DataType): Boolean = dt match {
        case _: StructType => true
        case ArrayType(et, _) => nested(et)
        case MapType(k, v, _) => nested(k) || nested(v)
        case _ => false
      }
      scan.data.foreach(f => require(!nested(f.dataType),
        s"id-mode rewrite of $tablePath: nested column '${f.name}' " +
          "is not supported (nested parquet field ids cannot be " +
          "re-stamped at stage time)"))
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    }
    scan
  }

  /** One rewrite scan: the live rows (deletion vectors applied) of
    * `files` through `request`, a [[rewriteSchema]].
    */
  private def rewriteScan(spark: org.apache.spark.sql.SparkSession,
      root: File, request: org.apache.spark.sql.types.StructType,
      files: Seq[DeltaLog.LiveFile]): DataFrame =
    DeltaLog.applyDv(spark,
      spark.read.schema(request).parquet(files.map(_.path): _*), files, root)

  /** Render a partitionValues map as protocol JSON (null values are the
    * null partition, rendered as JSON null).
    */
  private def pvJson(pv: Map[String, String]): String =
    pv.map {
      case (k, null) => s""""${jsonEscape(k)}":null"""
      case (k, v) => s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString("{", ",", "}")

  private def dvJson(d: DeltaDv.Descriptor): String =
    s"""{"storageType":"${jsonEscape(d.storageType)}",""" +
      s""""pathOrInlineDv":"${jsonEscape(d.pathOrInlineDv)}",""" +
      d.offset.fold("")(o => s""""offset":$o,""") +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** Shared MoR kill stage for the DV-writing commits ([[deleteWhereDv]],
    * [[mergeDv]]): aggregate matched PHYSICAL row positions (`__f` =
    * scan URI, `__i` = row index) per live file into deletion-vector
    * descriptors, UNIONed with any existing bitmap — one code path, so
    * the two verbs' DV byte format and driver-memory discipline cannot
    * drift. Under `maxDvCollectBytes` of estimated bitmap bytes the
    * driver path writes ONE DV file for the whole commit; above it the
    * executor path packs bitmaps into shared files where the positions
    * were aggregated (see [[deleteWhereDv]]'s scaladoc for the full
    * rationale). `byPath` keys live files by QUALIFIED scan URI (never
    * basename — adopted layouts collide). Returns (live file, fresh
    * kills, merged cardinality, descriptor — None when the file died
    * entirely); empty when nothing matched.
    */
  private def stageDvKills(spark: org.apache.spark.sql.SparkSession,
      root: File, matched: DataFrame,
      byPath: Map[String, DeltaLog.LiveFile], maxDvCollectBytes: Long)
      : Seq[(DeltaLog.LiveFile, Long, Long, Option[DeltaDv.Descriptor])] = {
    import org.apache.spark.sql.functions.{col, collect_list, count, lit,
      sort_array, sum}
    // DRIVER-MEMORY GATE, decided BEFORE any bitmap bytes move: roaring's
    // worst case is 2 bytes/position (array containers) plus ≤ 8 KiB per
    // 64Ki-row span (bitmap containers cap there), so positions×2 +
    // files×8 KiB upper-bounds the aggregate. Under the bound the driver
    // path runs (ONE DV file for the whole commit — fewer files); above
    // it the EXECUTOR path runs (one DV file per touched data file,
    // written where the positions were aggregated) — same commit, zero
    // driver bitmap bytes. The pre-pass is a count-only aggregation over
    // two narrow columns, map-side combined.
    val pre = matched
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")), count(lit(1))).head
    val (nPositions, nFiles) =
      if (pre.isNullAt(0)) (0L, 0L) else (pre.getLong(0), pre.getLong(1))
    if (nFiles == 0L) return Seq.empty // nothing matched
    val estBytes = nPositions * 2L + nFiles * 8192L
    def physicalRows(a: DeltaLog.LiveFile): Option[Long] =
      a.stats.flatMap(_.get("numRecords").collect { case d: Double => d.toLong })
    val grouped = matched
      .groupBy(col("__f"))
      .agg(sort_array(collect_list(col("__i"))).as("__idx"))
    // both paths produce (live file, fresh deletes, merged cardinality,
    // descriptor — None when the file died entirely)
      if (estBytes <= maxDvCollectBytes) {
        val perFile = grouped.collect()
        perFile.toSeq.map { r =>
          val name = DeltaLog.canonicalScanPath(r.getString(0))
          val a = byPath.getOrElse(name, throw new IllegalStateException(
            s"matched file not in live set: $name"))
          val idx = r.getSeq[Long](1)
          val fresh = DeltaDv.serializePositions(idx)
          val (bytes, card) = a.dv match {
            case Some(d) =>
              val u = DeltaDv.union(DeltaDv.readBitmapBytes(root, d), fresh)
              (u, DeltaDv.cardinality(u))
            case None => (fresh, idx.size.toLong)
          }
          (a, idx.size.toLong, card, Some(bytes))
        } match { case merged =>
          // ONE DV file for the whole commit, in stable entry order
          val (dead, partial) = merged.partition { case (a, _, card, _) =>
            physicalRows(a).contains(card)
          }
          val dvEntries =
            if (partial.isEmpty) Seq.empty
            else {
              val (pathOrInline, offs) =
                DeltaDv.writeDvFile(root, partial.map(_._4.get))
              partial.zip(offs).map { case ((a, n, card, Some(b)), (off, len)) =>
                require(len == b.length.toLong, "DV entry length drift")
                (a, n, card,
                  Some(DeltaDv.Descriptor("u", pathOrInline, Some(off), len, card)))
              }
            }
          dead.map { case (a, n, card, _) => (a, n, card, None) } ++ dvEntries
        }
      } else {
        // EXECUTOR-SIDE DV WRITES: each touched file's positions are
        // already aggregated on one executor; it merges with the
        // existing DV (read by descriptor, compressed bytes only) and
        // PACKS the partition's bitmaps into shared DV files (the
        // offset-addressed format the driver path emits) — one file per
        // ~`dvPackFlushBytes` of bitmap bytes per task partition, never
        // one per touched data file (at the 10⁵-touched-file scale this
        // path exists for, per-file DVs would mean 10⁵ tiny files next
        // to the data; real Delta packs many DVs per file for the same
        // reason). The driver receives ONE small tuple per file.
        // Fully-dead files (merged cardinality == declared numRecords)
        // skip the write entirely.
        val rootPath = root.getAbsolutePath
        val dvMeta: Map[String, (Option[DeltaDv.Descriptor], Option[Long])] =
          byPath.map { case (n, a) => n -> ((a.dv, physicalRows(a))) }
        val dvMetaB = spark.sparkContext.broadcast(dvMeta)
        val flushBytes = dvPackFlushBytes
        val results = grouped.rdd.mapPartitions { it =>
          val rootF = new File(rootPath)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, String, Long, Long)]
          // pending (name, n, card, bytes) awaiting a packed flush; the
          // buffer is bounded by flushBytes + one bitmap, so partition
          // memory never scales with touched-file count
          val pending = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Array[Byte])]
          var pendingBytes = 0L
          def flush(): Unit = if (pending.nonEmpty) {
            val (pathOrInline, offs) =
              DeltaDv.writeDvFile(rootF, pending.map(_._4).toSeq)
            pending.zip(offs).foreach { case ((name, n, card, b), (off, len)) =>
              require(len == b.length.toLong, "DV entry length drift")
              out += ((name, n, card, pathOrInline, off, len))
            }
            pending.clear(); pendingBytes = 0L
          }
          it.foreach { row =>
            val name = DeltaLog.canonicalScanPath(row.getString(0))
            val idx = row.getSeq[Long](1)
            val fresh = DeltaDv.serializePositions(idx)
            val (exist, phys) = dvMetaB.value.getOrElse(name,
              throw new IllegalStateException(
                s"matched file not in live set: $name"))
            val (bytes, card) = exist match {
              case Some(d) =>
                val u = DeltaDv.union(DeltaDv.readBitmapBytes(rootF, d), fresh)
                (u, DeltaDv.cardinality(u))
              case None => (fresh, idx.size.toLong)
            }
            if (phys.contains(card))
              out += ((name, idx.size.toLong, card, null: String, -1L, -1L))
            else {
              pending += ((name, idx.size.toLong, card, bytes))
              pendingBytes += bytes.length
              if (pendingBytes >= flushBytes) flush()
            }
          }
          flush()
          out.iterator
        }.collect()
        dvMetaB.unpersist()
        results.toSeq.map { case (name, n, card, pathOrInline, off, len) =>
          val a = byPath(DeltaLog.canonicalScanPath(name))
          if (pathOrInline == null) (a, n, card, None)
          else (a, n, card,
            Some(DeltaDv.Descriptor("u", pathOrInline, Some(off), len, card)))
        }
      }
  }

  /** Log actions for [[stageDvKills]] output: a partially-dead file is
    * removed and RE-ADDED at the same path/bytes with its descriptor; a
    * fully-dead file gets a plain remove.
    */
  private def dvKillActions(
      touched: Seq[(DeltaLog.LiveFile, Long, Long, Option[DeltaDv.Descriptor])])
      : Seq[String] = touched.flatMap {
    case (a, _, _, Some(d)) =>
      val f = new File(a.path)
      Seq(
        removeAction(a),
        s"""{"add":{"path":"${jsonEscape(a.recordedPath)}",""" +
          s""""partitionValues":${pvJson(a.partitionValues)},""" +
          s""""size":${f.length},"modificationTime":${f.lastModified},""" +
          a.statsJson.fold("")(st => s""""stats":"${jsonEscape(st)}",""") +
          s""""deletionVector":${dvJson(d)},"dataChange":true}}""")
    case (a, _, _, None) =>
      Seq(removeAction(a))
  }

  /** Protocol upgrade action for a DV-writing commit (no-op when the
    * table already lists the feature). Reader version 3 lists ALL active
    * reader features — upgrading a mapped table with only
    * [deletionVectors] would hide the mapping from feature-gated
    * readers.
    */
  private def dvProtocolAction(tablePath: String,
      mapped: Boolean): Seq[String] = {
    val (minR, _, rFeats, _) = DeltaLog.currentProtocol(tablePath)
    if (minR >= 3 && rFeats.contains(DeltaLog.DvFeature)) Seq.empty
    else {
      val feats = (rFeats.toSet + DeltaLog.DvFeature ++
        (if (mapped) Set(DeltaLog.CmFeature) else Set.empty))
        .toSeq.sorted
      val featJson = feats.map("\"" + _ + "\"").mkString("[", ",", "]")
      Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":$featJson,"writerFeatures":$featJson}}""")
    }
  }

  /** Outcome of a [[deleteWhereDv]] commit. */
  final case class DvDeleteStats(version: Long, filesTouched: Int,
      filesFullyDead: Int, rowsDeleted: Long)

  /** DELETE WHERE, merge-on-read: instead of rewriting touched files
    * ([[deleteWhere]]'s copy-on-write), each touched file is RE-ADDED
    * with a `deletionVector` descriptor naming its dead row indexes as a
    * serialized RoaringBitmapArray ([[DeltaDv]]) — the Delta protocol's
    * DV mechanism, ONE tiny DV file per commit regardless of table size.
    * This is the point-delete fast path at 100 TB (GDPR erasure, CDC
    * retractions): no data file is rewritten, the commit cost is
    * O(matched rows' bitmap bytes), and reads stay a single scan plus a
    * broadcast-closure bitmap filter.
    *
    * Correct-by-construction details:
    *  - the match scan applies EXISTING DVs first, so an already-dead row
    *    is never re-counted and never re-deleted;
    *  - bitmaps are built EXECUTOR-side (per-file groupBy + serialize);
    *    only compressed bitmap bytes reach the driver — never an
    *    enumerated (file, row) list — and past `maxDvCollectBytes` of
    *    estimated bitmap bytes not even those: the DV files are WRITTEN
    *    FROM THE EXECUTORS, packed per task partition (many bitmaps per
    *    shared offset-addressed file, flushed every [[dvPackFlushBytes]])
    *    and the driver sees only (name, descriptor, cardinality) tuples
    *    — the 100 TB shape, where a delete touching 10⁵ files never
    *    concentrates a byte of bitmap on the driver NOR scatters 10⁵
    *    tiny DV files next to the data;
    *  - a second delete on an already-DV'd file UNIONs the bitmaps
    *    (O(bitmap bytes), [[DeltaDv.union]]);
    *  - a file whose every row is dead (declared stats numRecords ==
    *    bitmap cardinality) gets a plain `remove` — no descriptor that a
    *    reader would pay to apply forever;
    *  - the FIRST DV commit upgrades the protocol to
    *    minReaderVersion 3 / minWriterVersion 7 with the deletionVectors
    *    table feature, so pre-DV readers refuse loudly instead of
    *    resurrecting rows;
    *  - rows where the predicate is NULL are NOT deleted (SQL DELETE
    *    semantics, same as [[deleteWhere]]).
    */
  /** Flush bound for executor-packed DV files: a task partition packs
    * merged bitmaps into one shared DV file until their bytes reach
    * this, then starts another — bounding both per-task memory and the
    * packed file size (the cap real Delta applies when packing many DVs
    * into shared files).
    */
  private[sources] val dvPackFlushBytes: Long = 128L << 20

  def deleteWhereDv(spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column,
      maxDvCollectBytes: Long = 256L << 20): DvDeleteStats = {
    import org.apache.spark.sql.functions.{col, collect_list, count, lit,
      sort_array, sum}
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    // MAPPED tables MoR-delete first-class: the match scan decodes
    // logically with each row's PHYSICAL identity captured before the
    // projection, and DV descriptors are path+position based — no
    // column semantics touch the bitmap. CDF composes too: the change
    // rows stage through the mapped-append physicalization with the
    // reserved `_change_type` riding through, and the feed decodes cdc
    // files like data files (by physical name / footer field id).
    val mapMode =
      DeltaLog.mappingMode(DeltaLog.tableMetaData(spark, tablePath))
    // match scan: snapshot read (existing DVs applied, partition columns
    // injected from the log so the predicate may reference them), with
    // physical row identity captured BEFORE the pv join
    val withId = DeltaLog.readWithRowIdentity(spark, tablePath)
      .filter(predicate)
    val matchedRows = withId.drop("__graft_dv_file", "__graft_dv_pos")
    val matched = withId
      .select(col("__graft_dv_file").as("__f"),
        col("__graft_dv_pos").as("__i"))
    // keyed on the scan's QUALIFIED URI, never the basename — Spark's
    // partitionBy writes the same part-NNNNN name into every partition
    // dir, so a CONVERT-adopted table's basenames collide and a
    // basename-keyed bitmap would fuse two files' positions
    val byPath = DeltaLog.byQualifiedPath(spark, adds)
    val touched = stageDvKills(spark, root, matched, byPath,
      maxDvCollectBytes)
    if (touched.isEmpty) // nothing matched: a no-op, not an empty commit
      return DvDeleteStats(base, 0, 0, 0L)
    val rowsDeleted = touched.map(_._2).sum
    val fullyDead = touched.count(_._4.isEmpty)
    val dvActions: Seq[String] = dvKillActions(touched)
    val protoAction = dvProtocolAction(tablePath, mapMode != "none")
    // CDF: a DV commit re-adds the same path (add/remove derivation is
    // meaningless) — publish the exact deleted rows from the pre-commit
    // snapshot, O(matched rows); mapped tables physicalize the change
    // rows first (cdc decodes like data files)
    val cdcActions =
      if (!cdfEnabled(spark, tablePath)) Seq.empty
      else {
        stageCdc(spark, tablePath, root, mapMode,
          matchedRows.withColumn("_change_type",
            org.apache.spark.sql.functions.lit("delete")))
      }
    val version = base + 1
    publish(logDir, version,
      protoAction ++ dvActions ++ cdcActions :+
      """{"commitInfo":{"operation":"DELETE","operationParameters":{"mode":"merge-on-read"}}}""")
    DvDeleteStats(version, touched.size, fullyDead, rowsDeleted)
  }

  /** Outcome of a [[purgeDeletionVectors]] commit. */
  final case class PurgeStats(version: Long, filesPurged: Int,
      filesAdded: Int)

  /** PURGE deletion vectors (real Delta's `REORG TABLE … APPLY (PURGE)`):
    * materialize every DV-carrying file's LIVE rows into fresh clean
    * files and commit remove+add with `dataChange:false` — the table's
    * rows are untouched, only the physical encoding of the deletes
    * changes. This is the MoR recovery path: it re-enables the
    * copy-on-write ops ([[merge]]/[[deleteWhere]]/[[optimize]] refuse
    * under live DVs), stops every future read paying the bitmap filter,
    * and frees the DV files for [[vacuum]]. Files WITHOUT a DV keep
    * their physical identity — purging a 100 TB table touches only the
    * deleted-into files. No-op when no live add carries a DV.
    */
  def purgeDeletionVectors(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): PurgeStats = {
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    val dvAdds = adds.filter(_.dv.isDefined)
    if (dvAdds.isEmpty)
      return PurgeStats(base, 0, 0)
    // the DV filter is POSITIONAL (file + row index — no column
    // semantics), so survivors read back as stored and restage
    // byte-compatible, mapped or not
    val request = rewriteSchema(spark, tablePath, adds).request
    // PARTITION GROUPS: a partitioned table's rewrite runs one job per
    // TOUCHED partition tuple (only DV-carrying files are in play), and
    // each group's fresh files inherit that tuple in their add actions —
    // partition column data never lives in the files, so the rewritten
    // bytes are pv-free like the originals. Unpartitioned tables are the
    // single empty-tuple group (one job, unchanged behavior). The driver
    // loop is bounded by touched-partition count, the same class as
    // real OPTIMIZE's per-partition planning.
    val groups = dvAdds.groupBy(_.partitionValues).toSeq
    val conf = spark.sessionState.newHadoopConf()
    val newAdds = groups.flatMap { case (pv, groupAdds) =>
      val liveRows = rewriteScan(spark, root, request, groupAdds)
      // stage first, then drop zero-row outputs from the FOOTER count:
      // the old liveRows.isEmpty probe was its own driver job per group
      // re-reading real data. (An externally-written full-file DV can
      // leave zero survivors — that group publishes no add, same as
      // before.)
      val files = stageDataFiles(liveRows, root).filter { f =>
        val rows = Tables.footer(conf, f.getPath)(FooterStats.readOne(_, Seq.empty))
          .map(_._1).getOrElse(-1L)
        if (rows == 0L) { f.delete(); false } else true
      }
      files.map(addAction(conf, _, request, pv, dataChange = false))
    }
    val version = base + 1
    val removes = dvAdds.map(a =>
      s"""{"remove":{"path":"${jsonEscape(a.recordedPath)}","dataChange":false}}""")
    publish(logDir, version, removes ++ newAdds :+
      """{"commitInfo":{"operation":"REORG","operationParameters":{"applyPurge":true}}}""")
    PurgeStats(version, dvAdds.size, newAdds.size)
  }

  /** VACUUM: physically delete data files no longer referenced by the
    * CURRENT snapshot — the space-reclaim pass after merge/delete/
    * overwrite leave tombstoned files behind. Like real Delta's
    * `VACUUM`, this trades history for space: time travel to versions
    * that referenced a vacuumed file will fail (loudly, at read time —
    * the log itself is untouched, so version listing still works).
    * `olderThanMs` is the retention guard: only tombstoned files whose
    * modification time is at least this old are deleted (real Delta
    * defaults to 7 days to protect in-flight readers; tests pass 0).
    * Returns the deleted file names. Never touches live files, the log,
    * or non-data files. Change-data files (`_change_data/`, never in the
    * live set) age out under the same retention — exactly real Delta's
    * CDF retention rule; [[DeltaLog.tableChanges]] refuses loudly when a
    * requested range's change file was reclaimed.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      olderThanMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val root = new File(tablePath)
    DeltaLog.latestVersion(tablePath) // refuses a non-table
    val liveAdds = DeltaLog.liveAdds(spark, tablePath)
    val live = liveAdds.map(a => new File(a.path).getName).toSet
    // a DV file referenced by any live add's descriptor is LIVE metadata:
    // deleting it would corrupt every read of its data file. Orphaned DV
    // files (their delete was purged or their add removed) reclaim like
    // tombstoned parquet.
    val liveDv = liveAdds.flatMap(_.dv).flatMap(DeltaDv.dvFileName).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    // recurse into hive-style partition subdirectories (appendPartitioned
    // lands files under col=value/): liveness matches by file NAME, which
    // is safe because every writer here names data files with a fresh
    // uuid. The log dir and dot-prefixed staging dirs are never data.
    def candidates(dir: File): Seq[File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName != "_delta_log" &&
            !d.getName.startsWith(".") => candidates(d)
        case f if f.isFile && f.getName.endsWith(".parquet") &&
            !live.contains(f.getName) && f.lastModified <= cutoff => Seq(f)
        case f if f.isFile && f.getName.startsWith("deletion_vector_") &&
            f.getName.endsWith(".bin") && !liveDv.contains(f.getName) &&
            f.lastModified <= cutoff => Seq(f)
        case _ => Seq.empty
      }
    // DRY RUN lists what a real vacuum would reclaim without touching a
    // byte — the operator's pre-flight at 100 TB, where an over-eager
    // retention window is an unrecoverable mistake
    if (dryRun) candidates(root).map(_.getName)
    else candidates(root).map { f =>
      Files.delete(f.toPath)
      f.getName
    }
  }

  /** OVERWRITE: one commit that removes every currently-live file and adds
    * the new ones — readers see the old or the new snapshot, never a mix.
    */
  def overwrite(df: DataFrame, tablePath: String): Long = {
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    logDir.mkdirs()
    val spark = df.sparkSession
    val base = DeltaLog.headVersion(logDir)
    val prior =
      if (base < 0L) Seq.empty else DeltaLog.liveAdds(spark, tablePath)
    requireSatisfiesConstraints(spark, tablePath, df, "overwrite")
    val (stage, physSchema) = physicalizeForStage(spark, tablePath, df)
    val files = stageDataFiles(stage, root)
    val version = base + 1
    val header = if (version == 0L) headerActions(df) else Seq.empty
    // overwriting a PARTITIONED table lands unpartitioned adds, so the
    // same commit redeclares partitionColumns=[] (the overwriteSchema
    // semantics): without it the metaData keeps promising a partitioning
    // the live files no longer have — pv-keyed pruning would consult a
    // stale contract and the write-time partitioning guard would refuse
    // every subsequent append to a table that is, in fact, unpartitioned
    val metaUpdate = DeltaLog.tableMetaData(spark, tablePath).toSeq.collect {
      case meta if meta.get("partitionColumns")
          .collect { case xs: Seq[_] => xs }.exists(_.nonEmpty) =>
        serializeMetaAction(meta, partitionColsOverride = Some(Seq.empty))
    }
    // removes carry their partition tuples (extended metadata): a
    // change-feed derivation over this epoch re-attaches them without
    // guessing from paths
    val removes = prior.map(a => removeAction(a))
    val conf = spark.sessionState.newHadoopConf()
    publish(logDir, version, header ++ metaUpdate ++ removes ++
      files.map(addAction(conf, _, physSchema)) :+
      """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Overwrite"}}}""")
    version
  }

  /** IDEMPOTENT append for exactly-once sinks — the Delta transaction-
    * identifier protocol: the commit carries
    * `{"txn":{"appId":…,"version":epoch}}`, and a RETRY of an epoch the
    * log already records is a no-op (returns None) instead of a double
    * append. This is how a real Delta streaming sink survives
    * foreachBatch retries: the epoch id, not the data, is the
    * idempotence key. Returns the committed version, or None if this
    * (appId, epoch) was already committed.
    */
  def appendIdempotent(df: DataFrame, tablePath: String, appId: String,
      epoch: Long, partitionCols: Seq[String] = Seq.empty): Option[Long] =
    if (DeltaLog.latestTxnVersions(tablePath).get(appId).exists(_ >= epoch))
      None
    else appendCommit(df, tablePath, partitionCols, Some(appId -> epoch))

  /** Outcome of an [[optimize]] commit. */
  final case class OptimizeStats(version: Long, filesCompacted: Int,
      filesAdded: Int)

  /** OPTIMIZE (bin-packing compaction): rewrite every live file smaller
    * than `smallFileBytes` into `targetFiles` compacted files, in ONE
    * commit whose remove/add actions carry `dataChange:false` — the
    * table's ROWS are untouched (streaming/CDC consumers know to skip
    * the commit), only the physical layout changes. This is the
    * mandatory maintenance pass behind a streaming sink: one small file
    * per micro-batch epoch (e19) grows the live set without bound, and
    * scan cost follows file count long before data size. Files at or
    * above the threshold keep their identity; fewer than two small
    * files is a no-op (nothing to pack). Files carrying DELETION
    * VECTORS rewrite regardless of size — their live rows materialize
    * (bitmap applied) and the fresh adds drop the descriptors, making
    * OPTIMIZE the MoR table's natural purge point exactly like real
    * Delta's. Time travel to pre-optimize versions still works until
    * vacuum reclaims the tombstones.
    */
  def optimize(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      smallFileBytes: Long, targetFiles: Int = 1): OptimizeStats = {
    require(targetFiles >= 1, "targetFiles must be at least 1")
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    // bin-packing NEVER crosses partition boundaries (real OPTIMIZE's
    // rule: a file belongs to exactly one partition tuple): small files
    // group by their tuple, each group compacts independently, and the
    // fresh adds inherit the tuple — partition column data stays in the
    // log, so the rewritten bytes are pv-free like the originals.
    // Unpartitioned tables are the single empty-tuple group. The driver
    // loop is bounded by the count of partitions that HAVE ≥2 small
    // files, the same class as real OPTIMIZE's per-partition planning.
    //
    // DELETION VECTORS: a file carrying a DV rewrites too, whatever its
    // size — the rewrite reads its LIVE rows (bitmap applied) and the
    // fresh add carries no descriptor, so OPTIMIZE is the natural purge
    // point (real OPTIMIZE's behavior; the standalone
    // [[purgeDeletionVectors]] stays for purge-without-compaction).
    // Still dataChange:false: the table's ROWS are untouched, only the
    // encoding of the deletes changes, so streaming consumers skip it.
    val rewriteByPv = adds
      .groupBy(_.partitionValues)
      .map { case (pv, as) =>
        val small = as.filter(a =>
          new File(a.path).length < smallFileBytes)
        val withDv = as.filter(_.dv.isDefined)
        pv -> ((if (small.size >= 2) small else Seq.empty) ++
          withDv.filterNot(a => small.size >= 2 && small.contains(a)))
      }
      .filter(_._2.nonEmpty)
    if (rewriteByPv.isEmpty)
      return OptimizeStats(base, 0, 0)
    // live bytes restage as stored (mapped names and ids included) —
    // never a logical decode/re-encode
    val request = rewriteSchema(spark, tablePath, adds).request
    val conf = spark.sessionState.newHadoopConf()
    val actions = rewriteByPv.toSeq.map { case (pv, group) =>
      val packed = rewriteScan(spark, root, request, group)
        .coalesce(targetFiles)
      val files = stageDataFiles(packed, root)
      val removes = group.map { a =>
        // the log's RECORDED path (URL-encoded relative for partitioned
        // layouts) — a re-derived path would not byte-match the add and
        // the replay would keep the file live
        s"""{"remove":{"path":"${jsonEscape(a.recordedPath)}","dataChange":false}}"""
      }
      // same footer-derived stats as a data commit — compaction must
      // not degrade data skipping
      val addsJson = files.map(addAction(conf, _, packed.schema, pv,
        dataChange = false))
      (group.size, files.size, removes ++ addsJson)
    }
    val version = base + 1
    publish(logDir, version, actions.flatMap(_._3) :+
      """{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{}}}""")
    OptimizeStats(version, actions.map(_._1).sum, actions.map(_._2).sum)
  }

  /** OPTIMIZE ZORDER BY — rewrite the live set clustered along the Morton
    * curve over `zCols` (the Databricks `OPTIMIZE ... ZORDER BY` verb):
    * after the rewrite a selective predicate on ANY z column — or a box
    * over several — prunes files via the re-derived footer stats, where a
    * lexicographic sort helps only its leading column. This is the layout
    * lever for multi-column point/range lookups at 100 TB: data skipping
    * quality IS scan cost, and one curve-ordered rewrite buys pruning on
    * every z dimension at once.
    *
    * Unlike bin-packing [[optimize]] (which touches only small files),
    * Z-ordering is a re-CLUSTERING: every live file rewrites, range-
    * partitioned by z-value into `targetFiles` equal-row outputs (0 =
    * auto-size at 128 MB). Live deletion vectors compose — both scans
    * filter through the bitmaps and the fresh adds drop the
    * descriptors, so the re-cluster doubles as a purge. Same commit discipline as optimize: ONE commit,
    * remove/add actions `dataChange:false` (rows untouched — streaming
    * consumers skip it), per-file stats from the new footers, history
    * time-travels until vacuum. Ranking per column is a RANGE rank from
    * one multi-column approximate-quantile pass (skew-proof; the legacy
    * linear min/max scaling survives as `linearRanks` for the skew
    * spec's comparison). Partitioned tables cluster PER PARTITION with
    * group-local quantiles, fresh files inheriting their tuples.
    */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, zCols: Seq[String], bits: Int = 8,
      targetFiles: Int = 0, linearRanks: Boolean = false): OptimizeStats = {
    import org.apache.spark.sql.functions._
    require(zCols.size >= 2,
      "ZORDER BY needs at least 2 columns (1-D clustering is a plain sort)")
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val adds = DeltaLog.liveAdds(spark, tablePath)
    require(adds.nonEmpty,
      s"optimize zorder on a table with no live files: $tablePath")
    // live DELETION VECTORS compose: every scan below (boundary
    // quantiles AND the per-group rewrite) filters through the bitmaps,
    // and the fresh adds carry no descriptor — a full-table re-cluster
    // is a purge point exactly like optimize (x28b); linear-rank mode
    // gets its min/max from the filtered frame too
    // mapped tables re-cluster first-class: the scans read physical
    // bytes and the rewrite restages byte-compatible files; callers name
    // z columns LOGICALLY and the translation below keys every scan/rank
    // on the physical name
    val scanSchema = rewriteSchema(spark, tablePath, adds)
    val zPhysByLogical: Map[String, String] =
      scanSchema.logical.fieldNames.zip(DeltaLog.physicalize(
        scanSchema.logical).asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames).toMap
    def physOfZ(c: String): String = zPhysByLogical.getOrElse(c, c)
    // PARTITIONED tables Z-order PER PARTITION (real OPTIMIZE ZORDER's
    // rule: clustering never crosses partition boundaries, and the
    // tuple itself already prunes): each group gets its own quantile
    // boundaries — group-local value distributions, not global ones —
    // and its fresh files inherit the tuple. One commit for all groups;
    // the driver loop is bounded by partition count, same class as the
    // per-partition planning of the real command. Z columns must be
    // DATA columns (a partition column is constant within its group;
    // pv keys are physical, so the comparison is physical-vs-physical).
    val zPartCols = adds.flatMap(_.partitionValues.keys).distinct
    zCols.foreach(c => require(!zPartCols.contains(physOfZ(c)),
      s"ZORDER column $c is a partition column of $tablePath — it is " +
        "constant within every partition and cannot cluster"))
    val top = (1L << bits) - 1
    val groups = adds.groupBy(_.partitionValues).toSeq
    // canonical string key for a partition tuple — identical on both
    // sides (the batched quantile job and the per-group rewrite loop)
    // because both render the SAME log partitionValues maps; the NUL
    // sentinel distinguishes SQL NULL from the literal string "null"
    // (written as escapes so the source file stays pure text)
    def pvKey(pv: Map[String, String]): String = pv.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${Option(v).getOrElse("\u0000")}" }
      .mkString("\u0001")
    // Default ranks are RANGE ranks (per-dimension approximate quantiles,
    // what real OPTIMIZE ZORDER's range-partitioned clustering computes):
    // a heavy-tailed dimension still spreads its rows across the full
    // 2^bits rank domain, so the Morton interleave stays balanced. The
    // legacy linear (c-mn)/(mx-mn) scaling collapses a skewed column into
    // a few rank values (every outlier-free row lands near rank 0) and is
    // kept only as the comparison baseline for the skew spec.
    //
    // ALL partition groups' boundaries come from ONE grouped
    // percentile_approx job: the former per-group approxQuantile loop was
    // a SERIAL driver loop of Spark jobs — thousands of sequential jobs
    // at 10³+ partitions. Here every live file is read once, each row is
    // keyed by its file's partition tuple (broadcast file→key map joined
    // on _metadata.file_name, captured by select BEFORE the join — the
    // pseudo-column does not survive joins), and one aggregation yields
    // every group's per-dimension boundaries. Driver state is
    // O(groups × dims × 2^bits) doubles — the same boundaries it held
    // before, arriving in one job instead of `groups` jobs.
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
    val boundsByKey: Map[String, Seq[Seq[Double]]] =
      if (linearRanks) Map.empty
      else {
        val keyRows = groups.flatMap { case (pv, as) =>
          as.map(a => (new File(a.path).getName, pvKey(pv)))
        }
        val sess = spark
        import sess.implicits._
        val keyDf = keyRows.toDF("__fname", "__pvkey")
        val scan = rewriteScan(spark, root, scanSchema.request, adds)
        zCols.foreach(c => require(scan.columns.contains(physOfZ(c)),
          s"ZORDER column not in table: $c"))
        val aggs = zCols.zipWithIndex.map { case (c, i) =>
          percentile_approx(col(physOfZ(c)).cast("double"),
            array(probs.map(lit(_)): _*), lit(1 << (bits + 2)))
            .as(s"__graft_zq_$i")
        }
        val keyed = scan
          .select(zCols.map(c => col(physOfZ(c))) :+
            element_at(split(col("_metadata.file_path"), "/"), -1)
              .as("__fname"): _*)
          .join(broadcast(keyDf), "__fname")
        // named job: the UI (and the job-count spec) can see the whole
        // boundary pass is ONE submission regardless of group count
        spark.sparkContext.setJobDescription("graft zorder boundaries")
        try keyed.groupBy(col("__pvkey")).agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> zCols.indices.map(i =>
              Option(r.getSeq[Double](i + 1)).getOrElse(Seq.empty[Double]))
          }.toMap
        finally spark.sparkContext.setJobDescription(null)
      }
    def groupRanks(df: DataFrame,
        pv: Map[String, String]): Seq[org.apache.spark.sql.Column] =
      if (linearRanks) {
        val statCols = zCols.flatMap(c => Seq(
          min(col(physOfZ(c))).cast("double").as(s"mn_$c"),
          max(col(physOfZ(c))).cast("double").as(s"mx_$c")))
        val stats = df.agg(statCols.head, statCols.tail: _*).first()
        zCols.zipWithIndex.map { case (c, i) =>
          // all-NULL live column → null min/max → rank 0 (never a bare
          // NullPointerException out of Row.getDouble)
          if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) lit(0L)
          else {
            val mn = stats.getDouble(2 * i)
            val mx = stats.getDouble(2 * i + 1)
            if (mx <= mn) lit(0L)
            else coalesce(least(lit(top), greatest(lit(0L),
              floor((col(physOfZ(c)).cast("double") - lit(mn)) /
                lit(mx - mn) * top).cast("long"))), lit(0L))
          }
        }
      } else {
        val allQs = boundsByKey.getOrElse(pvKey(pv),
          zCols.map(_ => Seq.empty[Double]))
        zCols.zipWithIndex.map { case (c, i) =>
          // duplicate boundaries (a value spanning many quantiles)
          // dedupe away; an all-NULL column has no quantiles → rank 0
          val qs = allQs(i).filterNot(_.isNaN).distinct.sorted
          if (qs.isEmpty) lit(0L)
          else {
            val boundaries = array(qs.map(lit(_)): _*)
            // rank = #boundaries <= value, RESCALED to the full 0..top
            // domain (dedupe shrinks the boundary count, and an
            // unscaled rank would zero this dimension's high Morton
            // bits, letting the other dimensions dominate the
            // interleave); NULL value → 0
            val raw = coalesce(aggregate(boundaries, lit(0L), (acc, b) =>
              acc + when(col(physOfZ(c)).cast("double") >= b, lit(1L))
                .otherwise(lit(0L))), lit(0L))
            floor(raw * lit(top) / lit(qs.length.toLong)).cast("long")
          }
        }
      }
    // per-group rewrites are INDEPENDENT (disjoint input files, unique
    // staging dirs, one log publish afterwards) — run them on a bounded
    // pool so wall time stays sub-linear in partition count; the serial
    // alternative pays (sample job + write job) × groups end to end
    val rewriteParallelism = math.max(1, math.min(8, groups.size))
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(rewriteParallelism)
    implicit val zEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val conf = spark.sessionState.newHadoopConf()
    val groupFutures = groups.map { case (pv, groupAdds) =>
      scala.concurrent.Future {
        val df = rewriteScan(spark, root, scanSchema.request, groupAdds)
        zCols.foreach(c => require(df.columns.contains(physOfZ(c)),
          s"ZORDER column not in table: $c"))
        val z = graft.operators.Compaction
          .mortonInterleave(groupRanks(df, pv), bits)
        val target =
          if (targetFiles >= 1) targetFiles
          else {
            val liveBytes = groupAdds.map(a => new File(a.path).length).sum
            math.max(1L, (liveBytes + (128L << 20) - 1) / (128L << 20)).toInt
          }
        val clustered = df.withColumn("__graft_z", z)
          .repartitionByRange(target, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
        val files = stageDataFiles(clustered, root)
        val removes = groupAdds.map { a =>
          s"""{"remove":{"path":"${jsonEscape(a.recordedPath)}",""" +
            """"dataChange":false}}"""
        }
        removes ++ files.map(addAction(conf, _, df.schema, pv,
          dataChange = false))
      }
    }
    val actions =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(groupFutures),
        scala.concurrent.duration.Duration.Inf).flatten
      finally pool.shutdown()
    val version = base + 1
    publish(logDir, version, actions :+
      (s"""{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{""" +
        s""""zOrderBy":"${jsonEscape(zCols.mkString(","))}"}}}"""))
    OptimizeStats(version, adds.size,
      actions.count(_.startsWith("{\"add\"")))
  }

  /** An EXISTING table's recorded partitioning is a protocol contract:
    * adds whose partitionValues keys disagree with
    * `metaData.partitionColumns` corrupt the table (readers re-inject
    * and prune by exactly those keys), so both append paths validate
    * against the log before staging a byte. Names compare LOGICAL —
    * `partitionColumns` records logical names under column mapping.
    */
  private def requirePartitioningMatches(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String, partitionCols: Seq[String]): Unit =
    DeltaLog.tableMetaData(spark, tablePath).foreach { meta =>
      val recorded = meta.get("partitionColumns")
        .collect { case s: Seq[_] => s.map(String.valueOf) }
        .getOrElse(Seq.empty)
      require(recorded == partitionCols,
        s"table is partitioned by [${recorded.mkString(",")}], not " +
          s"[${partitionCols.mkString(",")}]" +
          (if (partitionCols.isEmpty) " — use appendPartitioned" else "") +
          s": $tablePath")
    }

  /** PARTITIONED append: one atomic commit whose data files land under
    * hive-style `col=value/` directories and whose add actions carry the
    * `partitionValues` map — the Delta layout where partition columns
    * live in the LOG, not the parquet (Spark's partitionBy writer
    * already strips them from the files; [[DeltaLog.read]] re-injects
    * them from the log's broadcast file→pv map). At 100 TB this is the
    * first pruning lever: [[DeltaLog.livePartitionAdds]] answers a
    * partition predicate from log metadata alone — zero data files
    * touched for pruning. Returns the committed version.
    */
  def appendPartitioned(df: DataFrame, tablePath: String,
      partitionCols: Seq[String]): Long = {
    require(partitionCols.nonEmpty, "use append() for unpartitioned writes")
    appendCommit(df, tablePath, partitionCols, None).get // no txn: no veto
  }

  private def relPath(root: File, p: String): String = {
    val rootPath = root.getAbsolutePath
    if (p.startsWith(rootPath)) p.substring(rootPath.length).stripPrefix("/")
    else p
  }

  /** CONVERT TO DELTA — adopt an existing directory of parquet files as a
    * Delta table IN PLACE, zero copy (the Databricks `CONVERT TO DELTA`
    * statement; reference tables register parquet dirs the same way via
    * `src/db.rs:142-144`, but gain no log). This is the 100 TB onboarding
    * path: a corpus that already exists as parquet must never be
    * rewritten just to gain ACID commits, time travel, and stats-based
    * pruning — conversion writes ONE version-0 commit whose add actions
    * point at the files exactly where they are:
    *
    *  - no data file is moved, rewritten, or copied — the commit is
    *    O(files) metadata, not O(bytes) data;
    *  - each add action carries per-file column stats read from the
    *    parquet FOOTER only ([[fileStats]]), so `countFromStats` and
    *    [[DeltaLog.pruneByStats]] work on the adopted table immediately;
    *  - a hive-partitioned layout (`col=value/` directories) converts
    *    with `partitionCols`: partition values are decoded from the
    *    directory names into add-action `partitionValues` (the Delta
    *    protocol's home for them — the spec's CONVERT does exactly this
    *    directory harvest), null partitions via the
    *    `__HIVE_DEFAULT_PARTITION__` sentinel;
    *  - refuses directories that are already Delta tables, layouts whose
    *    hive keys disagree with `partitionCols` (adopting half a layout
    *    would shadow or lose columns), and empty directories.
    *
    * After conversion the table is a first-class Delta table: append /
    * merge / delete / optimize / checkpoint / time travel all apply, and
    * version 0 IS the adoption point. Returns the committed version (0).
    */
  def convertParquet(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, partitionCols: Seq[String] = Seq.empty): Long = {
    val root = new File(tablePath)
    require(root.isDirectory, s"not a directory: $tablePath")
    val logDir = new File(root, "_delta_log")
    require(DeltaLog.headVersion(logDir) < 0L,
      s"already a Delta table: $tablePath — CONVERT adopts plain parquet only")
    // schema BEFORE creating the log dir (an empty _delta_log would be
    // skipped by the footer walk anyway, but keep the read pristine)
    val schema = Tables.read(spark, tablePath).schema
    // the DRIVER walks only the DIRECTORY tree (one entry per hive
    // partition — metadata small even at 10⁵ partitions); the per-dir
    // FILE listing, the per-file FOOTER reads, AND the add-action
    // RENDERING all run DISTRIBUTED, one task per directory slice. Each
    // slice writes its rendered actions to a staging text file and
    // returns only (count, staging path, layout violations) — at 10⁷
    // adopted files the driver never materializes the manifest: the
    // commit is assembled by STREAMING the slice files into the staged
    // version-0 JSON (bounded driver heap, one buffered line at a
    // time). This is real CONVERT TO DELTA's shape end to end.
    def walkDirs(dir: File,
        pv: Map[String, String]): Seq[(String, Map[String, String])] =
      (dir.getPath -> pv) +:
        Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
          case d if d.isDirectory && d.getName.contains("=") =>
            val Array(k, v) = d.getName.split("=", 2)
            val value =
              if (v == "__HIVE_DEFAULT_PARTITION__") null else hivePathDecode(v)
            walkDirs(d, pv + (hivePathDecode(k) -> value))
          case _ => Seq.empty
        }
    val dirs = walkDirs(root, Map.empty)
    // stats come from DATA columns only — partition values live in the
    // directory names, not the footers
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f => partitionCols.contains(f.name)))
    val slices = math.max(1, math.min(dirs.size,
      spark.sparkContext.defaultParallelism))
    // staging lives under _delta_log, which may not exist yet — if a
    // refusal below aborts the conversion, an empty _delta_log we
    // created must not survive (directory presence IS table detection
    // for the db-dir walk)
    val logDirExisted = logDir.isDirectory
    val manifestDir = new File(logDir, s".graft-manifest-${java.util.UUID.randomUUID}")
    manifestDir.mkdirs()
    val manifestPath = manifestDir.getAbsolutePath
    val rootPath = root.getAbsolutePath
    val declaredParts = partitionCols.toSet
    // staging cleanup runs on EVERY exit — the refusal paths, the
    // publish, and a failed manifest job (which would otherwise leak an
    // empty _delta_log that the db-dir walk misreads as a Delta table)
    def cleanupManifest(): Unit = {
      Option(manifestDir.listFiles()).getOrElse(Array.empty)
        .foreach(f => Files.deleteIfExists(f.toPath))
      Files.deleteIfExists(manifestDir.toPath)
      if (!logDirExisted &&
          Option(logDir.listFiles()).forall(_.isEmpty))
        Files.deleteIfExists(logDir.toPath)
      ()
    }
    spark.sparkContext.setJobDescription("graft convert manifest")
    val shipped = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    // per slice: (adds rendered, staging file, first misplaced samples)
    val perSlice: Array[(Long, String, Seq[String])] =
      try spark.sparkContext
        .parallelize(dirs.map { case (p, pv) => (p, pv.toSeq) }, slices)
        .mapPartitionsWithIndex { case (idx, it) =>
          val rootF = new File(rootPath)
          val outF = new File(manifestPath, f"slice-$idx%05d")
          val misplaced = scala.collection.mutable.ArrayBuffer.empty[String]
          var n = 0L
          val w = new java.io.BufferedWriter(new java.io.FileWriter(outF,
            StandardCharsets.UTF_8))
          try it.foreach { case (dirPath, pvSeq) =>
            val pv = pvSeq.toMap
            Option(new File(dirPath).listFiles()).getOrElse(Array.empty)
              .filter(f => f.isFile && f.getName.endsWith(".parquet"))
              .sortBy(_.getPath)
              .foreach { f =>
                // every file must carry EXACTLY the declared partition
                // keys: a file at the wrong depth would either lose its
                // partition values or shadow data columns at read time
                if (pv.keySet != declaredParts) {
                  if (misplaced.size < 3)
                    misplaced += s"${relPath(rootF, f.getPath)} carries " +
                      s"[${pv.keys.mkString(",")}]"
                } else {
                  w.write(partitionedAddAction(shipped.value, rootF, f, pv,
                    dataSchema, dataChange = true))
                  w.newLine()
                  n += 1
                }
              }
          } finally w.close()
          if (n == 0L && misplaced.isEmpty) { outF.delete(); Iterator.empty }
          else Iterator((n, outF.getPath, misplaced.toSeq))
        }
        .collect()
      catch {
        case t: Throwable => cleanupManifest(); throw t
      } finally spark.sparkContext.setJobDescription(null)
    val misplaced = perSlice.flatMap(_._3)
    if (misplaced.nonEmpty) cleanupManifest()
    require(misplaced.isEmpty,
      s"hive layout disagrees with partitionCols ${partitionCols.mkString(",")}: " +
        misplaced.take(3).mkString("; "))
    val total = perSlice.map(_._1).sum
    if (total == 0L) cleanupManifest()
    require(total > 0L, s"no parquet files to convert under $tablePath")
    val sliceFiles = perSlice.map(_._2).sorted.map(new File(_)).toSeq
    try publishStreamed(logDir, 0L,
      headerActions(schema, partitionCols), sliceFiles,
      Seq(s"""{"commitInfo":{"operation":"CONVERT","operationParameters":{""" +
        s""""numFiles":"$total"}}}"""))
    finally cleanupManifest()
    0L
  }

  /** [[publish]] in its STREAMING form, for commits whose action list
    * is too large to hold on the driver (CONVERT at 10⁷ files): header
    * actions, then the lines of each staged manifest file (copied one
    * buffered line at a time), then the tail, staged to a tmp file and
    * claimed as `version` in one atomic step.
    */
  private def publishStreamed(logDir: File, version: Long,
      header: Seq[String], lineFiles: Seq[File],
      tail: Seq[String]): Unit = {
    val tmp = new File(logDir, s".tmp-${java.util.UUID.randomUUID}.json")
    val w = java.nio.file.Files.newBufferedWriter(tmp.toPath,
      StandardCharsets.UTF_8)
    try {
      var first = true
      def writeLine(s: String): Unit = {
        if (!first) w.write("\n")
        w.write(s); first = false
      }
      header.foreach(writeLine)
      lineFiles.foreach { lf =>
        val r = java.nio.file.Files.newBufferedReader(lf.toPath,
          StandardCharsets.UTF_8)
        try {
          var line = r.readLine()
          while (line != null) {
            if (line.nonEmpty) writeLine(line)
            line = r.readLine()
          }
        } finally r.close()
      }
      tail.foreach(writeLine)
    } finally w.close()
    val target = new File(logDir, f"$version%020d.json")
    // ATOMIC claim of the version: link(2) fails with EEXIST if the target
    // exists — unlike rename(2), which POSIX makes silently REPLACE it (a
    // plain ATOMIC_MOVE here would let two writers both "win" version N
    // and one commit vanish; the spec pins this refusal)
    try Files.createLink(target.toPath, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp.toPath)
        throw new ConcurrentCommitException(
          s"concurrent Delta commit: version $version already exists in " +
            s"$logDir — retry at the next version")
    } finally Files.deleteIfExists(tmp.toPath)
  }

  /** SHALLOW CLONE — create a new Delta table whose version 0 references
    * the SOURCE table's live files by absolute path (Databricks'
    * `CREATE TABLE ... SHALLOW CLONE src [VERSION AS OF n]`): zero data
    * copied, O(files) metadata. The clone then diverges freely — appends,
    * merges, deletes, optimize land in the CLONE's own log and never
    * touch the source — which is the 100 TB experimentation pattern:
    * branch a curated corpus for an ablation without paying for a copy.
    *
    *  - `versionAsOf` clones the source AS OF that version — the clone's
    *    version 0 is a frozen, named branch point of the source's history;
    *  - add actions carry the source's per-file stats verbatim, so
    *    `countFromStats` / [[DeltaLog.pruneByStats]] work on the clone
    *    immediately; partition values carry the same way;
    *  - the source's metaData (schema, partition columns, configuration)
    *    is copied under a NEW table id; the protocol is carried verbatim
    *    so feature-gated tables stay gated;
    *  - refuses sources with live deletion vectors (a DV descriptor's
    *    file path resolves against ITS table root — the clone would
    *    resolve it against the wrong root; purge first), and targets that
    *    are already Delta tables.
    *
    * Same caveat as real Delta: VACUUM on the SOURCE can reclaim files a
    * clone still references (the source's log does not know about
    * clones) — vacuum the source only after its clones are dropped or
    * rewritten. VACUUM on the clone is safe: source files live outside
    * the clone root and are never reclaim candidates. Returns the clone's
    * committed version (0).
    */
  def cloneShallow(spark: org.apache.spark.sql.SparkSession,
      sourcePath: String, targetPath: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcRoot = new File(sourcePath)
    val dstRoot = new File(targetPath)
    require(srcRoot.getAbsolutePath != dstRoot.getAbsolutePath,
      "clone source and target are the same path")
    val dstLog = new File(dstRoot, "_delta_log")
    require(DeltaLog.headVersion(dstLog) < 0L,
      s"clone target is already a Delta table: $targetPath")
    val adds = DeltaLog.liveAdds(spark, sourcePath, versionAsOf)
    require(adds.nonEmpty, s"clone source has no live files: $sourcePath")
    require(adds.forall(_.dv.isEmpty),
      s"live deletion vectors in $sourcePath — DV paths resolve against " +
        "the source root and would dangle in the clone; purge first " +
        "(REORG ... APPLY (PURGE))")
    val meta = DeltaLog.tableMetaData(spark, sourcePath, versionAsOf)
      .getOrElse(throw new IllegalArgumentException(
        s"clone source has no metaData action: $sourcePath"))
    val schemaString = meta.get("schemaString")
      .collect { case s: String => s }
      .getOrElse(throw new IllegalArgumentException(
        s"clone source metaData has no schemaString: $sourcePath"))
    val pCols = meta.get("partitionColumns")
      .collect { case s: Seq[_] => s.map(String.valueOf) }
      .getOrElse(Seq.empty)
    val conf = meta.get("configuration")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty[String, Any])
    val (mr, mw, rf, wf) = DeltaLog.currentProtocol(sourcePath)
    def strArr(xs: Seq[String]): String =
      xs.map(x => "\"" + jsonEscape(x) + "\"").mkString("[", ",", "]")
    val protoJson =
      s"""{"protocol":{"minReaderVersion":$mr,"minWriterVersion":$mw""" +
        (if (rf.isEmpty) "" else s""","readerFeatures":${strArr(rf)}""") +
        (if (wf.isEmpty) "" else s""","writerFeatures":${strArr(wf)}""") +
        "}}"
    val confJson = conf.map { case (k, v) =>
      s""""${jsonEscape(k)}":"${jsonEscape(String.valueOf(v))}""""
    }.mkString("{", ",", "}")
    val metaJson =
      s"""{"metaData":{"id":"${java.util.UUID.randomUUID}",""" +
        """"format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${jsonEscape(schemaString)}",""" +
        s""""partitionColumns":${strArr(pCols)},""" +
        s""""configuration":$confJson}}"""
    val addJsons = adds.map { a =>
      val f = new File(a.path)
      require(f.isFile,
        s"clone source references a missing file (vacuumed?): ${a.path}")
      val pvJson = a.partitionValues.map {
        case (k, null) => s""""${jsonEscape(k)}":null"""
        case (k, v) => s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
      }.mkString("{", ",", "}")
      s"""{"add":{"path":"${jsonEscape(f.getAbsolutePath)}",""" +
        s""""partitionValues":$pvJson,"size":${f.length},""" +
        s""""modificationTime":${f.lastModified},""" +
        a.statsJson.fold("")(s => s""""stats":"${jsonEscape(s)}",""") +
        """"dataChange":true}}"""
    }
    dstLog.mkdirs()
    publish(dstLog, 0L, protoJson +: metaJson +: addJsons :+
      (s"""{"commitInfo":{"operation":"CLONE","operationParameters":{""" +
        s""""source":"${jsonEscape(srcRoot.getAbsolutePath)}",""" +
        s""""sourceVersion":"${versionAsOf.getOrElse(
          DeltaLog.latestVersion(sourcePath))}"}}}"""))
    0L
  }

  /** Write a parquet CHECKPOINT of the current snapshot at the newest
    * committed version, plus the `_last_checkpoint` pointer — the log-
    * compaction step that makes a long-lived Delta table readable in
    * O(1) instead of O(commits). At 100 TB a busy table accumulates
    * thousands of JSON commits; every reader replays ALL of them on every
    * snapshot resolution until a checkpoint collapses the prefix into one
    * parquet file ([[DeltaLog.liveAdds]] already seeds from it). The
    * checkpoint carries the same action columns real Delta writes
    * (protocol / metaData / add rows), so stock readers accept it.
    * Returns the checkpointed version.
    */
  def checkpoint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val commits = commitFiles(logDir)
    require(commits.nonEmpty,
      s"nothing to checkpoint (no JSON commits): $tablePath")
    val version = commits.map(versionOf).max
    val adds = DeltaLog.liveAdds(spark, tablePath)
    require(adds.nonEmpty, s"refusing to checkpoint an empty table: $tablePath")
    // carry the table's REAL metaData action (v0 commit, or a later schema
    // evolution) into the checkpoint: schemaString includes partition
    // columns the data files strip, partitionColumns drives partition-
    // aware readers, and `format` is mandatory per the protocol. Deriving
    // any of these from the data files would silently drop the partition
    // layout for partitioned tables.
    val meta = DeltaLog.tableMetaData(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"cannot checkpoint: no metaData action in the log of $tablePath"))
    def metaStr(k: String): String =
      meta.get(k).collect { case s: String => s }.getOrElse(
        throw new IllegalArgumentException(
          s"metaData action lacks required field $k in $tablePath"))
    val metaPartCols: Seq[String] = meta.get("partitionColumns")
      .collect { case xs: Seq[_] => xs.collect { case s: String => s } }
      .getOrElse(Seq.empty)
    val formatProvider = meta.get("format")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("provider").collect { case s: String => s })
      .getOrElse("parquet")
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      // table-features form (null for legacy protocols): a DV table's
      // checkpoint must carry the feature lists, or a reader seeded from
      // it would trust adds whose semantics it cannot decode
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val formatT = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    val metaDataT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", formatT),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType),
      StructField("sizeInBytes", LongType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType), // real checkpoints carry stats too
      StructField("deletionVector", dvT)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val schema = StructType(Seq(
      StructField("protocol", protocolT),
      StructField("metaData", metaDataT),
      StructField("add", addT),
      StructField("txn", txnT)))
    // txn idempotence records survive log expiry through the checkpoint
    // (real Delta checkpoints carry txn actions for exactly this reason:
    // a streaming sink's retry guard must outlive the JSON commits)
    val txns = DeltaLog.latestTxnVersions(tablePath)
    val (minR, minW, rFeats, wFeats) = DeltaLog.currentProtocol(tablePath)
    val rows: Seq[Row] =
      (Row(Row(minR, minW,
        if (rFeats.isEmpty) null else rFeats,
        if (wFeats.isEmpty) null else wFeats), null, null, null) +:
      Row(null, Row(metaStr("id"), Row(formatProvider,
        Map.empty[String, String]), metaStr("schemaString"), metaPartCols,
        // the REAL configuration map — dropping it here silently
        // forgot column-mapping mode, CDF enablement and CHECK
        // constraints the moment the JSON log expired (caught by the
        // mapped-checkpoint spec)
        meta.get("configuration")
          .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
          .getOrElse(Map.empty[String, Any])
          .collect { case (k, v: String) => k -> v }), null, null) +:
      adds.map { a =>
        val f = new File(a.path)
        val dvRow = a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Long.box).orNull, d.sizeInBytes, d.cardinality)).orNull
        Row(null, null, Row(a.recordedPath, a.partitionValues,
          f.length, f.lastModified, true, a.statsJson.orNull, dvRow), null)
      }) ++
      txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v))
      }
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema)
    // one physical file under the exact protocol name: stage, then move
    val staging = new File(logDir, s".cp-stage-${java.util.UUID.randomUUID}")
    df.coalesce(1).write.parquet(staging.getPath)
    val part = Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).head
    val target = new File(logDir, f"$version%020d.checkpoint.parquet")
    Files.deleteIfExists(target.toPath)
    Files.move(part.toPath, target.toPath)
    Option(staging.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(staging.toPath)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      s"""{"version":$version,"size":${rows.size}}"""
        .getBytes(StandardCharsets.UTF_8))
    version
  }

  /** Log-retention cleanup: delete the JSON commits a checkpoint has made
    * redundant (version <= the `_last_checkpoint` version). Like real
    * Delta's log cleanup this trades history for metadata size: time
    * travel to an expired version fails LOUDLY at read time
    * ([[DeltaLog.liveAdds]] refuses a travel target it cannot replay from
    * version 0 or seed from a checkpoint at/below the target), while
    * current-snapshot reads and future commits are unaffected —
    * [[DeltaLog.headVersion]] counts from the checkpoint. Returns the deleted
    * commit file names.
    */
  def expireLog(tablePath: String): Seq[String] = {
    val logDir = new File(tablePath, "_delta_log")
    val cp = DeltaLog.lastCheckpointVersion(logDir).getOrElse(
      throw new IllegalStateException(
        s"refusing to expire log without a checkpoint: $tablePath"))
    commitFiles(logDir).filter(versionOf(_) <= cp).map { f =>
      Files.delete(f.toPath)
      f.getName
    }.toSeq
  }

  /** Outcome of a [[restoreTo]] commit. */
  final case class RestoreStats(version: Long, filesRemoved: Int,
      filesReAdded: Int)

  /** RESTORE the table to the snapshot at `version`: ONE commit that
    * removes every live file the target snapshot lacks and re-adds every
    * target file the current snapshot dropped — the undo button for a bad
    * overwrite/merge/delete. Pure METADATA: no data file is read, written
    * or moved (tombstoned files still exist physically until VACUUM), so
    * restoring a 100 TB table costs one log append. History is preserved
    * — the bad version remains time-travelable, exactly like real Delta's
    * RESTORE. Fails loudly if a needed file was already vacuumed.
    */
  def restoreTo(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      version: Long): RestoreStats = {
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    val base = DeltaLog.latestVersion(tablePath)
    val target = DeltaLog.liveAdds(spark, tablePath, Some(version))
    val current = DeltaLog.liveAdds(spark, tablePath)
    // identity AND the emitted remove/add paths use the RECORDED form:
    // a remove only tombstones an add it byte-matches, and partitioned
    // adds are URL-encoded on disk. Identity INCLUDES the deletionVector
    // descriptor: restoring across a MoR delete must re-add the same
    // path with the target epoch's DV (or none), not silently keep the
    // current one — the in-commit remove-then-add replay handles the
    // same-path case.
    val targetRel = target.map(a => (a.recordedPath, a.dv)).toSet
    val currentRel = current.map(a => (a.recordedPath, a.dv)).toSet
    val removes = current.filterNot(a =>
      targetRel.contains((a.recordedPath, a.dv)))
    val readds = target.filterNot(a =>
      currentRel.contains((a.recordedPath, a.dv)))
    // real RESTORE restores table METADATA too — schema, partitioning,
    // configuration as of the target version. A file-set-only restore
    // leaves the CURRENT metadata promising a different shape than the
    // re-added files (e.g. partitionColumns=[] over pv-carrying adds
    // after restoring across an overwrite, or the evolved schema over
    // pre-evolution files). Protocol stays put: like real Delta,
    // restore never downgrades reader/writer features.
    val metaAction = (for {
      t <- DeltaLog.tableMetaData(spark, tablePath, Some(version))
      c <- DeltaLog.tableMetaData(spark, tablePath)
      tj = serializeMetaAction(t)
      if tj != serializeMetaAction(c)
    } yield tj).toSeq
    if (removes.isEmpty && readds.isEmpty && metaAction.isEmpty)
      return RestoreStats(base, 0, 0)
    readds.foreach { a =>
      require(new File(a.path).isFile,
        s"cannot restore to version $version: data file was vacuumed: ${a.path}")
      a.dv.foreach { d =>
        val missing = d.storageType match {
          case "u" => DeltaDv.dvFileName(d).filterNot(n =>
            new File(root, n).isFile)
          case "p" => Some(d.pathOrInlineDv)
            .filterNot(p => new File(p).isFile)
          case _ => None // inline rides the log itself
        }
        missing.foreach(n => throw new IllegalArgumentException(
          s"cannot restore to version $version: deletion-vector file was " +
            s"vacuumed: $n"))
      }
    }
    val v = base + 1
    publish(logDir, v,
      metaAction ++
      removes.map(a => removeAction(a)) ++
      readds.map { a =>
        val f = new File(a.path)
        // carry the target snapshot's recorded stats verbatim — a
        // restore must not degrade data skipping or log-fold counts
        s"""{"add":{"path":"${jsonEscape(a.recordedPath)}",""" +
          s""""partitionValues":${pvJson(a.partitionValues)},""" +
          s""""size":${f.length},"modificationTime":${f.lastModified},""" +
          a.statsJson.fold("")(st => s""""stats":"${jsonEscape(st)}",""") +
          a.dv.fold("")(d => s""""deletionVector":${dvJson(d)},""") +
          """"dataChange":true}}"""
      } :+
      s"""{"commitInfo":{"operation":"RESTORE","operationParameters":{"version":$version}}}""")
    RestoreStats(v, removes.size, readds.size)
  }
}
