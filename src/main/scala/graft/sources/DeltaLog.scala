package graft.sources

import java.io.File
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.server.MiniJson

/** Minimal read-only Delta Lake table support (reference registers a
  * `DELTATABLE` factory, `crates/datafusion-app/src/extensions/deltalake.rs:
  * 36-52`; exercised by `tests/extension_cases/deltalake.rs:23-44`).
  *
  * A Delta table is parquet data files plus a `_delta_log` of JSON commits
  * (one action object per line: `add`, `remove`, `metaData`, `protocol`,
  * `commitInfo`) and optional parquet checkpoints. Reading the current
  * snapshot is: start from the latest checkpoint's file list if one exists,
  * replay the JSON commits after it in version order applying add/remove by
  * path, then scan the surviving parquet files.
  *
  * Scale posture: the log is METADATA — kilobytes of JSON per commit and a
  * checkpoint parquet that is tiny relative to the table — so replaying it
  * on the driver is the same driver-side listing cost every Delta reader
  * pays. The data files themselves are never listed or touched here; they
  * flow into a normal distributed parquet scan, keeping pushdown, pruning
  * and split planning intact.
  */
object DeltaLog {

  /** A live data file: absolute path plus the partition values the log
    * assigns it (partition column data lives in the log, not the parquet)
    * and its parsed add-action `stats` (None when the writer recorded
    * none — e.g. checkpoint-seeded entries — in which case the file must
    * always be scanned).
    */
  final case class LiveFile(path: String, partitionValues: Map[String, String],
      stats: Option[Map[String, Any]] = None,
      statsJson: Option[String] = None,
      recordedPath: String = "",
      dv: Option[DeltaDv.Descriptor] = None)

  /** Protocol gate. Two shapes are readable here: the classic
    * minReaderVersion <= 1 with no reader features, and minReaderVersion 3
    * whose readerFeatures are a subset of {deletionVectors} — the
    * table-features form a MoR DELETE upgrade commits, whose semantics
    * this reader fully implements ([[DeltaDv]] + the scan-side dead-row
    * filter below). Column mapping (minReaderVersion 2, or the
    * `columnMapping` feature) diverges physical from logical column names
    * and stays refused: replaying it blind would decode silently wrong.
    * The reference delegates this refusal to delta-rs, which rejects
    * unsupported reader versions; we do the same, loudly, at replay time.
    */
  private[sources] val DvFeature = "deletionVectors"

  private[sources] val CmFeature = "columnMapping"

  private def checkProtocol(minReader: Long, readerFeatures: Seq[Any],
      where: String): Unit = {
    val feats = readerFeatures.collect { case s: String => s }
    val ok =
      (minReader <= 2L && readerFeatures.isEmpty) ||
        (minReader == 3L && feats.size == readerFeatures.size &&
          feats.toSet.subsetOf(Set(DvFeature, CmFeature)))
    require(ok,
      s"unsupported Delta reader protocol in $where: minReaderVersion=" +
        s"$minReader, readerFeatures=${readerFeatures.mkString("[", ",", "]")}" +
        " — this reader supports minReaderVersion <= 2 with no reader " +
        s"features, or minReaderVersion 3 with readerFeatures ⊆ " +
        s"[$DvFeature, $CmFeature]. Column-mapping semantics are enforced " +
        "at scan time from the metaData (name and id modes decoded)")
  }

  // ---- COLUMN MAPPING --------------------------------------------------
  // minReaderVersion 2 / the columnMapping table feature: parquet files
  // store PHYSICAL field names (e.g. `col-<uuid>`), and the metaData
  // schemaString carries each logical field's
  // `delta.columnMapping.physicalName` metadata. NAME mode is decoded
  // here: scan with the fully physicalized schema (every nesting level —
  // parquet resolves nested fields by name), then rename back to logical
  // via a positional struct cast. ID mode resolves columns by parquet
  // footer field id (`delta.columnMapping.id` → `parquet.field.id` on
  // the request schema, Spark's native field-id matching) — physical
  // names and column order in the files are irrelevant by design.

  private[sources] val PhysNameKey = "delta.columnMapping.physicalName"

  private[sources] val FieldIdKey = "delta.columnMapping.id"

  /** Spark's parquet field-id resolution key: a request-schema field
    * carrying this metadata matches the footer column with that id, not
    * the name — exactly what Delta ID-mode (and Iceberg) readers need.
    */
  private[sources] val ParquetFieldIdKey = "parquet.field.id"

  /** `delta.columnMapping.mode` from the metaData configuration. */
  private[sources] def mappingMode(meta: Option[Map[String, Any]]): String =
    meta.flatMap(_.get("configuration"))
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("delta.columnMapping.mode"))
      .collect { case s: String => s }
      .getOrElse("none")

  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  /** Rename every nesting level to physical names (the on-disk shape).
    * `fieldIds` also stamps each field's `delta.columnMapping.id` as
    * `parquet.field.id` (the ID-mode request: Spark's reader resolves
    * every column by footer field id); a field without one cannot be
    * resolved and refuses.
    */
  private[sources] def physicalize(dt: org.apache.spark.sql.types.DataType,
      fieldIds: Boolean = false): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val md =
          if (!fieldIds) Metadata.empty
          else {
            require(f.metadata.contains(FieldIdKey),
              s"ID-mode column-mapped field '${f.name}' lacks $FieldIdKey " +
                "in the metaData schemaString — cannot resolve it against " +
                "parquet footers")
            new MetadataBuilder()
              .putLong(ParquetFieldIdKey, f.metadata.getLong(FieldIdKey))
              .build()
          }
        StructField(physName(f), physicalize(f.dataType, fieldIds),
          f.nullable, md)
      })
      case ArrayType(et, n) => ArrayType(physicalize(et, fieldIds), n)
      case MapType(k, v, n) =>
        MapType(physicalize(k, fieldIds), physicalize(v, fieldIds), n)
      case other => other
    }
  }

  /** Strip mapping metadata, keeping logical names (the cast target). */
  private def logicalType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, logicalType(f.dataType), f.nullable)))
      case ArrayType(et, n) => ArrayType(logicalType(et), n)
      case MapType(k, v, n) => MapType(logicalType(k), logicalType(v), n)
      case other => other
    }
  }

  /** The field-id read switch, set wherever a request schema carries
    * `parquet.field.id` (it is inert for request schemas without ids, so
    * it is set session-wide).
    */
  private[sources] def enableFieldIdRead(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Columns [[decode]] can keep from the raw scan: each row's physical
    * identity (the scan's file URI and the row's index in that file).
    */
  private[sources] val RowIdentity = Seq("__graft_dv_file", "__graft_dv_pos")

  /** A Delta file set's scan schema: the table's `logical` fields
    * (partition keys the schema does not cover join as strings), split
    * by the files' own partition keys into `part` (data lives in the
    * log) and `data`, and the `request` schema of the data fields as
    * the files store them.
    */
  private[sources] final case class ScanSchema(mode: String,
      logical: org.apache.spark.sql.types.StructType,
      part: Seq[org.apache.spark.sql.types.StructField],
      data: Seq[org.apache.spark.sql.types.StructField],
      request: org.apache.spark.sql.types.StructType)

  /** A field's partitionValues key: its physical name under mapping. */
  private def pvKey(mode: String,
      f: org.apache.spark.sql.types.StructField): String =
    if (mode == "none") f.name else physName(f)

  /** THE SCAN SCHEMA of `adds`, step 1 of [[decode]] and the schema of
    * every rewrite scan ([[DeltaWrite]]'s OPTIMIZE, ZORDER and DV purge):
    * from the mapping mode (none, name, id) and the metaData schema in
    * force at `versionAsOf` — physical names under name mode, physical
    * names stamped with `parquet.field.id` under id mode, the declared
    * fields otherwise; a log with no metaData names it from one footer.
    * A file lacking a declared column reads it as NULL. Driver-side: no
    * job runs. `reserved` columns (the cdc `_change_type`) stay out of a
    * footer-named schema.
    */
  private[sources] def scanSchema(spark: SparkSession, tablePath: String,
      adds: Seq[LiveFile], versionAsOf: Option[Long],
      reserved: Set[String] = Set.empty): ScanSchema = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    require(adds.nonEmpty, s"Delta table has no live files: $tablePath")
    val meta = tableMetaData(spark, tablePath, versionAsOf)
    val mode = mappingMode(meta)
    require(Set("none", "name", "id")(mode),
      s"delta.columnMapping.mode '$mode' is not a Delta protocol mode in " +
        s"$tablePath — name and id are decoded; anything else is refused " +
        "rather than decoded wrong")
    val declared = schemaOf(meta)
    require(mode == "none" || declared.isDefined,
      s"column-mapped table without a parseable schemaString: $tablePath")
    // a mixed table (some files carry a column in their data, some in
    // pv) cannot be reconciled: injection would shadow real data
    val pvKeys = adds.head.partitionValues.keySet
    val mixed = adds.flatMap(_.partitionValues.keys).distinct
      .filterNot(k => adds.forall(_.partitionValues.contains(k)))
    require(mixed.isEmpty,
      s"mixed partitioned/unpartitioned Delta table: add actions " +
        s"disagree on partition column(s) ${mixed.mkString(",")} in " +
        s"$tablePath — the files without partitionValues keep that column " +
        "in their data, which log-side injection would shadow. Rewrite " +
        "the table with one layout")
    val schema = declared.getOrElse {
      val footer = Tables.schema(spark, adds.head.path)
      val clash = pvKeys.filter(footer.fieldNames.contains)
      require(clash.isEmpty,
        s"mixed partitioned/unpartitioned Delta table: column(s) " +
          s"${clash.mkString(",")} present both in data files and in " +
          "add-action partitionValues — rewrite the table with one layout")
      StructType(footer.fields.filterNot(f => reserved(f.name)))
    }
    val uncovered = pvKeys.toSeq.sorted
      .filterNot(schema.fields.map(pvKey(mode, _)).contains)
    val logical = StructType(schema.fields ++
      uncovered.map(StructField(_, StringType)))
    val (part, data) =
      logical.fields.toSeq.partition(f => pvKeys(pvKey(mode, f)))
    if (mode == "id") enableFieldIdRead(spark)
    val request =
      if (mode == "none") StructType(data)
      else physicalize(StructType(data), fieldIds = mode == "id")
        .asInstanceOf[StructType]
    ScanSchema(mode, logical, part, data, request)
  }

  /** THE DECODE: how a set of Delta data files becomes the table's
    * logical rows. Every reader picks its files and calls this, so a
    * pruned read is [[read]] over fewer files by construction:
    *
    *  1. the request schema is [[scanSchema]]'s;
    *  2. ONE raw parquet scan with that explicit schema; deletion vectors
    *     apply here, and `rowIdentity` / `changeType` keep the row's
    *     physical identity ([[RowIdentity]]) or the cdc file's reserved
    *     `_change_type` column from this scan;
    *  3. physical names become logical names (id mode resolved the
    *     columns by footer field id, name mode by physical name);
    *  4. partition values join in from the files' `partitionValues`:
    *     literals when every file shares one tuple, otherwise ONE
    *     broadcast (file -> tuple) join on `input_file_name()` — a
    *     per-partition union would plan one branch per partition;
    *  5. columns take their declared types, in schema order (kept raw
    *     columns last).
    */
  private def decode(spark: SparkSession, tablePath: String,
      adds: Seq[LiveFile], versionAsOf: Option[Long],
      rowIdentity: Boolean = false, changeType: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    def q(c: String): String = s"`$c`"
    val reserved = if (changeType) Set(ChangeType) else Set.empty[String]
    // 1. request schema
    val ScanSchema(mode, logical, part, data, request) =
      scanSchema(spark, tablePath, adds, versionAsOf, reserved)
    // 2. the raw scan (`_change_type` is never mapped: with field-id
    // reading on, a field without an id falls back to name matching)
    val scanned = applyDv(spark,
      spark.read.schema(StructType(request.fields ++
        reserved.toSeq.map(StructField(_, StringType))))
        .parquet(adds.map(_.path): _*),
      adds, new File(tablePath))
    val raw =
      if (!rowIdentity) scanned
      else scanned.withColumn(RowIdentity(0), col("_metadata.file_path"))
        .withColumn(RowIdentity(1), col("_metadata.row_index"))
    val kept = (if (rowIdentity) RowIdentity else Seq.empty) ++ reserved
    // 3. logical names (input_file_name() still resolves after a
    // projection: it reads the task's scan context, not a column)
    val renamed = raw.select(data.zip(request.fields).map { case (lf, rf) =>
      col(q(rf.name)).as(lf.name) } ++ kept.map(c => col(q(c))): _*)
    // 4. partition values
    val tuples =
      adds.map(a => part.map(f => a.partitionValues(pvKey(mode, f))))
    val withPv =
      if (part.isEmpty) renamed
      else if (tuples.distinct.size == 1)
        part.zip(tuples.head).foldLeft(renamed) { case (d, (f, v)) =>
          d.withColumn(f.name, lit(v).cast(StringType)) }
      else {
        // map-side file keys must byte-match input_file_name(), which
        // reports the qualified, URL-encoded URI of the split's file
        val hadoopConf = spark.sessionState.newHadoopConf()
        val fileKey = "__graft_delta_file"
        val rows = adds.zip(tuples).map { case (a, t) =>
          val p = new org.apache.hadoop.fs.Path(a.path)
          org.apache.spark.sql.Row.fromSeq(
            p.getFileSystem(hadoopConf).makeQualified(p).toUri.toString +: t)
        }
        val fileToPv = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(StructField(fileKey, StringType) +:
            part.map(f => StructField(f.name, StringType))))
        renamed.withColumn(fileKey, input_file_name())
          .join(broadcast(fileToPv), Seq(fileKey))
          .drop(col(fileKey))
      }
    // 5. declared types, schema order; mapped tables strip the mapping
    // metadata (the output contract is the clean logical shape)
    withPv.select(logical.fields.toSeq.map { f =>
      if (mode == "none" && !part.contains(f)) col(q(f.name))
      else col(q(f.name)).cast(logicalType(f.dataType)).as(f.name)
    } ++ kept.map(c => col(q(c))): _*)
  }

  /** The reserved change-type column of cdc files. */
  private val ChangeType = "_change_type"

  /** Parse an add action's `deletionVector` descriptor (JSON-decoded map
    * form). Required fields per the protocol: storageType, pathOrInlineDv,
    * sizeInBytes, cardinality; offset only for on-disk DVs.
    */
  private[sources] def parseDv(m: Map[String, Any]): DeltaDv.Descriptor = {
    def str(k: String): String = m.get(k).collect { case s: String => s }
      .getOrElse(throw new IllegalArgumentException(
        s"deletionVector descriptor lacks required field $k"))
    def num(k: String): Option[Long] =
      m.get(k).collect { case d: Double => d.toLong }
    DeltaDv.Descriptor(str("storageType"), str("pathOrInlineDv"),
      num("offset"),
      num("sizeInBytes").getOrElse(
        throw new IllegalArgumentException(
          "deletionVector descriptor lacks sizeInBytes")),
      num("cardinality").getOrElse(
        throw new IllegalArgumentException(
          "deletionVector descriptor lacks cardinality")))
  }

  /** Snapshot at `versionAsOf` (time travel), or the current snapshot when
    * None: the live data files in first-added order. Time travel replays
    * the same log, truncated at the requested version; a checkpoint newer
    * than the requested version is skipped, which is only sound when the
    * full commit history back to version 0 is still present — enforced
    * loudly, since a log-retention cleanup would otherwise produce a
    * silently incomplete snapshot.
    */
  def liveAdds(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): Seq[LiveFile] = {
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    require(logDir.isDirectory,
      s"not a Delta table (no _delta_log): $tablePath")

    val allCommits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName)
    versionAsOf.foreach { v =>
      require(allCommits.exists(versionOf(_) == v),
        s"Delta version $v not found in $logDir (versions: " +
          s"${allCommits.map(versionOf).mkString(",")})")
    }
    val commits = versionAsOf match {
      case Some(v) => allCommits.filter(versionOf(_) <= v)
      case None => allCommits
    }

    // seed from the newest checkpoint at or below the newest usable commit,
    // if any; a checkpoint PAST the travel target cannot seed that target
    val checkpointVersion = lastCheckpointVersion(logDir)
      .filter(cp => versionAsOf.forall(cp <= _))
    versionAsOf.foreach { _ =>
      if (checkpointVersion.isEmpty)
        require(commits.nonEmpty && versionOf(commits.head) == 0L,
          s"time travel needs the full history from version 0 in $logDir " +
            s"(oldest present: ${commits.headOption.map(versionOf)})")
    }
    val live = mutable.LinkedHashMap.empty[String,
      (Map[String, String], Option[Map[String, Any]], Option[String],
        Option[DeltaDv.Descriptor])]
    checkpointVersion.foreach { v =>
      val cp = new File(logDir, f"$v%020d.checkpoint.parquet")
      require(cp.isFile, s"_last_checkpoint names a missing file: $cp")
      val cpAll = Tables.read(spark, cp.getPath)
      def structFields(colName: String): Seq[String] =
        cpAll.schema.find(_.name == colName).map(_.dataType).collect {
          case t: org.apache.spark.sql.types.StructType => t.fieldNames.toSeq
        }.getOrElse(Seq.empty)
      // the checkpoint carries the table's protocol action too — gate on it
      // before trusting any of its add entries
      val protoFields = structFields("protocol")
      if (protoFields.contains("minReaderVersion")) {
        val featExpr =
          if (protoFields.contains("readerFeatures"))
            "coalesce(protocol.readerFeatures, array())"
          else "array()"
        cpAll.where("protocol IS NOT NULL")
          .selectExpr("protocol.minReaderVersion", featExpr)
          .collect().foreach { r =>
            checkProtocol(r.getInt(0).toLong, r.getSeq[Any](1), cp.getName)
          }
      }
      // only rows with a non-null `add` carry live files
      val cpDf = cpAll.where("add IS NOT NULL")
      val addFields = structFields("add")
      val pvExpr =
        if (addFields.contains("partitionValues")) "add.partitionValues"
        else "map() AS pv"
      val statsExpr =
        if (addFields.contains("stats")) "add.stats"
        else "CAST(NULL AS STRING) AS stats"
      // the checkpoint carries deletionVector descriptors for DV tables —
      // decode through the same JSON parser the commit replay uses
      val dvExpr =
        if (addFields.contains("deletionVector")) "to_json(add.deletionVector)"
        else "CAST(NULL AS STRING) AS dv"
      cpDf.selectExpr("add.path", pvExpr, statsExpr, dvExpr)
        .collect().foreach { r =>
          val pv = Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty)
          val raw = Option(r.getString(2))
          val dv = Option(r.getString(3)).flatMap(MiniJson.parseObject)
            .map(parseDv)
          live += r.getString(0) ->
            ((pv, raw.flatMap(MiniJson.parseObject), raw, dv))
        }
    }

    commits
      .filter(f => checkpointVersion.forall(_ < versionOf(f)))
      .foreach { f =>
        Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
          .filter(_.trim.nonEmpty)
          .foreach { line =>
            val action = MiniJson.parseObject(line).getOrElse(
              throw new IllegalArgumentException(
                s"unparseable Delta action in ${f.getName}: $line"))
            action.get("protocol") match {
              case Some(m: Map[_, _]) =>
                val p = m.asInstanceOf[Map[String, Any]]
                val minReader = p.get("minReaderVersion")
                  .collect { case d: Double => d.toLong }.getOrElse(1L)
                val feats = p.get("readerFeatures")
                  .collect { case xs: Seq[_] => xs.toSeq }.getOrElse(Seq.empty)
                checkProtocol(minReader, feats, f.getName)
              case _ =>
            }
            action.get("add") match {
              case Some(m: Map[_, _]) =>
                val a = m.asInstanceOf[Map[String, Any]]
                // a MoR delete re-adds the SAME path with a deletionVector
                // descriptor — the LinkedHashMap update replaces the old
                // entry in place, exactly the protocol's replay rule
                val dv = a.get("deletionVector") match {
                  case Some(dm: Map[_, _]) =>
                    Some(parseDv(dm.asInstanceOf[Map[String, Any]]))
                  case _ => None
                }
                val pv = a.get("partitionValues") match {
                  case Some(pm: Map[_, _]) =>
                    // a JSON null value is a NULL partition value per the
                    // protocol (writers render it from the
                    // __HIVE_DEFAULT_PARTITION__ directory) — preserve the
                    // key with a null value so pruning treats it as a real,
                    // never-equal value and injection yields SQL NULL
                    pm.asInstanceOf[Map[String, Any]].collect {
                      case (k, v: String) => k -> v
                      case (k, null) => k -> (null: String)
                    }
                  case _ => Map.empty[String, String]
                }
                val rawStats = a.get("stats").collect { case s: String => s }
                live += pathOf(a, f) -> ((pv,
                  rawStats.flatMap(MiniJson.parseObject), rawStats, dv))
              case _ =>
            }
            action.get("remove") match {
              case Some(m: Map[_, _]) =>
                live -= pathOf(m.asInstanceOf[Map[String, Any]], f)
              case _ =>
            }
          }
      }

    live.toSeq.map { case (rel, (pv, stats, raw, dv)) =>
      // paths are table-root-relative and URL-encoded per the protocol;
      // absolute URIs pass through. The RECORDED (still-encoded) form is
      // kept too: remove/checkpoint actions must byte-match it, and
      // re-encoding a decoded path is not the identity for values
      // containing '%', '+' or '/'
      val abs =
        if (rel.contains("://") || rel.startsWith("/")) rel
        else new File(root, URLDecoder.decode(rel, "UTF-8")).getPath
      LiveFile(abs, pv, stats, raw, recordedPath = rel, dv = dv)
    }
  }

  /** Apply the live adds' DELETION VECTORS to a scan over exactly those
    * files: dead rows (named by `_metadata.file_path` + `row_index`
    * against each file's RoaringBitmapArray) are filtered out. The DV
    * BYTES ride the task closure in their compressed portable form —
    * never an enumerated (file, row) list, so a DV covering millions of
    * rows ships as kilobytes — and each task rehydrates the bitmaps once
    * (transient-lazy). No-op (the unchanged plan, full codegen) when no
    * add carries a DV. File identity is by basename, which every writer
    * here makes uuid-unique; enforced before trusting it.
    */
  private[sources] def applyDv(spark: SparkSession, df: DataFrame,
      adds: Seq[LiveFile], root: File): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val withDv = adds.filter(_.dv.isDefined)
    if (withDv.isEmpty) return df
    val names = adds.map(a => new File(a.path).getName)
    require(names.distinct.size == names.size,
      s"duplicate data-file basenames in ${root.getPath} — deletion-vector " +
        "matching is by uuid-unique file name and cannot disambiguate")
    val dvBytes: Map[String, Array[Byte]] = withDv.map { a =>
      new File(a.path).getName -> DeltaDv.readBitmapBytes(root, a.dv.get)
    }.toMap
    val filter = new DeltaDv.RowFilter(dvBytes)
    val liveUdf = udf((file: String, idx: Long) => filter.live(file, idx))
    df.filter(liveUdf(col("_metadata.file_path"), col("_metadata.row_index")))
  }

  /** DATA SKIPPING: the live files whose add-action stats admit rows with
    * `column` in `[lo, hi]` (inclusive; either bound None = unbounded).
    * A file is pruned ONLY when its recorded [min, max] for the column
    * provably cannot intersect the range; files with no stats or no entry
    * for the column are always kept — skipping may only shrink the scan,
    * never the answer (nulls need no special case: stats min/max exclude
    * them and a null row fails the range filter anyway). At 100 TB over a
    * clustered layout (x06/x10 + the MERGE CoW path) this turns a key
    * predicate into opening the handful of overlapping files — the log
    * fold itself touches no data file.
    *
    * Returns (kept, totalLive). Comparison is numeric for JSON numbers
    * and lexicographic for strings, matching the writer's rendering.
    */
  def pruneByStats(spark: SparkSession, tablePath: String, column: String,
      lo: Option[Any], hi: Option[Any]): (Seq[LiveFile], Int) = {
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue))
      case (x: Number, y: Double) => Some(java.lang.Double.compare(x.doubleValue, y))
      case (x: Number, y: Number) => Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
      case (x: String, y: String) => Some(x.compareTo(y))
      case _ => None // incomparable: treat as unknown, keep the file
    }
    val adds = liveAdds(spark, tablePath)
    // on a column-mapped table the add stats are keyed by PHYSICAL names
    // (they come from the parquet footers) — translate the logical column
    // so data skipping works on mapped tables too; an unknown logical
    // name keeps the raw key (pruning may only shrink, never the answer)
    val statsKey = physByLogical(spark, tablePath).getOrElse(column, column)
    val kept = adds.filter { f =>
      f.stats match {
        case Some(st) =>
          def bound(side: String): Option[Any] = st.get(side)
            .collect { case m: Map[_, _] =>
              m.asInstanceOf[Map[String, Any]].get(statsKey) }.flatten
          val belowLo = for {
            l <- lo; mx <- bound("maxValues"); c <- cmp(mx, l)
          } yield c < 0
          val aboveHi = for {
            h <- hi; mn <- bound("minValues"); c <- cmp(mn, h)
          } yield c > 0
          !(belowLo.getOrElse(false) || aboveHi.getOrElse(false))
        case None => true
      }
    }
    (kept, adds.size)
  }

  /** Range scan with data skipping: [[read]] over ONLY the stat-admitted
    * files, then the predicate (skipping bounds the scan; the filter still
    * decides rows). Stats bounds may only WIDEN under a DV (they describe
    * the physical file), so pruning stays sound and the decode drops the
    * dead rows. Empty kept-set returns an empty frame with the table's
    * schema.
    */
  def readRange(spark: SparkSession, tablePath: String, column: String,
      lo: Option[Any], hi: Option[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = pruneByStats(spark, tablePath, column, lo, hi)
    val base =
      if (kept.nonEmpty) decode(spark, tablePath, kept, None)
      else read(spark, tablePath).limit(0)
    val bounded = lo.fold(base)(l => base.filter(col(column) >= lit(l)))
    hi.fold(bounded)(h => bounded.filter(col(column) <= lit(h)))
  }

  /** TIMESTAMP-based time travel (`AS OF TIMESTAMP`): resolve the
    * newest version whose commit file was published at or before
    * `tsMillis`, exactly real Delta's rule (commit-file modification
    * times define the timeline), then delegate to version travel.
    * Refuses a timestamp before the first commit — there is no snapshot
    * to serve — and a log whose commits were expired below the target.
    */
  def readTimestampAsOf(spark: SparkSession, tablePath: String,
      tsMillis: Long): DataFrame = {
    val logDir = new File(tablePath, "_delta_log")
    require(logDir.isDirectory,
      s"not a Delta table (no _delta_log): $tablePath")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName)
    val atOrBefore = commits.filter(_.lastModified <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"no Delta commit at or before timestamp $tsMillis in $logDir " +
        s"(earliest: ${commits.headOption.map(_.lastModified)})")
    read(spark, tablePath, Some(versionOf(atOrBefore.last)))
  }

  /** Latest committed `txn` version per application id — the Delta
    * transaction-identifier mechanism a streaming sink uses for
    * exactly-once: each micro-batch commit carries
    * `{"txn":{"appId":…,"version":epoch}}`, and a retried batch whose
    * epoch is already recorded is SKIPPED instead of double-appended.
    * Replays JSON commits only (checkpoint txn columns not needed for
    * the sink's own recent epochs; a sink older than the retained log
    * restarts from its own checkpoint anyway).
    */
  /** The table's current `metaData` action: schemaString, partitionColumns,
    * format provider and configuration, as the LAST metaData in the JSON
    * commits (schema evolution replaces it), seeded from the checkpoint's
    * metaData row when the early commits have been expired. None only for
    * a log that never recorded one (not a table this writer produced).
    */
  def tableMetaData(spark: SparkSession, tablePath: String)
      : Option[Map[String, Any]] = tableMetaData(spark, tablePath, None)

  /** As-of-version form: the metaData in force AT `versionAsOf` — the
    * schema a time-travel read must decode with (a later schema evolution
    * replaces the action, but history keeps the old one).
    */
  def tableMetaData(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long]): Option[Map[String, Any]] = {
    val logDir = new File(tablePath, "_delta_log")
    if (!logDir.isDirectory) return None
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .filter(f => versionAsOf.forall(v => versionOf(f) <= v))
      .sortBy(_.getName)
    var meta: Option[Map[String, Any]] = None
    lastCheckpointVersion(logDir)
      .filter(v => versionAsOf.forall(_ >= v)).foreach { v =>
      val cp = new File(logDir, f"$v%020d.checkpoint.parquet")
      if (cp.isFile) {
        val cpAll = Tables.read(spark, cp.getPath)
        if (cpAll.schema.fieldNames.contains("metaData")) {
          cpAll.where("metaData IS NOT NULL").selectExpr("to_json(metaData)")
            .collect().headOption.foreach { r =>
              meta = MiniJson.parseObject(r.getString(0))
            }
        }
      }
    }
    commits.foreach { f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(_.trim.nonEmpty).foreach { line =>
          MiniJson.parseObject(line).foreach { action =>
            action.get("metaData") match {
              case Some(m: Map[_, _]) =>
                meta = Some(m.asInstanceOf[Map[String, Any]])
              case _ =>
            }
          }
        }
    }
    meta
  }

  /** The metaData action's schema as a Catalyst StructType (None when no
    * metaData or an unparseable schemaString).
    */
  private[sources] def metaSchema(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOf(tableMetaData(spark, tablePath, versionAsOf))

  /** A metaData action's parsed schemaString. */
  private def schemaOf(meta: Option[Map[String, Any]])
      : Option[org.apache.spark.sql.types.StructType] =
    meta.flatMap(_.get("schemaString"))
      .collect { case s: String => s }
      .flatMap(s => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)

  def latestTxnVersions(tablePath: String): Map[String, Long] = {
    val logDir = new File(tablePath, "_delta_log")
    if (!logDir.isDirectory) return Map.empty
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName)
    val latest = mutable.Map.empty[String, Long]
    // seed from the checkpoint's txn rows (if any): the retry guard must
    // survive checkpoint + log expiry, or a retried epoch double-commits
    // right after routine log maintenance
    lastCheckpointVersion(logDir).foreach { v =>
      val cp = new File(logDir, f"$v%020d.checkpoint.parquet")
      if (cp.isFile) {
        // tiny driver-side read: the checkpoint is metadata
        val cpAll = Tables.read(SparkSession.active, cp.getPath)
        if (cpAll.schema.fieldNames.contains("txn")) {
          cpAll.where("txn IS NOT NULL")
            .selectExpr("txn.appId", "txn.version").collect().foreach { r =>
              val app = r.getString(0)
              val ver = r.getLong(1)
              latest(app) = math.max(latest.getOrElse(app, Long.MinValue), ver)
            }
        }
      }
    }
    commits.foreach { f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(_.trim.nonEmpty).foreach { line =>
          MiniJson.parseObject(line).foreach { action =>
            action.get("txn") match {
              case Some(m: Map[_, _]) =>
                val t = m.asInstanceOf[Map[String, Any]]
                for {
                  app <- t.get("appId").collect { case s: String => s }
                  v <- t.get("version").collect { case d: Double => d.toLong }
                } latest(app) = math.max(latest.getOrElse(app, Long.MinValue), v)
              case _ =>
            }
          }
        }
    }
    latest.toMap
  }

  /** Metadata-only COUNT(*): the sum of every live add's recorded
    * `numRecords` — the log-fold analog of the parquet-footer COUNT rule
    * (plans/FooterCount), answering an unfiltered count without opening
    * ONE data file. None (caller must scan) unless EVERY live add
    * carries stats with numRecords: a single stats-less file makes the
    * fold unsound, and soundness beats cleverness.
    */
  def countFromStats(spark: SparkSession, tablePath: String): Option[Long] = {
    val adds = liveAdds(spark, tablePath)
    // a deletion vector keeps its file's PHYSICAL numRecords in stats;
    // the live count subtracts the descriptor's cardinality, which the
    // protocol requires to be exact — still a zero-data-file answer
    val counts = adds.map(a => a.stats.flatMap(_.get("numRecords").collect {
      case d: Double => d.toLong
    }).map(_ - a.dv.map(_.cardinality).getOrElse(0L)))
    if (counts.nonEmpty && counts.forall(_.isDefined))
      Some(counts.flatten.sum)
    else None
  }

  /** CHANGE DATA FEED read: every row change committed in versions
    * `[fromVersion, toVersion]` (inclusive; None = current), as the table
    * columns plus `_change_type` (insert / delete / update_preimage /
    * update_postimage), `_commit_version`, `_commit_timestamp` — the
    * Delta protocol's CDC read surface.
    *
    * Per-commit rule (the protocol's): when a commit carries `cdc`
    * actions, they ARE the change set (reading `_change_data/` files the
    * writer published); otherwise changes derive from the data actions —
    * `add dataChange:true` files are inserts, `remove dataChange:true`
    * files are deletes of their full content (readable until VACUUM
    * reclaims the tombstone — a vacuumed remove refuses loudly rather
    * than silently dropping changes). `dataChange:false` commits
    * (OPTIMIZE, DV purge, checkpointing) are invisible by construction.
    * A DV commit without cdc actions refuses: its add/remove pair
    * re-names the same file, so derivation cannot see which rows died.
    *
    * Scale posture: the feed reads ONLY each commit's changed files —
    * O(changed bytes) per version, never a table scan; each commit's
    * files decode through the metaData schema in force AT that version
    * (NULL-filling across evolutions via unionByName).
    */
  def tableChanges(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    val root = new File(tablePath)
    val logDir = new File(root, "_delta_log")
    require(logDir.isDirectory, s"not a Delta table (no _delta_log): $tablePath")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName)
    require(commits.nonEmpty, s"no commits in $logDir")
    val maxV = toVersion.getOrElse(versionOf(commits.last))
    require(fromVersion <= maxV,
      s"empty change range: fromVersion $fromVersion > toVersion $maxV")
    // the retained log must cover the range — a checkpoint-expired prefix
    // cannot be replayed as a feed
    require(versionOf(commits.head) <= fromVersion,
      s"change feed start $fromVersion predates the retained log " +
        s"(oldest commit: ${versionOf(commits.head)}) in $logDir")
    // the property must cover the WHOLE range (real Delta's rule): a
    // commit made before enablement wrote no cdc actions, so serving it
    // would silently misreport in-place changes as plain add/removes
    require(cdfIsEnabled(spark, tablePath, maxV) &&
        cdfIsEnabled(spark, tablePath, fromVersion),
      s"change data feed is not enabled on $tablePath for the full range " +
        s"[$fromVersion, $maxV] (set delta.enableChangeDataFeed via " +
        "DeltaWrite.enableChangeDataFeed; history before the property is " +
        "not readable as a feed)")
    // COLUMN-MAPPED feeds decode EVERY version through the schema in
    // force at the END of the range: physicalName/columnMapping.id never
    // change, so one logical schema resolves files written under any
    // earlier logical names — a rename mid-range is transparent and the
    // whole feed serves the range-end names (real Delta's CDF behavior
    // under column mapping). Unmapped feeds decode each commit with ITS
    // epoch's schema (evolution-faithful).
    val endMode = mappingMode(tableMetaData(spark, tablePath, Some(maxV)))
    // partition values resolve per file: from the action itself (adds
    // always carry them; every engine-written dataChange remove carries
    // them as extended metadata), or — for a FOREIGN writer's bare
    // remove — best-effort re-derived from the hive segments of the
    // recorded relative path: split BEFORE decoding (a %2F inside a
    // value must not become a path separator), decode each segment with
    // the hive rule (only %XX unescaped — a literal '+' survives).
    def pvOfAction(a: Map[String, Any], rel: String): Map[String, String] =
      a.get("partitionValues") match {
        case Some(pm: Map[_, _]) =>
          pm.asInstanceOf[Map[String, Any]].map {
            case (k, v: String) => k -> v
            case (k, _) => k -> null
          }
        case _ =>
          rel.split("/").dropRight(1)
            .map(seg =>
              URLDecoder.decode(seg.replace("+", "%2B"), "UTF-8"))
            .filter(_.contains("=")).map { seg =>
              val Array(k, v) = seg.split("=", 2)
              k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                else URLDecoder.decode(v.replace("+", "%2B"), "UTF-8"))
            }.toMap
      }
    val perCommit = commits
      .filter(f => versionOf(f) >= fromVersion && versionOf(f) <= maxV)
      .flatMap { f =>
        val v = versionOf(f)
        var cdcPaths = List.empty[String]
        var addPaths = List.empty[(String, Map[String, String])]
        var addHasDv = false
        var removePaths = List.empty[(String, Map[String, String])]
        Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
          .filter(_.trim.nonEmpty).foreach { line =>
            MiniJson.parseObject(line).foreach { action =>
              action.get("cdc").foreach { case m: Map[_, _] =>
                val a = m.asInstanceOf[Map[String, Any]]
                cdcPaths ::= pathOf(a, f)
              case _ => }
              // a MISSING dataChange defaults to TRUE (the protocol's
              // rule for foreign minimal logs) — defaulting false would
              // silently DROP changes from the feed
              def isDataChange(a: Map[String, Any]): Boolean =
                a.get("dataChange") match {
                  case Some(b: java.lang.Boolean) => b.booleanValue()
                  case _ => true
                }
              action.get("add").foreach { case m: Map[_, _] =>
                val a = m.asInstanceOf[Map[String, Any]]
                if (isDataChange(a)) {
                  val p = pathOf(a, f)
                  addPaths ::= (p -> pvOfAction(a, p))
                  if (a.get("deletionVector").exists(_.isInstanceOf[Map[_, _]]))
                    addHasDv = true
                }
              case _ => }
              action.get("remove").foreach { case m: Map[_, _] =>
                val a = m.asInstanceOf[Map[String, Any]]
                if (isDataChange(a)) {
                  val p = pathOf(a, f)
                  removePaths ::= (p -> pvOfAction(a, p))
                }
              case _ => }
            }
          }
        if (cdcPaths.isEmpty && addPaths.isEmpty && removePaths.isEmpty) None
        else Some((v, f.lastModified, cdcPaths.reverse, addPaths.reverse,
          addHasDv, removePaths.reverse))
      }
    def resolve(rel: String): String =
      if (rel.contains("://") || rel.startsWith("/")) rel
      else new File(root, URLDecoder.decode(rel, "UTF-8")).getPath
    val frames = perCommit.flatMap {
      case (v, mtime, cdcPaths, addPaths, addHasDv, removePaths) =>
        val schemaVersion = Some(if (endMode == "none") v else maxV)
        // cdc files carry the table columns (physicalized on a mapped
        // table) plus the reserved `_change_type`, and no partition
        // values; derived changes re-inject each file's tuple from the
        // pv the action carried (or, for a foreign writer's bare remove,
        // the hive segments of its path) — the files' OWN pv keys decide
        // which fields inject, not the metaData's partitionColumns: an
        // OVERWRITE redeclares partitionColumns=[] in the very commit
        // whose removes still reference partitioned files
        def scan(pathPv: Seq[(String, Map[String, String])],
            changeType: Boolean = false): DataFrame = {
          val files = pathPv.map { case (p, pv) =>
            val abs = resolve(p)
            require(new File(abs).isFile,
              s"change-feed file for version $v was vacuumed: $abs")
            LiveFile(abs, pv)
          }
          decode(spark, tablePath, files, schemaVersion,
            changeType = changeType)
        }
        val changed: Seq[DataFrame] =
          if (cdcPaths.nonEmpty)
            Seq(scan(cdcPaths.map(_ -> Map.empty[String, String]),
              changeType = true))
          else {
            require(!addHasDv,
              s"version $v of $tablePath re-adds a file with a deletion " +
                "vector but carries no cdc action — the changed rows " +
                "cannot be derived from add/remove (foreign writer " +
                "without CDF); read the snapshots instead")
            val ins = if (addPaths.isEmpty) Seq.empty else Seq(
              scan(addPaths)
                .withColumn("_change_type", lit("insert")))
            val del = if (removePaths.isEmpty) Seq.empty else Seq(
              scan(removePaths)
                .withColumn("_change_type", lit("delete")))
            ins ++ del
          }
        changed.map(_
          .withColumn("_commit_version", lit(v))
          // epoch millis → timestamp arithmetically (string rendering
          // would depend on the JVM default timezone)
          .withColumn("_commit_timestamp",
            (lit(mtime) / 1000.0).cast("timestamp")))
    }
    if (frames.isEmpty)
      read(spark, tablePath)
        .withColumn("_change_type", lit(null: String))
        .withColumn("_commit_version", lit(0L))
        .withColumn("_commit_timestamp",
          to_timestamp(lit(null: String)))
        .limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Is `delta.enableChangeDataFeed` set in the metaData in force at
    * `versionAsOf`?
    */
  private def cdfIsEnabled(spark: SparkSession, tablePath: String,
      versionAsOf: Long): Boolean =
    tableMetaData(spark, tablePath, Some(versionAsOf))
      .flatMap(_.get("configuration"))
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("delta.enableChangeDataFeed"))
      .collect { case s: String => s }
      .exists(_.equalsIgnoreCase("true"))

  /** The table's current protocol action (minReaderVersion,
    * minWriterVersion, readerFeatures, writerFeatures), defaulting to
    * (1, 2, [], []) when the retained log carries none — the writer's
    * seam for feature upgrades (a MoR DELETE must commit the
    * deletionVectors feature before any reader trusts its adds) and for
    * checkpoints, which must carry the protocol forward verbatim.
    */
  def currentProtocol(tablePath: String): (Int, Int, Seq[String], Seq[String]) = {
    val logDir = new File(tablePath, "_delta_log")
    var proto = (1, 2, Seq.empty[String], Seq.empty[String])
    if (!logDir.isDirectory) return proto
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName)
      .foreach { f =>
        Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
          .filter(_.trim.nonEmpty).foreach { line =>
            MiniJson.parseObject(line).foreach { action =>
              action.get("protocol") match {
                case Some(m: Map[_, _]) =>
                  val p = m.asInstanceOf[Map[String, Any]]
                  def num(k: String, dflt: Int): Int = p.get(k)
                    .collect { case d: Double => d.toInt }.getOrElse(dflt)
                  def strs(k: String): Seq[String] = p.get(k)
                    .collect { case xs: Seq[_] =>
                      xs.collect { case s: String => s } }
                    .getOrElse(Seq.empty)
                  proto = (num("minReaderVersion", 1),
                    num("minWriterVersion", 2),
                    strs("readerFeatures"), strs("writerFeatures"))
                case _ =>
              }
            }
          }
      }
    proto
  }

  /** PARTITION PRUNING from the log alone: the live adds whose
    * `partitionValues` match every (column -> value) in `filter` — zero
    * data files opened or listed, the first and cheapest pruning lever
    * on a 100 TB partitioned table (the scan that follows touches only
    * the matching partitions' files). Filter keys are LOGICAL names;
    * `partitionValues` is keyed by physical names on a column-mapped
    * table, so each key translates through [[physByLogical]]. Files
    * MISSING a filtered column in their pv are kept (unpartitioned adds
    * in a mixed table must not be silently dropped — same
    * may-only-shrink-the-scan rule as [[pruneByStats]]). Returns (kept,
    * totalLive).
    */
  def livePartitionAdds(spark: SparkSession, tablePath: String,
      filter: Map[String, String]): (Seq[LiveFile], Int) = {
    val adds = liveAdds(spark, tablePath)
    val physical = physFilter(spark, tablePath, filter)
    val kept = adds.filter(a => physical.forall { case (k, v) =>
      a.partitionValues.get(k).forall(_ == v)
    })
    (kept, adds.size)
  }

  /** `filter` re-keyed by physical column names ([[physByLogical]]). */
  private def physFilter(spark: SparkSession, tablePath: String,
      filter: Map[String, String]): Map[String, String] = {
    val phys = physByLogical(spark, tablePath)
    filter.map { case (k, v) => phys.getOrElse(k, k) -> v }
  }

  /** Scan ONE partition slice: [[read]] over the log-pruned files, then
    * `filter` as a residual predicate on the typed partition columns (a
    * null value selects the null partition).
    *
    * REFUSES a mixed table where a kept file lacks a filtered column in
    * its `partitionValues` (plain append + appendPartitioned on one
    * table): [[livePartitionAdds]] keeps such files by the may-only-
    * shrink pruning rule, but THIS method's contract is an exact
    * partition slice, and the unpartitioned files' rows may not satisfy
    * the predicate (their partition-column data lives in the parquet,
    * which pruning never reads). Filtering `read()` is the correct path
    * for mixed tables; silently returning extra rows is not.
    */
  def readPartition(spark: SparkSession, tablePath: String,
      filter: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = livePartitionAdds(spark, tablePath, filter)
    require(kept.nonEmpty,
      s"no live files match partition filter $filter in $tablePath")
    val physical = physFilter(spark, tablePath, filter)
    val unresolved = kept.filter(a =>
      physical.keys.exists(k => !a.partitionValues.contains(k)))
    require(unresolved.isEmpty,
      s"readPartition needs every kept file to record the filtered " +
        s"partition column(s) ${filter.keys.mkString(",")} in " +
        s"partitionValues; ${unresolved.size} live file(s) do not (mixed " +
        "partitioned/unpartitioned table) — their rows cannot be pruned " +
        "exactly from the log. Use read() with a residual filter instead")
    filter.foldLeft(decode(spark, tablePath, kept, None)) {
      case (d, (c, null)) => d.filter(col(s"`$c`").isNull)
      case (d, (c, v)) => d.filter(col(s"`$c`") === lit(v))
    }
  }

  /** Live data-file paths only (unpartitioned view of [[liveAdds]]). */
  def liveFiles(spark: SparkSession, tablePath: String): Seq[String] =
    liveAdds(spark, tablePath).map(_.path)

  /** Read the table's snapshot at `versionAsOf` (current when None) as
    * a DataFrame: [[decode]] over every live file. Partition columns
    * come from the log's `partitionValues` (Delta stores them nowhere
    * else) through ONE scan plus a broadcast (file -> pv) join, so split
    * planning, pushdown and pruning stay intact at any partition count.
    * An empty table (all files removed) refuses rather than guessing a
    * schema.
    */
  def read(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): DataFrame =
    decode(spark, tablePath, liveAdds(spark, tablePath, versionAsOf),
      versionAsOf)

  /** Snapshot-decode a SUBSET of the current live set (by exact path) —
    * the copy-on-write writers' rewrite seam: a MERGE/DELETE reads ONLY
    * its touched files, but must read them exactly like the snapshot
    * reader would (metaData-schema decode, column-mapping resolution,
    * deletion vectors applied, partition values injected from the log).
    * Reading the paths raw instead would resurrect MoR-deleted rows
    * into the rewrite — the bug class this indirection exists to make
    * impossible.
    */
  private[sources] def readLivePaths(spark: SparkSession, tablePath: String,
      paths: Seq[String]): DataFrame = {
    val want = paths.toSet
    val adds = liveAdds(spark, tablePath).filter(a => want.contains(a.path))
    require(adds.size == want.size,
      s"${want.size - adds.size} path(s) not in the live set of $tablePath")
    decode(spark, tablePath, adds, None)
  }

  /** Snapshot read PLUS physical row-identity columns ([[RowIdentity]]:
    * the scan's file path and the row index in its file), captured from
    * the raw scan — `_metadata` is a scan-relation pseudo-column and does
    * not survive the partition join or the logical projection. This is
    * the MoR delete writers' match-scan seam: a DELETE predicate is
    * logical and may reference partition and data columns, while the
    * positions it marks are physical.
    */
  private[sources] def readWithRowIdentity(spark: SparkSession,
      tablePath: String, onlyPaths: Option[Set[String]] = None): DataFrame = {
    val adds0 = liveAdds(spark, tablePath)
    val adds = onlyPaths.fold(adds0)(ps => adds0.filter(a => ps(a.path)))
    decode(spark, tablePath, adds, None, rowIdentity = true)
  }

  /** `metaData.partitionColumns` as recorded (LOGICAL names, in declared
    * order); empty when the log carries no metaData or none declared.
    */
  private[sources] def recordedPartitionColumns(spark: SparkSession,
      tablePath: String): Seq[String] =
    tableMetaData(spark, tablePath)
      .flatMap(_.get("partitionColumns"))
      .collect { case xs: Seq[_] => xs.collect { case s: String => s } }
      .getOrElse(Seq.empty)

  /** Live files keyed by the QUALIFIED URI a scan's
    * `_metadata.file_path` reports — the only safe join key between a
    * match scan's touched-file column and the log. Basenames are NOT
    * unique on adopted tables: Spark's partitionBy writes the same
    * part-NNNNN-jobUUID name into every partition directory, so a
    * basename map would silently collapse entries and a copy-on-write
    * rewrite would remove/rewrite the WRONG file.
    */
  private[sources] def byQualifiedPath(spark: SparkSession,
      adds: Seq[LiveFile]): Map[String, LiveFile] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    adds.map { a =>
      val p = new org.apache.hadoop.fs.Path(a.path)
      p.getFileSystem(hadoopConf).makeQualified(p).toString -> a
    }.toMap
  }

  /** Normalize a scan-reported file URI to the canonical form
    * [[byQualifiedPath]] keys on (Hadoop Path over the RAW filesystem
    * path). `_metadata.file_path` renders a percent-ESCAPED URI
    * (`file:/x`, `%` as `%25`), so the string must round-trip through
    * java.net.URI to decode the escaping before Path normalizes the
    * scheme/slash rendering; non-URI strings pass through Path as-is.
    */
  private[sources] def canonicalScanPath(uri: String): String =
    try new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString
    catch { case _: java.net.URISyntaxException =>
      new org.apache.hadoop.fs.Path(uri).toString }

  /** Logical -> physical column-name map from the current metaData
    * (identity for unmapped tables) — the single source for every
    * caller that must key partitionValues (recorded PHYSICAL under
    * column mapping) from logical names.
    */
  private[sources] def physByLogical(spark: SparkSession,
      tablePath: String): Map[String, String] = {
    val meta = tableMetaData(spark, tablePath)
    (mappingMode(meta), schemaOf(meta)) match {
      case (m, Some(ms)) if m != "none" =>
        ms.fields.map(f => f.name -> physName(f)).toMap
      case _ => Map.empty
    }
  }

  /** Register the snapshot under `name` (the DDL entry point for
    * `CREATE EXTERNAL TABLE ... STORED AS DELTATABLE`).
    */
  def register(spark: SparkSession, name: String, tablePath: String): DataFrame = {
    read(spark, tablePath).createOrReplaceTempView(name)
    spark.emptyDataFrame
  }

  private def versionOf(f: File): Long =
    f.getName.stripSuffix(".json").toLong

  /** The table's CHECK constraints: `delta.constraints.<name>`
    * configuration keys → (name, SQL expression). Empty for tables
    * without constraints.
    */
  def checkConstraints(spark: SparkSession, tablePath: String)
      : Map[String, String] =
    tableMetaData(spark, tablePath)
      .flatMap(_.get("configuration"))
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
      .collect {
        case (k, v: String) if k.startsWith("delta.constraints.") =>
          k.stripPrefix("delta.constraints.") -> v
      }

  /** The `delta_files` inspection surface: one row per LIVE file —
    * full path, on-disk size, add-action numRecords (null when the
    * writer recorded no stats), the partition tuple as a deterministic
    * `k=v` comma-join (null when unpartitioned), and whether a deletion
    * vector rides the file. Log-only: zero data files opened — the
    * Delta twin of [[IcebergLog.filesTable]].
    */
  def filesTable(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val adds = liveAdds(spark, tablePath)
    def pvString(pv: Map[String, String]): String =
      if (pv.isEmpty) null
      else pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${Option(v).getOrElse("null")}" }
        .mkString(",")
    val rows = adds.map { a =>
      val records = a.stats.flatMap(_.get("numRecords")).collect {
        case n: Double => java.lang.Long.valueOf(n.toLong)
        case n: java.lang.Number => java.lang.Long.valueOf(n.longValue())
      }.orNull
      Row(a.path, new File(a.path).length(), records,
        pvString(a.partitionValues), a.dv.nonEmpty)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("record_count", LongType),
        StructField("partition", StringType),
        StructField("has_deletion_vector", BooleanType, nullable = false))))
  }

  /** Commit history, newest first — the `DESCRIBE HISTORY` surface:
    * one row per JSON commit with (version, timestamp, operation,
    * operation_parameters). The operation comes from each commit's
    * commitInfo action (null when a foreign writer recorded none);
    * parameters render as a deterministic `k=v` comma-join. The timestamp
    * is the commit file's modification time — the same fallback real
    * Delta uses when commitInfo carries no inCommitTimestamp (ours
    * doesn't), and the clock [[readTimestampAsOf]] already travels by.
    * Commits aged out by [[DeltaWrite.expireLog]] no longer appear —
    * history is as deep as the retained log, exactly like real Delta.
    * Driver cost is O(retained commits): log-scale, never data-scale.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val logDir = new File(tablePath, "_delta_log")
    require(logDir.isDirectory,
      s"not a Delta table (no _delta_log): $tablePath")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("""\d{20}\.json"""))
      .sortBy(_.getName).reverse
    require(commits.nonEmpty, s"no JSON commits in $logDir")
    val rows = commits.toSeq.map { f =>
      var op: String = null
      var params: String = null
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(_.trim.nonEmpty).foreach { line =>
          MiniJson.parseObject(line).foreach { action =>
            action.get("commitInfo") match {
              case Some(ci: Map[_, _]) =>
                val m = ci.asInstanceOf[Map[String, Any]]
                op = m.get("operation")
                  .collect { case s: String => s }.orNull
                params = m.get("operationParameters")
                  .collect { case p: Map[_, _] =>
                    p.asInstanceOf[Map[String, Any]].toSeq
                      .sortBy(_._1)
                      .map { case (k, v) => s"$k=${String.valueOf(v)}" }
                      .mkString(",")
                  }.orNull
              case _ =>
            }
          }
        }
      org.apache.spark.sql.Row(versionOf(f),
        new java.sql.Timestamp(f.lastModified), op, params)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("timestamp", TimestampType, nullable = false),
        StructField("operation", StringType),
        StructField("operation_parameters", StringType))))
  }

  /** Newest committed version the log knows — JSON commits or the
    * checkpoint (after log-retention cleanup the checkpoint may be the
    * only record of the counter). -1 when the log holds neither: the
    * base of a fresh table, whose first commit claims version 0.
    */
  private[sources] def headVersion(logDir: File): Long =
    (Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("""\d{20}\.json""")).map(versionOf).toSeq ++
      lastCheckpointVersion(logDir)).maxOption.getOrElse(-1L)

  /** [[headVersion]] of an existing table. */
  def latestVersion(tablePath: String): Long = {
    val head = headVersion(new File(tablePath, "_delta_log"))
    require(head >= 0L, s"not a Delta table: $tablePath")
    head
  }

  private def pathOf(action: Map[String, Any], f: File): String =
    action.get("path") match {
      case Some(p: String) => p
      case _ => throw new IllegalArgumentException(
        s"Delta action without a path in ${f.getName}")
    }

  /** `_last_checkpoint` is a one-line JSON `{"version": N, ...}`. */
  private[sources] def lastCheckpointVersion(logDir: File): Option[Long] = {
    val f = new File(logDir, "_last_checkpoint")
    if (!f.isFile) None
    else MiniJson.parseObject(
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim)
      .flatMap(_.get("version"))
      .collect { case d: Double => d.toLong }
  }
}
