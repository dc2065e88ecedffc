package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.server.MiniJson
import graft.sources.DeltaWrite.jsonEscape

/** Minimal read-only Apache Iceberg table support — the second lakehouse
  * format next to [[DeltaLog]] (the reference ships Delta only; Iceberg
  * extends the same capability family). An Iceberg table is parquet data
  * files plus a `metadata/` tree: versioned `v*.metadata.json` files (the
  * root, naming snapshots), per-snapshot Avro MANIFEST LISTS, and Avro
  * MANIFESTS whose entries add or delete data files. Reading a snapshot
  * is: resolve the current metadata file (version-hint.text, else highest
  * version), pick the snapshot (current-snapshot-id, or `snapshotAsOf`
  * for time travel), read its manifest list, read each manifest, keep
  * data-file entries whose status is not DELETED, and scan the surviving
  * parquet.
  *
  * Scale posture: identical to Delta's — the metadata tree is kilobytes
  * read on the driver (every Iceberg reader pays this), while the data
  * files flow into a normal distributed parquet scan with pushdown and
  * split planning intact. Snapshot isolation comes free: the file list is
  * immutable per snapshot.
  *
  * FORMAT V2 ROW-LEVEL DELETES are supported on the [[read]] path — the
  * merge-on-read shape real Iceberg writers (Flink/Spark) produce under
  * row-level DML: POSITION delete files (`content=1`, parquet rows of
  * `(file_path, pos)`) anti-join the scan on (file, row-index) for data
  * files with sequence number ≤ the delete's, and EQUALITY delete files
  * (`content=2`, parquet rows of the equality columns) anti-join
  * null-safely on those columns for data files STRICTLY OLDER than the
  * delete — so rows appended after an equality delete survive it, per
  * spec. Both anti-joins broadcast the delete side (delete files are
  * incremental-batch sized; the data scan stays one distributed pass).
  * Metadata-only planning paths that cannot see deletes
  * ([[pruneByLongBounds]], [[readRange]], the CoW [[deleteWhere]])
  * refuse tables with live delete files rather than resurrect rows.
  * Format versions above 2 still refuse at [[parseMeta]].
  */
object IcebergLog {

  /** Never-referenced files younger than this survive [[expireSnapshots]]
    * — they may be a live writer's pre-claim staging. 3 days, matching
    * real Iceberg's `remove_orphan_files` `older_than` default.
    */
  val defaultOrphanAgeMs: Long = 3L * 24 * 3600 * 1000

  /** `summary` carries the snapshot's key/value properties — the spec's
    * snapshot summary, which streaming sinks use as their idempotence
    * record (the Flink Iceberg sink stores its checkpoint id there).
    */
  final case class Snapshot(snapshotId: Long, manifestList: String,
      summary: Map[String, String] = Map.empty,
      parentId: Option[Long] = None,
      schemaId: Option[Int] = None)

  /** One partition-spec field: `transform(sourceName) AS name`, recorded
    * with the source column's Iceberg field id. `identity` fields keep
    * name == sourceName (the pre-transform behavior); `day` /
    * `bucket[N]` / `truncate[W]` fields derive a HIDDEN partition value
    * — Iceberg's hidden partitioning, the canonical 100 TB event-table
    * layout: the data files carry only the SOURCE column, the manifests
    * carry the derived tuple, and pruning maps predicates through the
    * transform ([[prunePartitionsBySourceRange]], the merge key lever).
    *
    * `sourceName0` is "" when the source column name equals `name` (all
    * identity fields) so that structural equality is stable across
    * construct/parse round-trips — spec evolution compares fields
    * ([[commitSnapshot]]). Real Iceberg resolves source-id through the
    * table schema; footer-inferred tables record none, so this writer
    * additionally records the source NAME in the spec JSON
    * (`source-name`, an extension key external readers ignore).
    */
  final case class SpecField(sourceId: Int, name: String,
      transform: String = "identity", sourceName0: String = "") {
    def sourceName: String = if (sourceName0.isEmpty) name else sourceName0
    def isIdentity: Boolean = transform == "identity"
  }

  /** Iceberg partition transforms (spec "Partition Transforms" +
    * Appendix B hash contract): ONE value-level evaluation shared by
    * the partitioned writer (staging), merge key pruning (batch values
    * → tuple values) and range pruning (predicate bounds → tuple
    * bounds) — write and prune can never disagree because they are the
    * same JVM function. Spark-side staging uses built-in expressions
    * where one exists (identity/day/long-truncate — codegen'd, exact
    * integer math); `bucket` and string-`truncate` have no Spark
    * builtin matching the Iceberg contract (murmur3 seed 0 resp.
    * code-point truncation), so they stage through a scala UDF over
    * these functions — write-side only, one pass per commit.
    */
  private[graft] object Transforms {
    private val BucketRe = """bucket\[(\d+)\]""".r
    private val TruncRe = """truncate\[(\d+)\]""".r
    private val DayMicros = 86400000000L

    /** 32-bit Murmur3 (x86 variant), seed 0 — the hash the Iceberg spec
      * fixes for `bucket` (Appendix B), implemented from the published
      * algorithm. Spec test vectors pinned in SourcesSpec
      * (`hashLong(34) == 2017239379`, `hash("iceberg") == 1210000089`).
      */
    def murmur3(bytes: Array[Byte]): Int = {
      val c1 = 0xcc9e2d51
      val c2 = 0x1b873593
      var h = 0 // seed 0 per spec
      val n = bytes.length - (bytes.length % 4)
      var i = 0
      while (i < n) {
        var k = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8) |
          ((bytes(i + 2) & 0xff) << 16) | ((bytes(i + 3) & 0xff) << 24)
        k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
        h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
        i += 4
      }
      var k = 0
      (bytes.length % 4: @annotation.switch) match {
        case 3 =>
          k ^= (bytes(n + 2) & 0xff) << 16
          k ^= (bytes(n + 1) & 0xff) << 8
          k ^= bytes(n) & 0xff
        case 2 =>
          k ^= (bytes(n + 1) & 0xff) << 8
          k ^= bytes(n) & 0xff
        case 1 => k ^= bytes(n) & 0xff
        case _ =>
      }
      if (k != 0) { k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k }
      h ^= bytes.length
      h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35
      h ^ (h >>> 16)
    }

    /** Bucket ordinal per spec: `(murmur3(v) & MaxInt) % n`; ints hash
      * as 8-byte little-endian LONGS (the spec's widening rule, so
      * evolving int→long never re-buckets), strings as UTF-8 bytes.
      */
    def bucketOf(v: Any, n: Int): Int = {
      val bytes = v match {
        case l: Long =>
          java.nio.ByteBuffer.allocate(8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
        case i: Int =>
          java.nio.ByteBuffer.allocate(8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(i.toLong).array()
        case s: String => s.getBytes(StandardCharsets.UTF_8)
        case other => throw new IllegalArgumentException(
          s"bucket transform unsupported for ${other.getClass.getName}")
      }
      (murmur3(bytes) & Integer.MAX_VALUE) % n
    }

    /** Day ordinal (days from 1970-01-01, FLOORED — negative epochs
      * round toward minus infinity, never toward zero).
      */
    def dayOf(v: Any): Long = v match {
      case ts: java.sql.Timestamp => Math.floorDiv(ts.getTime, 86400000L)
      case i: java.time.Instant => Math.floorDiv(i.toEpochMilli, 86400000L)
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case us: Long => Math.floorDiv(us, DayMicros) // epoch MICROS
      case other => throw new IllegalArgumentException(
        s"day transform unsupported for ${other.getClass.getName}")
    }

    /** Truncate per spec: longs floor to a multiple of W (floored, so
      * negatives bucket below zero); strings cut to W CODE POINTS (not
      * UTF-16 chars — an astral-plane character counts once).
      */
    def truncateOf(v: Any, w: Int): Any = v match {
      case l: Long => l - Math.floorMod(l, w.toLong)
      case i: Int => i.toLong - Math.floorMod(i.toLong, w.toLong)
      case s: String =>
        if (s.codePointCount(0, s.length) <= w) s
        else s.substring(0, s.offsetByCodePoints(0, w))
      case other => throw new IllegalArgumentException(
        s"truncate transform unsupported for ${other.getClass.getName}")
    }

    /** Evaluate a transform on one source VALUE (null → null). */
    def apply(transform: String, v: Any): Any =
      if (v == null) null
      else transform match {
        case "identity" => v
        case "day" => dayOf(v)
        case BucketRe(n) => bucketOf(v, n.toInt).toLong
        case TruncRe(w) => truncateOf(v, w.toInt)
        case other => throw new IllegalArgumentException(
          s"unsupported Iceberg partition transform: $other")
      }

    /** Order-preserving transforms (v1 ≤ v2 ⇒ t(v1) ≤ t(v2)) — the
      * property range pruning relies on. `bucket` deliberately is NOT.
      */
    def monotonic(transform: String): Boolean = transform match {
      case "identity" | "day" => true
      case TruncRe(_) => true
      case _ => false
    }

    def isKnown(transform: String): Boolean = transform match {
      case "identity" | "day" | BucketRe(_) | TruncRe(_) => true
      case _ => false
    }

    /** The shadow-column expression the partitioned writer stages with
      * — MUST equal [[apply]] on every value (prune correctness hangs
      * on the agreement; the property fuzz cross-checks them).
      */
    def columnExpr(f: SpecField,
        sourceType: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, expr, lit, pmod, substring, udf}
      import org.apache.spark.sql.types._
      val src = col(s"`${f.sourceName}`")
      f.transform match {
        case "identity" => src
        case "day" => sourceType match {
          case TimestampType =>
            // exact integer floor-division (DIV after subtracting the
            // positive mod): a double floor would lose precision past
            // 2^53 micros and mis-bucket extreme timestamps
            expr(s"CAST((unix_micros(`${f.sourceName}`) - pmod(" +
              s"unix_micros(`${f.sourceName}`), ${DayMicros}L)) DIV " +
              s"${DayMicros}L AS BIGINT)")
          case DateType =>
            org.apache.spark.sql.functions.datediff(src,
              lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
          case LongType => // epoch-micros column
            expr(s"CAST((`${f.sourceName}` - pmod(`${f.sourceName}`, " +
              s"${DayMicros}L)) DIV ${DayMicros}L AS BIGINT)")
          case other => throw new IllegalArgumentException(
            s"day transform needs a timestamp/date/epoch-micros column, " +
              s"got $other for ${f.sourceName}")
        }
        case BucketRe(n) =>
          val nn = n.toInt
          sourceType match {
            case LongType | IntegerType =>
              udf((v: java.lang.Long) =>
                if (v == null) null
                else Long.box(bucketOf(v.longValue(), nn).toLong))
                .apply(src.cast("long"))
            case StringType =>
              udf((v: String) =>
                if (v == null) null else Long.box(bucketOf(v, nn).toLong))
                .apply(src)
            case other => throw new IllegalArgumentException(
              s"bucket transform needs a long/int/string column, got " +
                s"$other for ${f.sourceName}")
          }
        case TruncRe(w) => sourceType match {
          case LongType | IntegerType =>
            val lsrc = src.cast("long")
            lsrc - pmod(lsrc, lit(w.toLong))
          case StringType =>
            val ww = w.toInt
            // code-point semantics: substring() counts UTF-16 chars and
            // would disagree with apply() on astral-plane strings
            udf((v: String) =>
              if (v == null) null else truncateOf(v, ww).asInstanceOf[String])
              .apply(src)
          case other => throw new IllegalArgumentException(
            s"truncate transform needs a long/int/string column, got " +
              s"$other for ${f.sourceName}")
        }
        case other => throw new IllegalArgumentException(
          s"unsupported Iceberg partition transform: $other")
      }
    }

    /** The TUPLE value's type as staged/recorded: long for day/bucket
      * and numeric truncate, the source type otherwise.
      */
    def tupleIsLong(f: SpecField,
        sourceType: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      f.transform match {
        case "identity" =>
          sourceType == LongType || sourceType == IntegerType
        case "day" => true
        case BucketRe(_) => true
        case TruncRe(_) =>
          sourceType == LongType || sourceType == IntegerType
        case _ => false
      }
    }
  }

  /** Parsed metadata root: format version + snapshots + the current one.
    * `specFields` is the DEFAULT partition spec's identity fields as
    * (source field id, column name) — empty for unpartitioned tables.
    * `specs` is the full spec history ((spec-id, fields)); partition
    * EVOLUTION appends a new spec and moves `defaultSpecId`, leaving
    * files written under older specs interpretable forever.
    */
  final case class TableMeta(formatVersion: Long, currentSnapshotId: Long,
      snapshots: Seq[Snapshot], specFields: Seq[SpecField] = Seq.empty,
      specs: Seq[(Int, Seq[SpecField])] = Seq.empty,
      defaultSpecId: Int = 0,
      refs: Map[String, (Long, String)] = Map.empty,
      schemaFields: Seq[(Int, String, String)] = Seq.empty,
      nameMapping: Map[Int, String] = Map.empty,
      schemas: Seq[(Int, Seq[(Int, String, String)])] = Seq.empty,
      currentSchemaId: Int = 0) {
    /** The current schema record, None when the table records none. */
    def recordedFields: Option[Seq[(Int, String, String)]] =
      Some(schemaFields).filter(_.nonEmpty)
  }

  /** The table's HEAD metadata version — the highest committed
    * `v<N>.metadata.json` — or 0 for a fresh table (versions start at
    * 1). The optimistic-concurrency base a writer captures BEFORE it
    * reads the state it will commit against; see [[commitSnapshot]].
    */
  private[sources] def headVersion(tablePath: String): Long =
    Option(new File(tablePath, "metadata").listFiles()).getOrElse(Array.empty)
      .map(_.getName).collect { case MetadataName(v) => v.toLong }
      .maxOption.getOrElse(0L)

  private val MetadataName = """v(\d+)\.metadata\.json""".r

  /** The metadata JSON of committed version `v`. */
  private def metadataFile(tablePath: String, v: Long): File =
    new File(new File(tablePath, "metadata"), s"v$v.metadata.json")

  /** Resolve the table's current metadata JSON: `version-hint.text` names
    * the version if present (the Hadoop-catalog convention), else the
    * highest-numbered `v*.metadata.json` wins.
    */
  private[sources] def currentMetadataFile(tablePath: String): File = {
    val metaDir = new File(tablePath, "metadata")
    require(metaDir.isDirectory, s"not an Iceberg table (no metadata/): $tablePath")
    val hint = new File(metaDir, "version-hint.text")
    // the hint is written non-atomically AFTER the metadata-version claim,
    // so under concurrent committers it can lag (or tear): trusting a
    // stale hint would resolve an old snapshot, and a retrying appender
    // reading it would silently drop the winner's files. The highest
    // committed v*.metadata.json is the truth; the hint can only ever
    // CONFIRM it (the Hadoop-catalog convention keeps the hint for
    // external readers, not for this resolver's correctness).
    val hintVersion: Option[Long] =
      if (!hint.isFile) None
      else scala.util.Try(new String(Files.readAllBytes(hint.toPath),
        StandardCharsets.UTF_8).trim.toLong).toOption
    val v = (headVersion(tablePath) +: hintVersion.toSeq).max
    require(v > 0L, s"no v*.metadata.json under $metaDir")
    val f = metadataFile(tablePath, v)
    require(f.isFile, s"resolved metadata version $v but ${f.getName} is absent")
    f
  }

  private[sources] def parseMeta(f: File): TableMeta = {
    val root = MiniJson.parseObject(
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .getOrElse(throw new IllegalArgumentException(
        s"unparseable Iceberg metadata: ${f.getPath}"))
    val fv = root.get("format-version") match {
      case Some(d: Double) => d.toLong
      case _ => throw new IllegalArgumentException(
        s"Iceberg metadata without format-version: ${f.getPath}")
    }
    require(fv <= 2L, s"unsupported Iceberg format-version $fv (max 2)")
    val current = root.get("current-snapshot-id") match {
      case Some(d: Double) => d.toLong
      case _ => throw new IllegalArgumentException(
        s"Iceberg metadata without current-snapshot-id: ${f.getPath}")
    }
    val snaps = root.get("snapshots") match {
      case Some(xs: Seq[_]) => xs.collect { case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        val summary = mm.get("summary") match {
          case Some(sm: Map[_, _]) => sm.asInstanceOf[Map[String, Any]]
            .collect { case (k, v: String) => k -> v }
          case _ => Map.empty[String, String]
        }
        Snapshot(mm("snapshot-id").asInstanceOf[Double].toLong,
          mm("manifest-list").asInstanceOf[String], summary,
          mm.get("parent-snapshot-id").collect { case d: Double => d.toLong },
          mm.get("schema-id").collect { case d: Double => d.toInt })
      }
      case _ => Seq.empty
    }
    // the full partition-spec history (identity/day/bucket/truncate
    // transforms); absent/empty on unpartitioned tables. `source-name`
    // is this writer's extension for schema-free tables (real Iceberg
    // resolves source-id through the schema record); absent → identity
    // convention (source name == field name).
    val specs: Seq[(Int, Seq[SpecField])] =
      root.get("partition-specs") match {
        case Some(xs: Seq[_]) => xs.collect { case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val id = mm.get("spec-id")
            .collect { case d: Double => d.toInt }.getOrElse(0)
          val fields = mm.get("fields") match {
            case Some(fs: Seq[_]) => fs.collect { case fm0: Map[_, _] =>
              val fm = fm0.asInstanceOf[Map[String, Any]]
              val name = fm("name").asInstanceOf[String]
              val transform = fm.get("transform")
                .collect { case s: String => s }.getOrElse("identity")
              val srcName = fm.get("source-name")
                .collect { case s: String => s }.getOrElse(name)
              SpecField(fm("source-id").asInstanceOf[Double].toInt, name,
                transform, if (srcName == name) "" else srcName)
            }
            case _ => Seq.empty[SpecField]
          }
          (id, fields)
        }
        case _ => Seq.empty
      }
    val defaultId = root.get("default-spec-id")
      .collect { case d: Double => d.toInt }.getOrElse(0)
    val spec = specs.find(_._1 == defaultId).map(_._2).getOrElse(Seq.empty)
    // snapshot refs (the spec's named time-travel surface): name →
    // (snapshot-id, tag|branch)
    val refs: Map[String, (Long, String)] = root.get("refs") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]].collect {
        case (n, rm: Map[_, _]) =>
          val r = rm.asInstanceOf[Map[String, Any]]
          n -> ((r.get("snapshot-id")
              .collect { case d: Double => d.toLong }.getOrElse(
                throw new IllegalArgumentException(
                  s"ref $n lacks snapshot-id in ${f.getPath}")),
            r.get("type").collect { case s: String => s }.getOrElse("tag")))
      }
      case _ => Map.empty
    }
    // the current schema's (field id, name, iceberg type) triples —
    // recorded only by tables that need field-id reads (UniForm mirrors
    // of column-mapped Delta); absent on footer-inferred tables
    val currentSchemaId = root.get("current-schema-id")
      .collect { case d: Double => d.toInt }.getOrElse(0)
    val schemas: Seq[(Int, Seq[(Int, String, String)])] =
      root.get("schemas") match {
        case Some(xs: Seq[_]) =>
          xs.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
            .map { m =>
              val id = m.get("schema-id")
                .collect { case d: Double => d.toInt }.getOrElse(0)
              val fields = m.get("fields").collect { case fs: Seq[_] =>
                fs.collect { case fm0: Map[_, _] =>
                  val fm = fm0.asInstanceOf[Map[String, Any]]
                  (fm("id").asInstanceOf[Double].toInt,
                    fm("name").asInstanceOf[String],
                    fm("type").asInstanceOf[String])
                }
              }.getOrElse(Seq.empty)
              id -> fields
            }
        case _ => Seq.empty
      }
    val schemaFields: Seq[(Int, String, String)] =
      schemas.find(_._1 == currentSchemaId).map(_._2).getOrElse(Seq.empty)
    // the spec's name mapping (`schema.name-mapping.default` table
    // property): field id -> physical column name, for data files that
    // carry NO parquet field ids (UniForm mirrors of NAME-mode mapped
    // Delta). Simple flat form only: [{"field-id":N,"names":["phys"]}].
    val nameMapping: Map[Int, String] = root.get("properties") match {
      case Some(pm: Map[_, _]) =>
        pm.asInstanceOf[Map[String, Any]]
          .get("schema.name-mapping.default")
          .collect { case s0: String => s0 }
          .flatMap(raw => MiniJson.parseObject(s"""{"m":$raw}"""))
          .flatMap(_.get("m").collect { case xs: Seq[_] => xs })
          .map(_.collect { case m: Map[_, _] =>
            val mm = m.asInstanceOf[Map[String, Any]]
            val id = mm("field-id").asInstanceOf[Double].toInt
            val names = mm.get("names") match {
              case Some(xs: Seq[_]) => xs.collect { case n: String => n }
              case _ => Seq.empty
            }
            id -> names.head
          }.toMap).getOrElse(Map.empty)
      case _ => Map.empty
    }
    TableMeta(fv, current, snaps, spec, specs, defaultId, refs, schemaFields,
      nameMapping, schemas, currentSchemaId)
  }

  private def snapshotJson(s: Snapshot): String = {
    val summaryJson =
      if (s.summary.isEmpty) ""
      else s.summary.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
      }.mkString(""","summary":{""", ",", "}")
    // parent-snapshot-id (the spec's field) records LINEAGE, not id
    // order: after a rollback the next commit's parent is the rolled-to
    // snapshot, and the changelog walks this chain instead of replaying
    // rolled-back-over orphans
    val parentJson = s.parentId.fold("")(p => s""","parent-snapshot-id":$p""")
    // schema-id (the spec's field): which schema epoch this snapshot's
    // data answers in — time travel reads each epoch through ITS schema
    val schemaJson = s.schemaId.fold("")(id => s""","schema-id":$id""")
    s"""{"snapshot-id":${s.snapshotId}$parentJson$schemaJson,"manifest-list":"${s.manifestList}"$summaryJson}"""
  }

  private def readAvro(f: File): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](f,
      new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toVector finally reader.close()
  }

  /** Field access tolerant of manifests written before a field existed:
    * GenericData.Record.get THROWS on a name outside the writer's schema,
    * so optional/evolving fields go through this instead.
    */
  private def fieldOrNull(r: GenericRecord, name: String): AnyRef =
    if (r.getSchema.getField(name) == null) null else r.get(name)

  /** A live file entry plus its manifest-recorded column bounds (field-id
    * → single-value binary; empty when the writer recorded none, in which
    * case the file must always be scanned). `content` 0 = data file,
    * 1 = position-delete file, 2 = equality-delete file; `seq` is the
    * entry's data sequence number (the append ordinal delete applicability
    * is decided by — 0 for pre-v2-support manifests); `equalityIds` names
    * the equality-delete key columns by Iceberg field id.
    */
  final case class LiveEntry(path: String,
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      content: Int = 0,
      seq: Long = 0L,
      equalityIds: Seq[Int] = Seq.empty,
      recordCount: Long = 0L,
      partitionValues: Map[String, Any] = Map.empty)

  /** The live DATA-file entries of a snapshot. REFUSES a table with live
    * v2 delete files: every caller of this method plans from the data
    * files alone (stats pruning, CoW rewrite, prior-entry carry), and on
    * such a table that planning would silently resurrect deleted rows —
    * [[read]] (which anti-joins the deletes) and [[liveSplitEntries]]
    * (which surfaces them) are the delete-aware entry points.
    */
  def liveEntries(tablePath: String,
      snapshotAsOf: Option[Long] = None): Seq[LiveEntry] = {
    val (data, dels) = liveSplitEntries(tablePath, snapshotAsOf)
    require(dels.isEmpty,
      s"Iceberg table carries ${dels.size} live v2 delete file(s): this " +
        "path plans from data files alone and would return deleted rows — " +
        "read() applies the deletes; rewriteDataFiles() compacts them away")
    data
  }

  /** All live file entries of a snapshot (current, or `snapshotAsOf` by
    * snapshot id), split (dataFiles, deleteFiles). Relative `file_path`s
    * resolve against the table root.
    */
  def liveSplitEntries(tablePath: String,
      snapshotAsOf: Option[Long] = None): (Seq[LiveEntry], Seq[LiveEntry]) = {
    val meta = parseMeta(currentMetadataFile(tablePath))
    val wantedId = snapshotAsOf.getOrElse(meta.currentSnapshotId)
    val snap = meta.snapshots.find(_.snapshotId == wantedId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $wantedId not in table metadata (have " +
          s"${meta.snapshots.map(_.snapshotId).mkString(",")})"))
    // status: 0 EXISTING, 1 ADDED, 2 DELETED
    manifestEntries(tablePath, meta, snap).collect {
      case (status, e) if status != 2 => e
    }.partition(_.content == 0)
  }

  /** Every manifest entry of `snap` as (status, entry) — status 0
    * EXISTING, 1 ADDED, 2 DELETED. Relative `file_path`s resolve against
    * the table root.
    */
  private def manifestEntries(tablePath: String, meta: TableMeta,
      snap: Snapshot): Seq[(Int, LiveEntry)] = {
    def resolve(p: String): String =
      if (new File(p).isAbsolute) p else new File(tablePath, p).getPath
    def boundsOf(df: GenericRecord, field: String): Map[Int, Array[Byte]] =
      fieldOrNull(df, field) match { // null for stats-less writers AND pre-bounds manifests
        case arr: java.util.Collection[_] =>
          arr.asScala.map { kv =>
            val r = kv.asInstanceOf[GenericRecord]
            val buf = r.get("value").asInstanceOf[java.nio.ByteBuffer]
            val bytes = new Array[Byte](buf.remaining())
            buf.duplicate().get(bytes)
            r.get("key").asInstanceOf[Int] -> bytes
          }.toMap
        case _ => Map.empty
      }
    // (manifest path, the manifest-list entry's own sequence number) —
    // v2 ADDED entries with a null data_sequence_number INHERIT it (the
    // spec's sequence-number inheritance: real writers leave ADDED seqs
    // null in the manifest and stamp the commit's sequence once, in the
    // manifest list)
    val manifests = readAvro(new File(resolve(snap.manifestList)))
      .map { r =>
        val mseq = fieldOrNull(r, "sequence_number") match {
          case l: java.lang.Long => Some(l.longValue())
          case _ => None // pre-v2 manifest list without the field
        }
        (r.get("manifest_path").toString, mseq)
      }
    manifests.flatMap { case (mp, mseq) =>
      readAvro(new File(resolve(mp))).map { entry =>
        val status = entry.get("status").asInstanceOf[Int]
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        val content = df.get("content").asInstanceOf[Int]
        val path = df.get("file_path").toString
        require(content >= 0 && content <= 2,
          s"unknown Iceberg content=$content in manifest entry $path")
        val seq = fieldOrNull(entry, "data_sequence_number") match {
          case l: java.lang.Long => l.longValue()
          // null on a v1 table: sequencing predates the table format,
          // every file is the same epoch (no delete files can exist)
          case _ if meta.formatVersion == 1L => 0L
          // v2 ADDED: inherit the committing manifest's sequence number —
          // defaulting to 0 here would let an older equality delete
          // (strictly-greater rule) wrongly kill rows appended AFTER it
          case _ if status == 1 && mseq.isDefined => mseq.get
          // v2 EXISTING/DELETED must carry their original sequence
          // explicitly (inheritance only covers same-commit ADDED rows);
          // refuse loudly rather than mis-sequence a MoR table
          case _ => throw new IllegalArgumentException(
            s"v2 manifest entry for $path (status $status) has no " +
              "data_sequence_number and no inheritable manifest " +
              "sequence — refusing to default it to 0")
        }
        val eqIds = fieldOrNull(df, "equality_ids") match {
          case c: java.util.Collection[_] =>
            c.asScala.map(_.asInstanceOf[Int]).toSeq
          case _ => Seq.empty[Int]
        }
        // the data_file's partition struct (v2 r102): one field per
        // identity partition column, null/absent on unpartitioned tables
        val pv = fieldOrNull(df, "partition") match {
          case r: GenericRecord =>
            r.getSchema.getFields.asScala.map { f =>
              f.name -> (r.get(f.name) match {
                case u: org.apache.avro.util.Utf8 => u.toString
                case l: java.lang.Long => l.longValue()
                case other => other // String or null
              })
            }.toMap[String, Any]
          case _ => Map.empty[String, Any]
        }
        status -> LiveEntry(resolve(path),
          boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"),
          content, seq, eqIds,
          df.get("record_count").asInstanceOf[Long], pv)
      }
    }
  }

  /** The table's snapshots (id, manifest list, summary), oldest first —
    * the inspection surface for snapshot operations and sink epochs.
    */
  def snapshots(tablePath: String): Seq[Snapshot] =
    parseMeta(currentMetadataFile(tablePath)).snapshots.sortBy(_.snapshotId)

  /** The table's partition-spec history ((spec-id, (source-id, field
    * name) pairs)) and the default spec id — the inspection surface for
    * spec evolution. Transform detail lives in [[partitionSpecsFull]].
    */
  def partitionSpecs(tablePath: String)
      : (Seq[(Int, Seq[(Int, String)])], Int) = {
    val (full, d) = partitionSpecsFull(tablePath)
    (full.map { case (id, fs) => id -> fs.map(f => (f.sourceId, f.name)) }, d)
  }

  /** The full spec history including transforms and source columns. */
  def partitionSpecsFull(tablePath: String)
      : (Seq[(Int, Seq[SpecField])], Int) = {
    val meta = parseMeta(currentMetadataFile(tablePath))
    (meta.specs, meta.defaultSpecId)
  }

  // ---- SNAPSHOT REFS (tags / branches) -------------------------------
  // The spec's named time-travel surface: `refs` in the metadata maps a
  // name to a snapshot id. A TAG is an immutable audit pointer ("the
  // corpus we trained v3 on"); the `main` BRANCH tracks the head on
  // every commit. Refs gate retention: expireSnapshots keeps every
  // ref'd snapshot regardless of age, so a tag is a durable pin until
  // dropped — exactly real Iceberg's tag retention.

  /** The table's refs: name → (snapshot id, tag|branch). */
  def refs(tablePath: String): Map[String, (Long, String)] =
    parseMeta(currentMetadataFile(tablePath)).refs

  /** Create a tag (or named branch pointer) at `snapshotId` (None =
    * current): ONE new metadata version, no data or manifest touched.
    * Refuses unknown snapshots and existing names (a ref is immutable —
    * drop and recreate to move it).
    */
  def createRef(tablePath: String, name: String,
      snapshotId: Option[Long] = None, refType: String = "tag"): Long = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag or branch, got $refType")
    require(name != "main", "main is reserved (it tracks the head)")
    val metaDir = new File(tablePath, "metadata")
    val base = headVersion(tablePath)
    val meta = parseMeta(currentMetadataFile(tablePath))
    val sid = snapshotId.getOrElse(meta.currentSnapshotId)
    require(meta.snapshots.exists(_.snapshotId == sid),
      s"snapshot $sid not in table metadata (have " +
        s"${meta.snapshots.map(_.snapshotId).mkString(",")})")
    require(!meta.refs.contains(name),
      s"ref $name already exists (drop it first to move it)")
    writeMetadataVersion(metaDir, tablePath, base + 1, meta.currentSnapshotId,
      meta.snapshots.map(snapshotJson), meta.specs, meta.defaultSpecId,
      meta.refs + (name -> ((sid, refType))), meta.schemas,
      meta.nameMapping, meta.currentSchemaId)
    sid
  }

  /** Drop a ref (its snapshot becomes expirable again). Refuses `main`
    * and unknown names.
    */
  def dropRef(tablePath: String, name: String): Unit = {
    require(name != "main", "main is reserved (it tracks the head)")
    val metaDir = new File(tablePath, "metadata")
    val base = headVersion(tablePath)
    val meta = parseMeta(currentMetadataFile(tablePath))
    require(meta.refs.contains(name), s"no such ref: $name (have " +
      s"${meta.refs.keys.toSeq.sorted.mkString(",")})")
    writeMetadataVersion(metaDir, tablePath, base + 1, meta.currentSnapshotId,
      meta.snapshots.map(snapshotJson), meta.specs, meta.defaultSpecId,
      meta.refs - name, meta.schemas, meta.nameMapping,
      meta.currentSchemaId)
  }

  /** Read the snapshot a ref names (`AS OF TAG` / branch read). */
  def readRef(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    val meta = parseMeta(currentMetadataFile(tablePath))
    val (sid, _) = meta.refs.getOrElse(name,
      throw new IllegalArgumentException(
        s"no such ref: $name in $tablePath (have " +
          s"${meta.refs.keys.toSeq.sorted.mkString(",")})"))
    read(spark, tablePath, Some(sid))
  }

  /** The live parquet data-file paths of a snapshot. */
  def liveFiles(tablePath: String,
      snapshotAsOf: Option[Long] = None): Seq[String] =
    liveEntries(tablePath, snapshotAsOf).map(_.path)

  /** One snapshot's ADDED data files (status 1, content 0) — the files
    * the commit itself created, straight from its manifests.
    */
  private def addedDataFiles(tablePath: String, meta: TableMeta,
      snap: Snapshot): Seq[LiveEntry] =
    manifestEntries(tablePath, meta, snap).collect {
      case (1, e) if e.content == 0 => e
    }

  /** INCREMENTAL APPEND SCAN — Iceberg's changes-between read (the
    * [[DeltaLog.tableChanges]] twin): every record appended in snapshots
    * `(fromSnapshotId, toSnapshotId]` (from exclusive — 0 = table
    * creation; to None = current), as `read(to)`'s columns — every
    * range file decodes through the `to` snapshot's schema — plus
    * `_snapshot_id`. Dispatch is on each snapshot's spec-required
    * `operation` summary: `append` snapshots contribute their ADDED data
    * files (appended files are immutable, so this reads O(appended
    * bytes), never the table); `replace` (compaction) snapshots are
    * SKIPPED — rows unchanged by contract; `delete`/`overwrite`/unknown
    * snapshots REFUSE loudly, exactly real Iceberg's incremental-read
    * rule — an append-only representation of a row-removing commit does
    * not exist. Expired history refuses at resolve (the ids are gone
    * from the metadata).
    */
  def appendsBetween(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val meta = parseMeta(currentMetadataFile(tablePath))
    val toId = toSnapshotId.getOrElse(meta.currentSnapshotId)
    val ids = meta.snapshots.map(_.snapshotId).sorted
    require(fromSnapshotId == 0L || ids.contains(fromSnapshotId),
      s"fromSnapshotId $fromSnapshotId not in table metadata (have " +
        s"${ids.mkString(",")}) — expired history cannot be read " +
        "incrementally")
    require(ids.contains(toId),
      s"toSnapshotId $toId not in table metadata (have ${ids.mkString(",")})")
    require(fromSnapshotId <= toId,
      s"empty range: from $fromSnapshotId > to $toId")
    val range = meta.snapshots.sortBy(_.snapshotId)
      .filter(s => s.snapshotId > fromSnapshotId && s.snapshotId <= toId)
    // one schema for the whole range, the one read(to) decodes with: a
    // rename inside the range must not split a column in two
    val fields = schemaFieldsAt(tablePath, toSnapshotId)
    val frames = range.flatMap { s =>
      s.summary.get("operation") match {
        case Some("append") =>
          val files = addedDataFiles(tablePath, meta, s)
          if (files.isEmpty) None
          else Some(decode(spark, tablePath, files, Seq.empty, fields)
            .withColumn("_snapshot_id", lit(s.snapshotId)))
        case Some("replace") => None // compaction: rows unchanged
        case other =>
          throw new IllegalArgumentException(
            s"snapshot ${s.snapshotId} of $tablePath has operation " +
              s"${other.getOrElse("<missing>")} — an incremental APPEND " +
              "scan cannot represent row-removing commits; read the " +
              "snapshots instead")
      }
    }
    if (frames.isEmpty)
      read(spark, tablePath, toSnapshotId)
        .withColumn("_snapshot_id", lit(0L)).limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** CHANGELOG scan — the row-level CDC read [[appendsBetween]] refuses
    * to fake (real Iceberg's `create_changelog_view`): every snapshot on
    * the ANCESTRY CHAIN from `from` to `to` (parent-snapshot-id lineage
    * — rolled-back-over orphans still in metadata never replay; id order
    * only as the fallback for writers that never stamped parents)
    * contributes its NET row changes as `insert`/`delete` records
    * stamped `_snapshot_id`, derived by DIFFING THE MANIFESTS into file
    * epochs:
    *
    *  - `append` snapshots emit their added files' rows as inserts —
    *    the fast path, O(appended bytes), no shuffle;
    *  - `replace` (compaction) snapshots are skipped — rows unchanged
    *    by contract;
    *  - `delete`/`overwrite` (CoW deleteWhere / replaceWhere / merge)
    *    snapshots read ONLY the files the snapshot removed and added —
    *    O(touched bytes), never the table — and CANCEL carry-over rows
    *    (a CoW rewrite re-stages every survivor; emitting those as
    *    delete+insert would drown the real changes), by count-matching
    *    whole rows: a row removed n times and re-added m times nets to
    *    |m−n| records of the surviving sign. Multiset fold invariant:
    *    state(parent) − deletes + inserts = state(snapshot), exactly.
    *
    * MoR POSITION-delete snapshots emit their kills as `delete` records:
    * a position delete names its target files, so the affected set stays
    * bounded and the diff runs over VISIBLE rows (deletes applied at
    * their sequence numbers on both sides) of just those files.
    * EQUALITY-delete snapshots refuse (their target files are unbounded
    * — the diff would be O(table)); a snapshot dropping a delete file
    * outside compaction refuses (rows would resurrect). Expired history
    * refuses at resolve, like [[appendsBetween]].
    */
  def changesBetween(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, explode, lit, sequence, sum, when}
    val meta = parseMeta(currentMetadataFile(tablePath))
    val toId = toSnapshotId.getOrElse(meta.currentSnapshotId)
    val ids = meta.snapshots.map(_.snapshotId).sorted
    require(fromSnapshotId == 0L || ids.contains(fromSnapshotId),
      s"fromSnapshotId $fromSnapshotId not in table metadata (have " +
        s"${ids.mkString(",")}) — expired history cannot be read as a " +
        "changelog")
    require(ids.contains(toId),
      s"toSnapshotId $toId not in table metadata (have ${ids.mkString(",")})")
    require(fromSnapshotId <= toId,
      s"empty range: from $fromSnapshotId > to $toId")
    // ANCESTRY WALK, not id order: rollbackTo leaves rolled-back-over
    // snapshots in metadata (they still time-travel) but they are NOT
    // ancestors of the head — replaying them would emit phantom
    // insert+delete pairs for changes that never happened on the
    // current branch. Walk parent-snapshot-id from `to` back to `from`;
    // snapshots without the field (foreign/legacy writers) fall back to
    // the max-smaller-id predecessor — id order IS lineage on a table
    // that never rolled back, and our writer stamps the field on every
    // commit.
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    // the id-order fallback is only trustworthy on a table that NEVER
    // rolled back (then id order IS lineage). A head behind the max id
    // is rollback evidence: a parentless snapshot there may have been
    // written by a foreign writer whose true parent is NOT the
    // max-smaller id, and guessing would replay rolled-back-over
    // orphans as phantom pairs — refuse loudly instead. (A table that
    // rolled back and then committed again has head == max again; our
    // own writer stamps parent-snapshot-id on every commit, so only
    // FOREIGN parentless snapshots on such a table remain undetectable
    // — the documented limitation.)
    def parentOf(s: Snapshot): Option[Long] =
      s.parentId.orElse {
        val fallback = ids.filter(_ < s.snapshotId).lastOption
        require(fallback.isEmpty || meta.currentSnapshotId == ids.max,
          s"snapshot ${s.snapshotId} of $tablePath records no " +
            "parent-snapshot-id and the table shows rollback history " +
            "(current snapshot is not the newest id) — the id-order " +
            "lineage fallback could replay rolled-back-over orphans, " +
            "refusing to walk the changelog ancestry")
        fallback
      }
    var chain = List.empty[Snapshot]
    var walk: Option[Snapshot] = Some(toId).filter(_ > 0L).map(byId)
    while (walk.exists(_.snapshotId > fromSnapshotId)) {
      val s = walk.get
      chain = s :: chain
      walk = parentOf(s).map(id => byId.getOrElse(id,
        throw new IllegalArgumentException(
          s"parent snapshot $id of ${s.snapshotId} not in table " +
            s"metadata (expired?) — cannot walk the changelog ancestry")))
    }
    require(fromSnapshotId == 0L ||
        walk.exists(_.snapshotId == fromSnapshotId),
      s"snapshot $fromSnapshotId is not an ancestor of $toId in " +
        s"$tablePath (rolled-back-over history cannot be read as a " +
        "changelog)")
    // one manifest replay per chain snapshot: each iteration's live set
    // is the next one's parent state (the chain is the lineage), so the
    // fold carries it instead of re-walking every parent's manifests.
    // VISIBLE rows of a file set = the rows its position/equality
    // deletes (at their sequence numbers) leave alive — MoR delete
    // snapshots diff to exactly the newly-dead rows.
    // Both sides decode through the `to` snapshot's schema, as
    // appendsBetween does, so a carried-over row cancels exactly.
    val fields = schemaFieldsAt(tablePath, toSnapshotId)
    def visible(entries: Seq[LiveEntry], dels: Seq[LiveEntry]) =
      decode(spark, tablePath, entries, dels, fields)
    var (prevData, prevDels) = walk
      .map(s => liveSplitEntries(tablePath, Some(s.snapshotId)))
      .getOrElse((Seq.empty[LiveEntry], Seq.empty[LiveEntry]))
    val frames = chain.flatMap { s =>
      val (curData, curDels) = liveSplitEntries(tablePath, Some(s.snapshotId))
      val (pData, pDels) = (prevData, prevDels)
      prevData = curData; prevDels = curDels
      if (s.summary.get("operation").contains("replace")) None // compaction
      else {
        val prevPaths = pData.map(_.path).toSet
        val curPaths = curData.map(_.path).toSet
        val prevDelPaths = pDels.map(_.path).toSet
        val addedDels = curDels.filterNot(e => prevDelPaths.contains(e.path))
        require(pDels.map(_.path).forall(curDels.map(_.path).toSet),
          s"snapshot ${s.snapshotId} of $tablePath drops a delete file " +
            "outside a replace/compaction — rows would RESURRECT, which " +
            "a changelog cannot represent")
        require(addedDels.forall(_.content == 1),
          s"snapshot ${s.snapshotId} of $tablePath adds an " +
            "EQUALITY-delete file: its target files are unbounded, so " +
            "the changelog cannot stay O(touched bytes) — " +
            "rewriteDataFiles() first, then read the changelog")
        // whenever THIS step applies delete files to a SUBSET of the
        // live set (visible() below, namedByDels matching), basename
        // uniqueness must hold over the FULL before∪after data sets —
        // liveWithMeta's own require would only see the subset, and on
        // an adopted layout a position delete aimed at an unaffected
        // same-named file would silently apply to the affected one
        if ((pDels ++ curDels).nonEmpty) {
          val allNames = (pData ++ curData.filterNot(e =>
            prevPaths.contains(e.path))).map(e => new File(e.path).getName)
          require(allNames.distinct.size == allNames.size,
            s"duplicate data-file basenames across snapshot " +
              s"${s.snapshotId} of $tablePath: position-delete matching " +
              "is by file name and would be ambiguous — " +
              allNames.diff(allNames.distinct).distinct.mkString(","))
        }
        // files whose VISIBLE rows can change: moved data files, plus
        // the carried files the new position deletes NAME (a position
        // delete addresses rows by file, so the touched set is bounded)
        val namedByDels: Set[String] =
          if (addedDels.isEmpty) Set.empty
          else spark.read.schema(posDeleteSchema)
            .parquet(addedDels.map(_.path): _*)
            .select(org.apache.spark.sql.functions.element_at(
              org.apache.spark.sql.functions.split(col("file_path"), "/"),
              -1).as("__n"))
            .distinct().collect().map(_.getString(0)).toSet
        val addedData = curData.filterNot(e => prevPaths.contains(e.path))
        val removedData = pData.filterNot(e => curPaths.contains(e.path))
        val carried = curData.filter(e => prevPaths.contains(e.path) &&
          namedByDels.contains(new File(e.path).getName))
        val affectedPrev = removedData ++ carried
        val affectedCur = addedData ++ carried
        if (affectedPrev.isEmpty && affectedCur.isEmpty) None
        else if (affectedPrev.isEmpty && addedDels.isEmpty)
          // pure append: no carry-overs, and no same-snapshot delete
          // file can address the fresh rows
          Some(visible(affectedCur, Seq.empty)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_snapshot_id", lit(s.snapshotId)))
        else {
          // net VISIBLE-row changes: +1 per row alive after, −1 per row
          // alive before, grouped on the WHOLE row — CoW carry-overs
          // cancel exactly, rows MoR-dead before never re-emit as
          // deletes, and a new position delete nets to its kills
          val sides =
            (if (affectedCur.isEmpty) Seq.empty
             else Seq(visible(affectedCur, curDels)
               .withColumn("__graft_w", lit(1)))) ++
            (if (affectedPrev.isEmpty) Seq.empty
             else Seq(visible(affectedPrev, pDels)
               .withColumn("__graft_w", lit(-1))))
          // allowMissingColumns: with no schema record each side is
          // named by its own first footer
          val all = sides.reduce(_.unionByName(_, allowMissingColumns = true))
          val dataCols = all.columns.filterNot(_ == "__graft_w").toSeq
          val net = all.groupBy(dataCols.map(c => col(s"`$c`")): _*)
            .agg(sum(col("__graft_w")).as("__graft_n"))
            .filter(col("__graft_n") =!= 0)
          Some(net
            .withColumn("__graft_i", explode(sequence(lit(1),
              abs(col("__graft_n")).cast("int"))))
            .withColumn("_change_type",
              when(col("__graft_n") > 0, lit("insert"))
                .otherwise(lit("delete")))
            .withColumn("_snapshot_id", lit(s.snapshotId))
            .drop("__graft_n", "__graft_i"))
        }
      }
    }
    if (frames.isEmpty)
      read(spark, tablePath, toSnapshotId)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_snapshot_id", lit(0L)).limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** DATA SKIPPING over manifest bounds: the live files whose recorded
    * [lower, upper] for long-typed `fieldId` can intersect `[lo, hi]`
    * (either bound None = unbounded). Files without bounds for the field
    * are ALWAYS kept — skipping may only shrink the scan, never the
    * answer (the same safety rule as [[DeltaLog.pruneByStats]]; this is
    * the manifest-level pruning real Iceberg scan planning does before
    * any footer is opened). Returns (kept, totalLive).
    */
  def pruneByLongBounds(tablePath: String, fieldId: Int,
      lo: Option[Long], hi: Option[Long]): (Seq[LiveEntry], Int) = {
    val entries = liveEntries(tablePath)
    val kept = entries.filter(boundsAdmit(_, fieldId, lo, hi))
    (kept, entries.size)
  }

  /** Can `e`'s recorded [lower, upper] for long-typed `fieldId` intersect
    * [lo, hi]? Missing bounds admit (skipping may only shrink the scan).
    */
  private def boundsAdmit(e: LiveEntry, fieldId: Int,
      lo: Option[Long], hi: Option[Long]): Boolean = {
    val below = for { l <- lo; ub <- e.upperBounds.get(fieldId) }
      yield decodeLongBound(ub) < l
    val above = for { h <- hi; lb <- e.lowerBounds.get(fieldId) }
      yield decodeLongBound(lb) > h
    !(below.getOrElse(false) || above.getOrElse(false))
  }

  /** COMPOSED manifest pruning — the shape real Iceberg scan planning
    * runs for `WHERE part = v AND key BETWEEN lo AND hi`: partition
    * tuples eliminate whole partitions first, column bounds then skip
    * within the survivors, both folded from the manifests alone (zero
    * data files or footers opened). Returns (kept, afterPartition,
    * totalLive) so callers can see each stage's selectivity.
    */
  def prunePartitionsAndBounds(tablePath: String, filter: Map[String, Any],
      fieldId: Int, lo: Option[Long], hi: Option[Long])
      : (Seq[LiveEntry], Int, Int) = {
    val (partKept, total) = prunePartitions(tablePath, filter)
    val kept = partKept.filter(boundsAdmit(_, fieldId, lo, hi))
    (kept, partKept.size, total)
  }

  /** Partition + range scan: [[read]] over ONLY the doubly-admitted
    * files, with the partition filter and range predicate re-applied as
    * residuals (the bounds decide files; the predicate still decides
    * rows).
    */
  def readPartitionRange(spark: SparkSession, tablePath: String,
      filter: Map[String, Any], column: String, fieldId: Int,
      lo: Option[Long], hi: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _, _) = prunePartitionsAndBounds(tablePath, filter, fieldId, lo, hi)
    val base = readEntries(spark, tablePath, kept)
    val partFiltered = filter.foldLeft(base) { case (d, (c, v)) =>
      if (v == null) d.filter(col(c).isNull) else d.filter(col(c) === lit(v))
    }
    val bounded = lo.fold(partFiltered)(l => partFiltered.filter(col(column) >= lit(l)))
    hi.fold(bounded)(h => bounded.filter(col(column) <= lit(h)))
  }

  /** Range scan with manifest data skipping: [[read]] over ONLY the
    * bound-admitted files, then the predicate (skipping bounds the scan;
    * the filter still decides rows).
    */
  def readRange(spark: SparkSession, tablePath: String, column: String,
      fieldId: Int, lo: Option[Long], hi: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = pruneByLongBounds(tablePath, fieldId, lo, hi)
    val base = readEntries(spark, tablePath, kept)
    val bounded = lo.fold(base)(l => base.filter(col(column) >= lit(l)))
    hi.fold(bounded)(h => bounded.filter(col(column) <= lit(h)))
  }

  /** Snapshot scan as a DataFrame (current snapshot, or time travel via
    * `snapshotAsOf`), with any v2 position/equality delete files of the
    * snapshot anti-joined in (merge-on-read).
    */
  def read(spark: SparkSession, tablePath: String,
      snapshotAsOf: Option[Long] = None): DataFrame = {
    val (data, dels) = liveSplitEntries(tablePath, snapshotAsOf)
    require(data.nonEmpty, s"Iceberg snapshot has no data files: $tablePath")
    // EPOCH-FAITHFUL time travel: the snapshot's stamped schema-id
    // resolves its OWN schema record — a pre-evolution snapshot reads in
    // its pre-evolution shape (no NULL-filled future columns), exactly
    // like the Delta log replay (x34)
    decode(spark, tablePath, data, dels,
      schemaFieldsAt(tablePath, snapshotAsOf))
  }

  /** The pruned readers' decode: [[read]] of the current snapshot over
    * `kept` data files (the planning that picked them refuses tables
    * with live delete files). An empty kept-set is a zero-row frame with
    * the table's schema.
    */
  private def readEntries(spark: SparkSession, tablePath: String,
      kept: Seq[LiveEntry]): DataFrame =
    if (kept.isEmpty) read(spark, tablePath).limit(0)
    else decode(spark, tablePath, kept, Seq.empty,
      currentSchemaFields(tablePath))

  /** THE DECODE: how a set of Iceberg data files becomes the table's
    * logical rows. The data files scan through [[scanData]], or — with
    * live delete files — through the delete-applying relation over it
    * ([[liveWithMeta]]); identity partition columns the files lack join
    * in from the manifests ([[injectIdentityPartitions]]); a recorded
    * schema then fixes the output column ORDER (partition columns join
    * in last, so a mapped+partitioned mirror re-projects to the
    * declared order). [[read]], every pruned reader and the incremental
    * reads call this, so a pruned read is [[read]] over fewer files by
    * construction.
    */
  private def decode(spark: SparkSession, tablePath: String,
      data: Seq[LiveEntry], dels: Seq[LiveEntry],
      fields: Option[Seq[(Int, String, String)]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base =
      if (dels.isEmpty) scanData(spark, tablePath, data, fields)
      else liveWithMeta(spark, tablePath, data, dels, fields)
        .drop(ProvenanceCols: _*)
    val injected = injectIdentityPartitions(spark, data, base,
      hiddenFieldNames(tablePath))
    fields match {
      case Some(fs) if fs.map(_._2).forall(injected.columns.contains) =>
        injected.select(fs.map(f => col(s"`${f._2}`")): _*)
      case _ => injected
    }
  }

  /** The schema record a read of `asOf` must decode through: the
    * snapshot's stamped schema-id resolved against the metadata's
    * schema history; the CURRENT schema when reading the head. An
    * UNSTAMPED snapshot on a table where other snapshots ARE stamped
    * predates the first schema record (this writer's pre-evolution
    * epochs were footer-inferred) and reads footer-inferred; on a
    * wholly-unstamped foreign table the current record is the only
    * decode key and applies to every snapshot (the pre-epoch behavior,
    * kept for fixtures/mirror metadata written without stamps).
    */
  private[sources] def schemaFieldsAt(tablePath: String,
      asOf: Option[Long]): Option[Seq[(Int, String, String)]] = asOf match {
    case None => currentSchemaFields(tablePath)
    case Some(sid) =>
      val meta = parseMeta(currentMetadataFile(tablePath))
      if (meta.schemas.isEmpty) None
      else meta.snapshots.find(_.snapshotId == sid).flatMap(_.schemaId) match {
        case Some(id) =>
          val fields = meta.schemas.find(_._1 == id).getOrElse(
            throw new IllegalArgumentException(
              s"snapshot $sid of $tablePath stamps schema-id $id but the " +
                "metadata's schema history has no such entry"))._2
          Some(fields).filter(_.nonEmpty)
        case None =>
          // unstamped with stamps elsewhere: this writer's pre-evolution
          // epochs were footer-inferred — but ONLY identity-mapped
          // tables (the shape evolution writes) can decode that way. A
          // MIRROR's record predates every stamp (its pre-upgrade
          // snapshots were schema-recorded from creation) and its files
          // need record/mapping decode — physical names or footer field
          // ids — so anything not identity-mapped keeps the current
          // record for unstamped snapshots.
          val identityMapped = meta.nameMapping.nonEmpty &&
            meta.schemaFields.forall { case (id, n, _) =>
              meta.nameMapping.get(id).forall(_ == n) }
          if (meta.snapshots.exists(_.schemaId.isDefined) && identityMapped)
            None
          else meta.recordedFields
      }
  }

  /** THE SCAN SCHEMA: the one place a set of data files gets its
    * schema. A table that RECORDS a schema (`fieldsOverride`, the
    * record the read decodes with) scans through it —
    * by physical name under a name mapping, renamed back to logical,
    * else by footer field id (the UniForm-mirror case, where files carry
    * physical Delta names) — so a file lacking a recorded column reads
    * it as NULL. Otherwise one driver-side footer names it (single-schema
    * table by this writer's contract). No schema-inference job runs.
    * `provenance` attaches `__graft_file` (the file's URI) and
    * `__graft_pos` (the row's index in it) to the raw file relation,
    * before the rename, which would hide the `_metadata` column.
    */
  private def scanData(spark: SparkSession, tablePath: String,
      data: Seq[LiveEntry],
      fieldsOverride: Option[Seq[(Int, String, String)]],
      provenance: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    def scan(schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val raw = spark.read.schema(schema).parquet(data.map(_.path): _*)
      if (!provenance) raw
      else raw.withColumn("__graft_file", col("_metadata.file_path"))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    }
    fieldsOverride match {
      case Some(allFields) =>
        val meta0 = parseMeta(currentMetadataFile(tablePath))
        val mapping = meta0.nameMapping
        // IDENTITY-PARTITION fields: on a Delta-laid-out mirror
        // (UniForm), they live in manifests, NOT data files — requesting
        // them from parquet would yield NULL columns that block the
        // partition injection, so the scan excludes them and the
        // injector re-attaches them (read() restores order). Tables
        // THIS writer stages keep the source columns IN the data files
        // (shadow-column staging), so an evolved partitioned table must
        // read them directly — excluding would inject manifest-typed
        // stand-ins over real columns. The mapping cannot discriminate
        // the layouts (an upgraded Delta table's physical names are
        // identity too): ONE driver-side footer read of one data file
        // decides — no job, same class as the log listing.
        // HIDDEN (transformed) fields' source columns stay in the data
        // files in both layouts and are never excluded.
        val identityPartIds = meta0.specs.find(_._1 == meta0.defaultSpecId)
          .map(_._2.filter(_.isIdentity).map(_.sourceId).toSet)
          .getOrElse(Set.empty[Int])
        val partIds =
          if (identityPartIds.isEmpty) Set.empty[Int]
          else {
            val physNames = allFields
              .filter(f => identityPartIds.contains(f._1))
              .map { case (id, n, _) => mapping.getOrElse(id, n) }
            val footerCols =
              Tables.schema(spark, data.head.path).fieldNames.toSet
            if (physNames.forall(footerCols.contains)) Set.empty[Int]
            else identityPartIds
          }
        val fields = allFields.filterNot(f => partIds.contains(f._1))
        if (mapping.nonEmpty) {
          // NAME MAPPING (`schema.name-mapping.default`): files carry
          // physical names and NO footer field ids — scan the typed
          // physical schema, rename positionally back to logical
          import org.apache.spark.sql.types.{StructField, StructType}
          val physical = StructType(fields.map { case (id, n, t) =>
            StructField(mapping.getOrElse(id,
              throw new IllegalArgumentException(
                s"name mapping lacks field id $id ($n) in $tablePath")),
              icebergToSparkType(t), nullable = true)
          })
          val kept =
            if (provenance) Seq(col("__graft_file"), col("__graft_pos"))
            else Seq.empty
          scan(physical).select(fields.zip(physical.fields).map {
            case ((_, n, _), pf) => col(s"`${pf.name}`").as(n)
          } ++ kept: _*)
        } else {
          spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
          scan(fieldIdRequestSchema(fields))
        }
      case None => scan(Tables.schema(spark, data.head.path))
    }
  }

  /** The metadata-recorded schema's (id, name, iceberg type) triples,
    * None when the table relies on footer inference (every table this
    * writer creates directly; only UniForm mirrors of column-mapped
    * Delta record one).
    */
  private[sources] def currentSchemaFields(tablePath: String)
      : Option[Seq[(Int, String, String)]] =
    parseMeta(currentMetadataFile(tablePath)).recordedFields

  /** Iceberg primitive type string → Spark type (the subset this writer
    * round-trips; anything else refuses loudly rather than mis-typing).
    */
  private[sources] def icebergToSparkType(t: String)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val dec = """decimal\((\d+),\s*(\d+)\)""".r
    t match {
      case "long" => LongType
      case "int" => IntegerType
      case "double" => DoubleType
      case "float" => FloatType
      case "string" => StringType
      case "boolean" => BooleanType
      case "date" => DateType
      case "timestamp" | "timestamptz" => TimestampType
      case dec(p, sc) => DecimalType(p.toInt, sc.toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg type in schema record: $other")
    }
  }

  /** Spark type → Iceberg primitive type string (the inverse subset). */
  private[sources] def sparkToIcebergType(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case DoubleType => "double"
      case FloatType => "float"
      case StringType => "string"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"cannot express Spark type $other as an Iceberg schema field — " +
          "nested/complex columns are not supported in schema-recorded " +
          "(UniForm-mirrored) tables")
    }
  }

  /** The field-id request schema for a schema-recorded table: logical
    * names typed from the metadata record, each stamped with
    * `parquet.field.id` so Spark resolves the column by footer id.
    */
  private def fieldIdRequestSchema(fields: Seq[(Int, String, String)])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(fields.map { case (id, n, t) =>
      StructField(n, icebergToSparkType(t), nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
    })
  }

  /** IDENTITY-PARTITION RE-INJECTION — the Iceberg spec's rule that an
    * identity-transformed partition column may be ABSENT from the data
    * files and read from the manifest's partition struct instead (how
    * imported hive layouts and UniForm-mirrored Delta tables stay
    * readable without rewriting a byte: Delta keeps partition column
    * data in its log, so the mirrored files physically lack it). Any
    * partition column missing from the scanned schema joins back in
    * from a broadcast file→value map, O(files) metadata. Mixed presence
    * (some files carry the column in data, some only in metadata)
    * refuses — injection would shadow real data. Tables whose files
    * carry their partition columns (this writer's shadow-column
    * staging) pass through untouched.
    */
  private def injectIdentityPartitions(spark: SparkSession,
      data: Seq[LiveEntry], base: DataFrame,
      hiddenFields: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    // hidden (transformed) tuple fields are DERIVED values, never table
    // columns — injecting `ts_day` would add a column no schema declares
    val pvCols = data.flatMap(_.partitionValues.keys).distinct
      .filterNot(hiddenFields).sorted
    val missing = pvCols.filterNot(base.columns.contains)
    if (missing.isEmpty) return base
    missing.foreach { c =>
      require(data.forall(_.partitionValues.contains(c)),
        s"mixed partition metadata: column $c is absent from some files' " +
          "data AND some manifests — cannot re-inject without shadowing")
    }
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fileKey = "__graft_ice_file"
    def sparkType(vs: Seq[Any]) = vs.collectFirst {
      case _: Long => LongType
      case _: Int => LongType
    }.getOrElse(StringType)
    val colTypes = missing.map(c =>
      c -> sparkType(data.flatMap(_.partitionValues.get(c)).filter(_ != null)))
    val rows = data.map { e =>
      val p = new org.apache.hadoop.fs.Path(e.path)
      val qualified = p.getFileSystem(hadoopConf).makeQualified(p)
        .toUri.toString
      Row.fromSeq(qualified +: colTypes.map { case (c, t) =>
        e.partitionValues.get(c).orNull match {
          case null => null
          case v: Long if t == LongType => v
          case v: Int if t == LongType => v.toLong
          case v => v.toString
        }
      })
    }
    val mapSchema = StructType(StructField(fileKey, StringType) +:
      colTypes.map { case (c, t) => StructField(c, t) })
    val fileToPv = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), mapSchema)
    base.withColumn(fileKey, input_file_name())
      .join(broadcast(fileToPv), Seq(fileKey))
      .drop(col(fileKey))
  }

  /** The live-row relation of a v2 snapshot WITH per-row provenance
    * columns still attached (`__graft_file` data-file NAME, `__graft_pos`
    * row index in its file, `__graft_dseq` the file's sequence number) —
    * [[read]] drops them; the MoR delete writers reuse them to address
    * rows. ONE distributed scan over the data files through
    * [[scanData]] with `fields`; every delete relation is
    * incremental-batch sized and broadcast:
    *
    *  - POSITION deletes (`content=1`) anti-join on (file, pos) where the
    *    delete's sequence number ≥ the data file's (a position delete
    *    addresses files that existed when it was written);
    *  - EQUALITY deletes (`content=2`) anti-join NULL-SAFELY on the
    *    delete file's own columns where the delete's sequence number is
    *    STRICTLY greater — rows appended later survive, per spec. Column
    *    resolution uses the delete parquet's column names, read from its
    *    footer (this writer records names = table names; `equality_ids`
    *    is carried in the manifest for spec fidelity).
    */
  private def liveWithMeta(spark: SparkSession, tablePath: String,
      data: Seq[LiveEntry], dels: Seq[LiveEntry],
      fields: Option[Seq[(Int, String, String)]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, element_at, lit, split, typedLit}
    requireUniqueBasenames(data)
    // seq attaches via a MAP LITERAL lookup, not a broadcast join: the
    // map is driver-known (the live-set listing), a literal rides the
    // stage's existing task-binary broadcast, and every broadcast
    // exchange under AQE is its own driver job — one per read on the
    // MoR hot path (r21 directive 4)
    val seqMap: Map[String, Long] =
      data.map(e => new File(e.path).getName -> e.seq).toMap
    var cur = scanData(spark, tablePath, data, fields, provenance = true)
      .withColumn("__graft_file",
        element_at(split(col("__graft_file"), "/"), -1))
      .withColumn("__graft_dseq",
        element_at(typedLit(seqMap), col("__graft_file")))
    val posDels = dels.filter(_.content == 1)
    if (posDels.nonEmpty) {
      val pd = posDels.map(e => spark.read.schema(posDeleteSchema)
          .parquet(e.path)
          .select(element_at(split(col("file_path"), "/"), -1).as("__pfile"),
            col("pos").as("__ppos"), lit(e.seq).as("__pseq")))
        .reduce(_.unionByName(_))
      cur = cur.join(broadcast(pd),
        cur("__graft_file") === pd("__pfile") &&
          cur("__graft_pos") === pd("__ppos") &&
          pd("__pseq") >= cur("__graft_dseq"),
        "left_anti")
    }
    dels.filter(_.content == 2).foreach { e =>
      val ed = Tables.read(spark, e.path)
      val cond = ed.columns.map(c => cur(c) <=> ed(c)).reduce(_ && _) &&
        lit(e.seq) > cur("__graft_dseq")
      cur = cur.join(broadcast(ed), cond, "left_anti")
    }
    cur
  }

  /** Position deletes and a match scan's touched files address data files
    * by NAME (`__graft_file`). Our writer's names are uuids (unique by
    * construction), but an externally-written table may repeat a basename
    * across directories — name matching would then silently misapply a
    * delete or tombstone the wrong file, so duplicate names refuse.
    */
  private def requireUniqueBasenames(data: Seq[LiveEntry]): Unit = {
    val names = data.map(e => new File(e.path).getName)
    require(names.distinct.size == names.size,
      "duplicate data-file basenames in the live set: position deletes " +
        "and touched files match by file name and would be ambiguous — " +
        names.diff(names.distinct).distinct.mkString(","))
  }

  /** The provenance columns [[liveWithMeta]] attaches. */
  private val ProvenanceCols =
    Seq("__graft_file", "__graft_pos", "__graft_dseq")

  /** Stage ONE position-delete parquet for `marked` rows (columns
    * `__graft_file` basename + `__graft_pos`): resolve the names to the
    * FULL paths the manifests record (the v2 file_path contract — a
    * spec-compliant external reader matches on them verbatim), sort by
    * (file, pos) as the spec asks, write under `data/`. Shared by
    * [[deletePositionsWhere]] and [[mergeMoR]] so the file_path contract
    * can never drift between the two delete writers. A marked row whose
    * basename is not live fails the staged write: a null `file_path`
    * would be a delete that matches no row.
    */
  private[sources] def stagePositionDelete(spark: SparkSession, root: File,
      data: Seq[LiveEntry],
      marked: DataFrame): Seq[File] = {
    import org.apache.spark.sql.functions.{coalesce, col, element_at, format_string, raise_error, typedLit}
    // basename → full path as a MAP LITERAL (driver-known live set):
    // same no-broadcast-job rationale as liveWithMeta's seq attach
    val pathMap: Map[String, String] =
      data.map(e => new File(e.path).getName -> e.path).toMap
    val hits = marked
      .select(
        coalesce(element_at(typedLit(pathMap), col("__graft_file")),
          raise_error(format_string(
            "position delete names a data file that is not live: %s",
            col("__graft_file")))).as("file_path"),
        col("__graft_pos").as("pos"))
      .orderBy(col("file_path"), col("pos"))
    stageData(hits.coalesce(1), root)
  }

  /** The position-delete file schema this writer stages (v2 spec shape):
    * `file_path` string + `pos` long. Passed explicitly on read so the
    * per-file inference job never runs.
    */
  private val posDeleteSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType)))

  /** Outcome of a MoR delete commit. */
  final case class V2DeleteStats(snapshotId: Long, rowsDeleted: Long)

  /** MERGE-ON-READ DELETE WHERE: instead of rewriting files (the CoW
    * [[deleteWhere]]), publish ONE position-delete file naming the
    * matching live rows by (data file, row index) — the v2 shape real
    * Iceberg writers produce when `write.delete.mode=merge-on-read`.
    * Matching runs over the LIVE relation (rows already dead to earlier
    * delete files are not re-addressed), so `rowsDeleted` is exact and
    * the written positions are sorted by (file, pos) as the spec asks.
    * Untouched data files keep their physical identity — the delete cost
    * is O(matches), not O(table). A predicate matching nothing is a
    * no-op (no empty snapshot). NULL-predicate rows survive (SQL DELETE
    * semantics).
    */
  def deletePositionsWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): V2DeleteStats = {
    import org.apache.spark.sql.functions.col
    val root = new File(tablePath)
    val base = headVersion(tablePath)
    val (data, dels) = liveSplitEntries(tablePath)
    require(data.nonEmpty, s"not a live Iceberg table: $tablePath")
    val marked = liveWithMeta(spark, tablePath, data, dels,
        currentSchemaFields(tablePath))
      .filter(predicate)
      .select(col("__graft_file"), col("__graft_pos"))
    val staged = stagePositionDelete(spark, root, data, marked)
    val n = graft.operators.Compaction.footerRowCount(spark,
      staged.map(_.getPath))
    if (n == 0L) {
      staged.foreach(f => Files.deleteIfExists(f.toPath))
      return V2DeleteStats(
        parseMeta(currentMetadataFile(tablePath)).currentSnapshotId, 0L)
    }
    val sid = commitSnapshot(tablePath, base,
      (data ++ dels).map(existingEntry) ++
        staged.map(f => FixtureEntry(1, f.getPath, n, content = 1)),
      operation = "delete")
    V2DeleteStats(sid, n)
  }

  /** EQUALITY DELETE: publish `keys` (distinct rows of the equality
    * columns) as ONE `content=2` delete file — v2's "delete by key
    * without reading anything" shape (the CDC-sink fast path: no scan,
    * no match job, O(batch) regardless of table size). Applies to data
    * files STRICTLY OLDER than this snapshot, so later appends of the
    * same keys survive. `equalityFieldIds` records the columns' Iceberg
    * field ids in the manifest entry per spec.
    */
  def deleteEqualityKeys(tablePath: String,
      keys: DataFrame, equalityFieldIds: Seq[Int]): Long = {
    val root = new File(tablePath)
    val base = headVersion(tablePath)
    val (data, dels) = liveSplitEntries(tablePath)
    require(data.nonEmpty, s"not a live Iceberg table: $tablePath")
    val staged = stageData(keys.distinct().coalesce(1), root)
    require(staged.nonEmpty, "no delete key file produced")
    // record_count is the manifest's row count for the delete file itself
    // (spec-required; external planners budget delete application by it)
    val n = graft.operators.Compaction.footerRowCount(keys.sparkSession,
      staged.map(_.getPath))
    if (n == 0L) { // empty key batch: a no-op, not an empty delete file
      staged.foreach(f => Files.deleteIfExists(f.toPath))
      return parseMeta(currentMetadataFile(tablePath)).currentSnapshotId
    }
    commitSnapshot(tablePath, base,
      (data ++ dels).map(existingEntry) ++
        staged.map(f => FixtureEntry(1, f.getPath, n, content = 2,
          equalityIds = equalityFieldIds)),
      operation = "delete")
  }

  /** Carry a live entry forward into the next snapshot unchanged:
    * EXISTING status, original content/sequence/bounds.
    */
  private[sources] def existingEntry(e: LiveEntry): FixtureEntry =
    FixtureEntry(0, e.path, e.recordCount, content = e.content,
      lowerBounds = e.lowerBounds, upperBounds = e.upperBounds,
      seq = e.seq, equalityIds = e.equalityIds,
      partitionValues = e.partitionValues)

  /** DDL entry point (`CREATE EXTERNAL TABLE ... STORED AS ICEBERG`). */
  def register(spark: SparkSession, name: String, tablePath: String): DataFrame = {
    read(spark, tablePath).createOrReplaceTempView(name)
    spark.emptyDataFrame
  }

  // ---- fixture writers (test / demo side): the READER above never sees
  // these — it walks whatever metadata tree is on disk. Schemas are the
  // spec's required core fields. --------------------------------------

  private val manifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  // lower_bounds / upper_bounds use Iceberg's Avro encoding of a
  // map<int, binary>: an array of key/value records (field-id ->
  // single-value binary serialization), optional for writers that
  // record no stats. The data_file record of a PARTITIONED table also
  // carries the spec's `partition` struct (r102): one typed field per
  // identity partition column, so the schema is built per manifest from
  // the partition fields in play (the real format's shape — the struct's
  // fields follow the table's partition spec, they are not a fixed map).
  private def manifestEntrySchema(
      partFields: Seq[(String, String)]): Schema = {
    val partField =
      if (partFields.isEmpty) ""
      else {
        val fs = partFields.map { case (n, t) =>
          s"""{"name":"$n","type":["null","$t"],"default":null}"""
        }.mkString(",")
        s"""{"name":"partition","type":["null",{"type":"record",
           |"name":"r102","fields":[$fs]}],"default":null},""".stripMargin
      }
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"data_file_r","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |$partField
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
        |"default":null},
        |{"name":"lower_bounds","type":["null",{"type":"array","items":
        |{"type":"record","name":"k_v_lower","fields":[
        |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
        |"default":null},
        |{"name":"upper_bounds","type":["null",{"type":"array","items":
        |{"type":"record","name":"k_v_upper","fields":[
        |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
        |"default":null}]}}]}""".stripMargin)
  }

  // ---- Iceberg single-value binary serialization (spec Appendix D):
  // long/double are 8-byte little-endian, int 4-byte LE, string UTF-8.
  // Only what the bounds writer/pruner needs.

  private[sources] def boundBytes(v: Any): Array[Byte] = v match {
    case l: Long =>
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
    case i: Int =>
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    case d: Double =>
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array()
    case b: Array[Byte] => b // parquet binary stats: already UTF-8 bytes
    case s: String => s.getBytes(StandardCharsets.UTF_8)
    case other => throw new IllegalArgumentException(
      s"unsupported bound value type: ${other.getClass.getName}")
  }

  private[graft] def decodeLongBound(b: Array[Byte]): Long = {
    require(b.length == 8, s"long bound must be 8 bytes, got ${b.length}")
    java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  private def writeAvro(f: File, schema: Schema,
      rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    try rows.foreach(w.append) finally w.close()
  }

  /** One manifest-entry fixture row. `content` 0 = data, 1 = position
    * deletes, 2 = equality deletes; `status` 2 = DELETED. Bounds map
    * field-id → single-value binary, empty = writer recorded no stats.
    * `seq` is the data sequence number carried by EXISTING entries;
    * ADDED entries write a NULL data_sequence_number and INHERIT the
    * committing snapshot's sequence from the manifest list — the spec's
    * inheritance shape real v2 writers produce (see writeSnapshot).
    * `forceNullSeq` drops the explicit sequence from a non-ADDED entry
    * too, staging the malformed shape the reader must refuse.
    */
  final case class FixtureEntry(status: Int, filePath: String,
      recordCount: Long, content: Int = 0,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      seq: Long = 0L,
      equalityIds: Seq[Int] = Seq.empty,
      forceNullSeq: Boolean = false,
      partitionValues: Map[String, Any] = Map.empty)

  /** Write one snapshot's manifest + manifest list into `metaDir`; returns
    * the manifest-list path (table-relative).
    */
  private def writeSnapshot(metaDir: File, sid: Long,
      entries: Seq[FixtureEntry],
      specs: Seq[(Int, Seq[SpecField])] = Seq.empty): String = {
    // manifest/list names carry a per-ATTEMPT unique tag: two concurrent
    // committers may both stage snapshot id N before either claims the
    // metadata version — same-named files would silently clobber the
    // winner's manifests (readers follow the RECORDED paths, so unique
    // names cost nothing; the loser's files become orphans that
    // expireSnapshots reclaims)
    val tag = java.util.UUID.randomUUID.toString.take(8)
    // ONE MANIFEST PER PARTITION SHAPE (real Iceberg's per-manifest
    // spec): grouping by each entry's partition-column SET keeps every
    // manifest's r102 struct exact for ITS files. Under partition
    // EVOLUTION a carried old-spec entry must never be padded with the
    // new spec's columns — a padded null is indistinguishable from a
    // genuine null partition VALUE, and prunePartitions would wrongly
    // drop the file on a new-column filter even though its data may
    // contain matching rows. Absent column (file's spec lacks it) must
    // stay absent, so it maps to "no info — always keep".
    val groups = entries.groupBy(_.partitionValues.keySet).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
    val written = groups.zipWithIndex.map { case ((keys, es), gi) =>
      val manifest = new File(metaDir, s"m-$sid-$gi-$tag.avro")
      // partition struct fields for THIS group, typed long where any
      // value is a long (identity transform keeps the source's type)
      val partFields: Seq[(String, String)] = keys.toSeq.sorted.map { n =>
        val isLong = es.flatMap(_.partitionValues.get(n))
          .exists(_.isInstanceOf[Long])
        (n, if (isLong) "long" else "string")
      }
      val entrySchema = manifestEntrySchema(partFields)
      val dataFileSchema = entrySchema.getField("data_file").schema()
      val partSchema =
        if (partFields.isEmpty) None
        else dataFileSchema.getField("partition").schema()
          .getTypes.asScala.find(_.getType == Schema.Type.RECORD)
      def kvArray(fieldName: String,
          bounds: Map[Int, Array[Byte]]): AnyRef =
        if (bounds.isEmpty) null
        else {
          val arrSchema = dataFileSchema.getField(fieldName).schema()
            .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
          val arr = new GenericData.Array[GenericRecord](bounds.size, arrSchema)
          bounds.toSeq.sortBy(_._1).foreach { case (k, v) =>
            val kv = new GenericData.Record(arrSchema.getElementType)
            kv.put("key", k)
            kv.put("value", java.nio.ByteBuffer.wrap(v))
            arr.add(kv)
          }
          arr
        }
      writeAvro(manifest, entrySchema, es.map { e =>
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", e.content)
        df.put("file_path", e.filePath)
        df.put("file_format", "PARQUET")
        // entries WITHOUT partition info (delete files, pre-spec files)
        // get a null struct, which the reader maps to "no info — always
        // keep", never an all-null record that would wrongly prune
        partSchema.foreach { ps =>
          if (e.partitionValues.nonEmpty) {
            val rec = new GenericData.Record(ps)
            partFields.foreach { case (n, _) =>
              rec.put(n, e.partitionValues.getOrElse(n, null) match {
                case l: Long => Long.box(l)
                case other => other // String or null
              })
            }
            df.put("partition", rec)
          }
        }
        df.put("record_count", e.recordCount)
        df.put("file_size_in_bytes", 0L)
        df.put("equality_ids",
          if (e.equalityIds.isEmpty) null
          else {
            val arrSchema = dataFileSchema.getField("equality_ids").schema()
              .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
            val arr = new GenericData.Array[Integer](e.equalityIds.size, arrSchema)
            e.equalityIds.foreach(i => arr.add(Int.box(i)))
            arr
          })
        df.put("lower_bounds", kvArray("lower_bounds", e.lowerBounds))
        df.put("upper_bounds", kvArray("upper_bounds", e.upperBounds))
        val r = new GenericData.Record(entrySchema)
        r.put("status", e.status)
        r.put("snapshot_id", sid)
        // ADDED entries leave data_sequence_number NULL and inherit the
        // manifest list's sequence_number (= this snapshot) — the spec's
        // inheritance form real v2 writers emit, which keeps the read
        // side's inheritance path exercised by every fixture;
        // EXISTING/DELETED carry their original commit's sequence
        r.put("data_sequence_number",
          if (e.status == 1 || e.forceNullSeq) null else Long.box(e.seq))
        r.put("data_file", df)
        r
      })
      // the manifest's spec id: the recorded spec whose FIELD-name set
      // matches this group (0 for unpartitioned/delete-file groups)
      val specId = specs.find(_._2.map(_.name).toSet == keys)
        .map(_._1).getOrElse(0)
      (manifest, specId)
    }
    val list = new File(metaDir, s"snap-$sid-$tag.avro")
    writeAvro(list, manifestFileSchema, written.map { case (manifest, specId) =>
      val mf = new GenericData.Record(manifestFileSchema)
      mf.put("manifest_path", s"metadata/${manifest.getName}")
      mf.put("manifest_length", manifest.length())
      mf.put("partition_spec_id", specId)
      mf.put("sequence_number", Long.box(sid))
      mf.put("added_snapshot_id", sid)
      mf
    })
    s"metadata/snap-$sid-$tag.avro"
  }

  private def writeMetadataVersion(metaDir: File, tablePath: String,
      version: Long, currentSid: Long, snapJsons: Seq[String],
      specs: Seq[(Int, Seq[SpecField])] = Seq.empty,
      defaultSpecId: Int = 0,
      refs: Map[String, (Long, String)] = Map.empty,
      schemas: Seq[(Int, Seq[(Int, String, String)])] = Seq.empty,
      nameMapping: Map[Int, String] = Map.empty,
      currentSchemaId: Int = 0): Unit = {
    val target = metadataFile(tablePath, version)
    // the FULL partition-spec history (identity/day/bucket/truncate
    // transforms; partition field-ids from 1000, unique ACROSS specs
    // per the v2 rule) — the metadata-level record that keeps every
    // epoch's per-entry partition structs interpretable after an
    // evolution. `source-name` (only when it differs from the field
    // name) is this writer's extension for schema-free tables — real
    // Iceberg resolves source-id through the schema record, which
    // footer-inferred tables do not carry; external readers ignore
    // unknown keys.
    val specJson =
      if (specs.isEmpty) ""
      else {
        val arr = specs.map { case (id, fields) =>
          require(fields.size < 100,
            s"partition spec $id has ${fields.size} fields (max 99)")
          val fs = fields.zipWithIndex.map { case (f, i) =>
            val srcName =
              if (f.sourceName == f.name) ""
              else s""","source-name":"${jsonEscape(f.sourceName)}""""
            s"""{"name":"${jsonEscape(f.name)}","transform":"${jsonEscape(f.transform)}",""" +
              s""""source-id":${f.sourceId},"field-id":${1000 + id * 100 + i}$srcName}"""
          }.mkString(",")
          s"""{"spec-id":$id,"fields":[$fs]}"""
        }.mkString(",")
        s""","partition-specs":[$arr],"default-spec-id":$defaultSpecId"""
      }
    val refsJson =
      if (refs.isEmpty) ""
      else {
        val arr = refs.toSeq.sortBy(_._1).map { case (n, (sid, t)) =>
          s""""${jsonEscape(n)}":{"snapshot-id":$sid,"type":"${jsonEscape(t)}"}"""
        }.mkString(",")
        s""","refs":{$arr}"""
      }
    // the spec's schema record HISTORY: struct schemas with stable field
    // ids, one entry per epoch — readers resolve parquet columns by
    // ids, and TIME TRAVEL resolves each snapshot's stamped schema-id
    // against this list. Recorded only by tables that need id
    // resolution or have evolved; footer-inferred tables omit it
    val schemaJson =
      if (schemas.isEmpty) ""
      else {
        val arr = schemas.map { case (sid0, fields) =>
          val fs = fields.map { case (id, n, t) =>
            s"""{"id":$id,"name":"${jsonEscape(n)}","required":false,""" +
              s""""type":"${jsonEscape(t)}"}"""
          }.mkString(",")
          s"""{"schema-id":$sid0,"type":"struct","fields":[$fs]}"""
        }.mkString(",")
        s""","schemas":[$arr],"current-schema-id":$currentSchemaId"""
      }
    // the spec's name mapping, as the standard table property — field id
    // → physical column name, for data files carrying NO parquet field
    // ids (name-mode UniForm mirrors)
    val propsJson =
      if (nameMapping.isEmpty) ""
      else {
        val arr = nameMapping.toSeq.sortBy(_._1).map { case (id, n) =>
          s"""{"field-id":$id,"names":["${jsonEscape(n)}"]}"""
        }.mkString("[", ",", "]")
        s""","properties":{"schema.name-mapping.default":"${jsonEscape(arr)}"}"""
      }
    val body =
      s"""{"format-version":2,"table-uuid":"graft-table",
         |"location":"$tablePath","current-snapshot-id":$currentSid$specJson$refsJson$schemaJson$propsJson,
         |"snapshots":[${snapJsons.mkString(",")}]}""".stripMargin
    // optimistic concurrency on the metadata version: stage the FULL
    // body to a tmp file, then claim the version by an atomic link(2) —
    // a concurrent committer of the same version loses loudly (the
    // Hadoop-catalog commit rule). The claim and the complete content
    // become visible in ONE step: a bare CREATE_NEW + write would make
    // the file LISTABLE before its bytes land, and a concurrent
    // committer re-reading state after a lost race could parse a
    // partial/empty metadata file and rebase onto garbage — observed as
    // silent row loss under 4-writer stress before this staging.
    val tmp = new File(metaDir, s".tmp-${java.util.UUID.randomUUID}.json")
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(target.toPath, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp.toPath)
        throw new ConcurrentCommitException(
          s"concurrent Iceberg commit: metadata version $version already " +
            s"exists in $metaDir — retry at the next version")
    } finally Files.deleteIfExists(tmp.toPath)
    Files.writeString(new File(metaDir, "version-hint.text").toPath,
      version.toString)
    ()
  }

  /** Write a manifest + its manifest-list + a metadata.json snapshot chain.
    * `snapshots` maps snapshot-id → entries; the LAST becomes current.
    * Returns the table path.
    */
  def writeFixture(tablePath: String,
      snapshots: Seq[(Long, Seq[FixtureEntry])]): String = {
    val metaDir = new File(tablePath, "metadata")
    metaDir.mkdirs()
    val snapJsons = snapshots.map { case (sid, entries) =>
      snapshotJson(Snapshot(sid, writeSnapshot(metaDir, sid, entries)))
    }
    metadataFile(tablePath, snapshots.size).delete()
    writeMetadataVersion(metaDir, tablePath, snapshots.size.toLong,
      snapshots.last._1, snapJsons)
    tablePath
  }

  /** APPEND `df` as a new Iceberg snapshot: new data files under `data/`,
    * one manifest carrying the prior live files as EXISTING plus the new
    * ones as ADDED, a new manifest list, and the next metadata version
    * (prior snapshots preserved, so the table's own history time-travels).
    * Returns the committed snapshot id. Same durability order as
    * [[DeltaWrite]]: data files first, metadata last, version claimed
    * atomically.
    */
  def append(df: DataFrame, tablePath: String): Long =
    append(df, tablePath, Seq.empty)

  /** APPEND with manifest column bounds: `statsFields` maps Iceberg
    * field-id → column name; each new data file's manifest entry carries
    * that column's [min, max] from the parquet FOOTER just written (no
    * data re-read), serialized per the spec's single-value binary form —
    * the stats [[pruneByLongBounds]] skips on. Columns whose footer stats
    * are untrustworthy are simply omitted (the file is then always
    * scanned).
    */
  def append(df: DataFrame, tablePath: String,
      statsFields: Seq[(Int, String)]): Long = {
    val moved = stageData(df, new File(tablePath))
    require(moved.nonEmpty, s"no data files produced for $tablePath")
    // the new files are ADDED and sequenced at this snapshot, so
    // pre-existing equality deletes (strictly-older rule) never touch them
    val fresh = addedEntries(df.sparkSession,
      moved.map(_ -> Map.empty[String, Any]), statsFields)
    commitAppend(tablePath, fresh, Map.empty, Seq.empty)(_ => false).get
  }

  /** The `table$files` inspection surface: one row per live entry at the
    * current snapshot — content kind, full path, manifest record count,
    * and the recorded partition tuple as a deterministic `k=v` comma-join
    * (null for unpartitioned entries). Metadata-scale: answered from the
    * manifests alone, zero data files opened — at 100 TB this is the
    * table-health query an operator runs hourly, and it must never cost a
    * scan.
    */
  def filesTable(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val (data, dels) = liveSplitEntries(tablePath)
    def contentName(c: Int): String = c match {
      case 0 => "data"
      case 1 => "position_deletes"
      case 2 => "equality_deletes"
      case other => s"unknown_$other"
    }
    def pvString(pv: Map[String, Any]): String =
      if (pv.isEmpty) null
      else pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${Option(v).map(String.valueOf).getOrElse("null")}" }
        .mkString(",")
    val rows = (data ++ dels).map(e =>
      Row(contentName(e.content), e.path, e.recordCount,
        pvString(e.partitionValues)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("content", StringType, nullable = false),
        StructField("file_path", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("partition", StringType))))
  }

  /** The `table$partitions` inspection surface: live DATA files grouped
    * by their recorded partition tuple with file and record counts —
    * the skew/layout overview (which partition is the fat one, which is
    * fragmented into too many small files). Manifest-only, like
    * [[filesTable]].
    */
  def partitionsTable(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, sum}
    filesTable(spark, tablePath)
      .filter(org.apache.spark.sql.functions.col("content") === "data")
      .groupBy("partition")
      .agg(count("*").as("file_count"),
        sum("record_count").as("record_count"))
  }

  /** ADD FILES — adopt existing parquet files into an Iceberg table
    * IN PLACE, zero copy (real Iceberg's `add_files` / `migrate`
    * procedures): one new snapshot whose ADDED manifest entries point at
    * the files exactly where they are — manifests record full paths, so
    * Iceberg needs no directory convention and the adopted files may
    * live anywhere. This is the same 100 TB onboarding path as
    * [[DeltaWrite.convertParquet]]: O(files) metadata, never O(bytes)
    * data. Each entry carries its footer row count, and `statsFields`
    * ((field id, column)) folds footer MIN/MAX into manifest bounds so
    * [[pruneByLongBounds]] skips adopted files immediately. On an
    * existing table the prior live set carries forward as EXISTING
    * entries (the snapshot is a plain `append` — [[appendsBetween]]
    * serves the adopted rows incrementally like any other append).
    * Refuses files already live in the table (double adoption would
    * duplicate rows) and empty directories. Returns the snapshot id.
    */
  def addFiles(tablePath: String, dataDir: String,
      statsFields: Seq[(Int, String)] = Seq.empty): Long = {
    val files = Option(new File(dataDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    require(files.nonEmpty, s"no parquet files to add under $dataDir")
    val fresh = addedEntries(SparkSession.active,
      files.map(_ -> Map.empty[String, Any]), statsFields)
    commitAppend(tablePath, fresh, Map.empty, Seq.empty) { prior =>
      val livePaths = prior.map(e => new File(e.filePath).getAbsolutePath).toSet
      val dup = files.filter(f => livePaths.contains(f.getAbsolutePath))
      require(dup.isEmpty,
        s"file(s) already live in $tablePath — adding again would duplicate " +
          s"rows: ${dup.take(3).map(_.getName).mkString(",")}")
      false
    }.get
  }

  /** PARTITIONED APPEND: write `df` partitioned by the identity
    * transforms of `partitionBy` ((Iceberg source field id, column
    * name)), recording the partition spec in the table metadata and each
    * data file's partition tuple in its manifest entry (the v2 `partition`
    * struct) — the metadata [[prunePartitions]] answers from without
    * opening a single data file. Unlike Hive/Delta layouts, the partition
    * columns STAY in the data files (Iceberg's contract: partitioning is
    * metadata, not path encoding), so readers need no value re-injection
    * and the files remain self-describing. Files land flat under `data/`
    * with uuid names; the manifest, not the directory tree, is the source
    * of truth. `statsFields` adds column bounds exactly as [[append]].
    * Returns the committed snapshot id.
    */
  def appendPartitioned(df: DataFrame, tablePath: String,
      partitionBy: Seq[(Int, String)],
      statsFields: Seq[(Int, String)] = Seq.empty): Long =
    appendPartitionedSpec(df, tablePath,
      partitionBy.map { case (id, n) => SpecField(id, n) }, statsFields)

  /** PARTITIONED APPEND under a full partition spec — HIDDEN
    * PARTITIONING when any field carries a non-identity transform
    * (`day`/`bucket[N]`/`truncate[W]`, Iceberg's signature table-format
    * feature and the canonical 100 TB event-data layout): the staged
    * data files keep ONLY the source columns; each file's manifest
    * entry records the DERIVED tuple (e.g. `ts_day=17486`), and
    * predicates on the SOURCE column prune through the transform
    * ([[prunePartitionsBySourceRange]] for ranges over order-preserving
    * transforms, the merge key lever for equality through any
    * transform) without the table ever materializing a derived column.
    */
  def appendPartitionedSpec(df: DataFrame, tablePath: String,
      spec: Seq[SpecField],
      statsFields: Seq[(Int, String)] = Seq.empty): Long = {
    require(spec.nonEmpty, "appendPartitioned needs partition fields")
    spec.foreach(f => require(Transforms.isKnown(f.transform),
      s"unsupported partition transform: ${f.transform}"))
    val moved = stagePartitioned(df, new File(tablePath), spec)
    require(moved.nonEmpty, s"no data files produced for $tablePath")
    val fresh = addedEntries(df.sparkSession, moved, statsFields)
    commitAppend(tablePath, fresh, Map.empty, spec)(_ => false).get
  }

  /** MANIFEST-LEVEL PARTITION PRUNING: the live data files whose recorded
    * partition tuple matches every (column → value) in `filter` (a null
    * value selects the null partition). Answered from the manifests
    * ALONE — zero data files or footers opened — the first pruning lever
    * at 100 TB, ahead of column-bounds skipping and row-group
    * elimination. Files with NO recorded partition info are always kept
    * (pruning may only shrink the scan, never the answer — same safety
    * rule as [[pruneByLongBounds]]). Refuses tables with live v2 delete
    * files like every delete-blind planning path. Returns (kept, total).
    */
  def prunePartitions(tablePath: String,
      filter: Map[String, Any]): (Seq[LiveEntry], Int) = {
    require(filter.nonEmpty, "empty partition filter")
    val entries = liveEntries(tablePath)
    val kept = entries.filter { e =>
      filter.forall { case (k, v) =>
        e.partitionValues.get(k) match {
          case Some(pv) => pv == v ||
            (pv == null && v == null) // null partition selected explicitly
          case None => true // no partition info recorded: must scan
        }
      }
    }
    (kept, entries.size)
  }

  /** Partition-pruned scan: [[read]] over ONLY the manifest-admitted
    * files, then `filter` as a residual predicate (free for our identity-
    * partitioned files — every row matches — but it makes files kept
    * for safety, e.g. pre-spec unpartitioned ones, row-exact too).
    */
  def readPartition(spark: SparkSession, tablePath: String,
      filter: Map[String, Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = prunePartitions(tablePath, filter)
    val hidden = hiddenFieldNames(tablePath)
    // a HIDDEN (transform-derived) filter key has no table column to
    // re-apply as a residual. Our staged files are tuple-pure (every
    // row of a file maps to its recorded tuple), so the file-level
    // prune IS row-exact — but an entry kept only for MISSING info
    // (older spec / foreign file) cannot be residual-corrected, so it
    // refuses rather than return rows outside the requested bucket.
    filter.keys.filter(hidden).foreach { c =>
      kept.find(!_.partitionValues.contains(c)).foreach(e =>
        throw new IllegalArgumentException(
          s"readPartition on hidden field $c: file ${e.path} records no " +
            "tuple for it — the derived value has no table column, so " +
            "row exactness cannot be restored by a residual filter"))
    }
    filter.filterNot { case (c, _) => hidden(c) }
      .foldLeft(readEntries(spark, tablePath, kept)) {
        case (d, (c, null)) => d.filter(col(c).isNull)
        case (d, (c, v)) => d.filter(col(c) === lit(v))
      }
  }

  /** Normalize a caller-built spec to the parse round-trip's structural
    * form (sourceName0 empty when it equals the name) — spec evolution
    * compares fields by equality, and a caller writing
    * `SpecField(1, "id", "identity", "id")` must not trigger a phantom
    * new spec on every commit.
    */
  private def normalizeSpec(fields: Seq[SpecField]): Seq[SpecField] =
    fields.map(f =>
      if (f.sourceName0 == f.name) f.copy(sourceName0 = "") else f)

  /** The non-identity (derived/hidden) partition field names across the
    * WHOLE spec history — entries written under any old spec may still
    * carry them.
    */
  private def hiddenFieldNames(tablePath: String): Set[String] =
    parseMeta(currentMetadataFile(tablePath)).specs
      .flatMap(_._2).filterNot(_.isIdentity).map(_.name).toSet

  /** HIDDEN-PARTITION RANGE PRUNING — the lever `days(ts)` layouts exist
    * for: prune live data files by a range predicate on a SOURCE column,
    * answered from manifest tuples through every ORDER-PRESERVING
    * transform of that column (identity, day, truncate). Sound because
    * monotonicity gives `v ∈ [lo, hi] ⇒ t(v) ∈ [t(lo), t(hi)]`: a file
    * whose recorded tuple value falls outside the transformed interval
    * can hold no matching row. Files without the tuple (older spec) and
    * null tuples always keep — pruning may only shrink the scan, never
    * the answer; `bucket` fields never participate (not monotonic).
    * Zero data files or footers opened. Returns (kept, totalLive).
    */
  def prunePartitionsBySourceRange(tablePath: String, sourceCol: String,
      lo: Option[Any], hi: Option[Any]): (Seq[LiveEntry], Int) = {
    val meta = parseMeta(currentMetadataFile(tablePath))
    val entries = liveEntries(tablePath)
    val fields = meta.specs.flatMap(_._2).distinct.filter(f =>
      f.sourceName == sourceCol && Transforms.monotonic(f.transform))
    if (fields.isEmpty || (lo.isEmpty && hi.isEmpty))
      return (entries, entries.size)
    def norm(v: Any): Any = v match {
      case i: Int => i.toLong
      case other => other
    }
    // typed tuple comparison only (the same guarantee as
    // pruneEntriesByConjuncts): a cross-class compare keeps the file
    def cmp(a: Any, b: Any): Option[Int] = (norm(a), norm(b)) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: String, y: String) => Some(Integer.signum(x.compareTo(y)))
      case _ => None
    }
    // transformed bounds once per FIELD, not per entry
    val fieldBounds = fields.map(f =>
      (f.name, lo.map(v => Transforms(f.transform, v)),
        hi.map(v => Transforms(f.transform, v))))
    val kept = entries.filter { e =>
      fieldBounds.forall { case (name, tlo, thi) =>
        e.partitionValues.get(name) match {
          case None => true // file predates this spec field: must scan
          case Some(null) => true // null partition: keep (conservative)
          case Some(tv) =>
            val above = tlo.flatMap(t => cmp(tv, t)).exists(_ < 0)
            val below = thi.flatMap(t => cmp(tv, t)).exists(_ > 0)
            !(above || below)
        }
      }
    }
    (kept, entries.size)
  }

  /** Range scan through hidden partitioning: [[read]] over ONLY the
    * transform-admitted files ([[prunePartitionsBySourceRange]]), then
    * re-apply the range as a residual row predicate — the tuples decide
    * FILES, the predicate still decides ROWS (a day-partition file
    * admitted for its day still holds off-range rows at the interval
    * edges).
    */
  def readSourceRange(spark: SparkSession, tablePath: String,
      sourceCol: String, lo: Option[Any], hi: Option[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = prunePartitionsBySourceRange(tablePath, sourceCol, lo, hi)
    val base = readEntries(spark, tablePath, kept)
    val c = col(s"`$sourceCol`")
    val lowered = lo.fold(base)(l => base.filter(c >= lit(l)))
    hi.fold(lowered)(h => lowered.filter(c <= lit(h)))
  }

  /** Stage `df` partitioned by `spec`: write through Spark's hive-style
    * partitioned writer on DERIVED shadow columns (identity duplicates
    * the source column; transforms evaluate it through
    * [[Transforms.columnExpr]] — so the real columns stay in the files
    * and the derived value exists ONLY in the directory path → tuple),
    * then move each leaf file flat into `data/` under a uuid name,
    * decoding its partition tuple from the directory path. Same crash
    * posture as [[stageData]].
    */
  private def stagePartitioned(df: DataFrame, root: File,
      spec: Seq[SpecField]): Seq[(File, Map[String, Any])] = {
    val dataDir = new File(root, "data")
    dataDir.mkdirs()
    val staging = new File(root, s".graft-stage-${java.util.UUID.randomUUID}")
    val shadowed = spec.foldLeft(df)((d, f) =>
      d.withColumn(s"__gp_${f.name}",
        Transforms.columnExpr(f, df.schema(f.sourceName).dataType)))
    shadowed.write.partitionBy(spec.map(f => s"__gp_${f.name}"): _*)
      .parquet(staging.getPath)
    // hive-style %XX escape decoding (the writer escapes every special
    // char as %XX; '+' is a literal plus, never a space)
    def hiveDecode(s: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 3 <= s.length) {
          out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { out.append(s.charAt(i)); i += 1 }
      }
      out.toString
    }
    def typed(name: String, raw: String): Any =
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else {
        val f = spec.find(_.name == name).getOrElse(
          throw new IllegalStateException(s"unexpected partition dir $name"))
        if (Transforms.tupleIsLong(f, df.schema(f.sourceName).dataType))
          raw.toLong
        else raw
      }
    def walk(dir: File, pv: Map[String, Any]): Seq[(File, Map[String, Any])] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName.contains("=") =>
          val Array(k, vraw) = d.getName.split("=", 2)
          val name = k.stripPrefix("__gp_")
          walk(d, pv + (name -> typed(name, hiveDecode(vraw))))
        case f if f.isFile && f.getName.endsWith(".parquet") =>
          val dst = new File(dataDir, s"${java.util.UUID.randomUUID}.parquet")
          Files.move(f.toPath, dst.toPath)
          Seq(dst -> pv)
        case _ => Seq.empty
      }
    val moved = walk(staging, Map.empty)
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      Files.deleteIfExists(f.toPath); ()
    }
    rmTree(staging)
    moved
  }

  /** Stage `df`'s rows as parquet under `data/` (write to a hidden
    * staging dir, move to uuid names): data files exist on disk BEFORE
    * any metadata names them, so a crashed writer leaves garbage, never
    * a torn snapshot.
    */
  private def stageData(df: DataFrame, root: File): Seq[File] = {
    val dataDir = new File(root, "data")
    dataDir.mkdirs()
    val staging = new File(root, s".graft-stage-${java.util.UUID.randomUUID}")
    df.write.parquet(staging.getPath)
    val moved = Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val dst = new File(dataDir, s"${java.util.UUID.randomUUID}.parquet")
        Files.move(f.toPath, dst.toPath)
        dst
      }.toSeq
    Option(staging.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(staging.toPath)
    moved
  }

  /** ADDED manifest entries for files just written, each with its
    * partition tuple, footers read with the session's Hadoop conf.
    */
  private[sources] def addedEntries(spark: SparkSession,
      files: Seq[(File, Map[String, Any])],
      statsFields: Seq[(Int, String)]): Seq[FixtureEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { case (f, pv) =>
      addedEntry(conf, f, statsFields).copy(partitionValues = pv)
    }
  }

  private def addedEntry(conf: Configuration, f: File,
      statsFields: Seq[(Int, String)]): FixtureEntry = {
    // one footer read per file just written (no data re-read): the row
    // count is spec-required in the manifest; bounds only when asked
    val footer = Tables.footer(conf, f.getPath)(
      graft.plans.FooterStats.readOne(_, statsFields.map(_._2)))
    val rows = footer.map(_._1).getOrElse(0L)
    val (lo, hi) = footer
      .map { case (_, per) =>
        val lows = statsFields.zip(per).flatMap { case ((id, _), (mn, _)) =>
          mn.map(v => id -> boundBytes(v))
        }.toMap
        val highs = statsFields.zip(per).flatMap { case ((id, _), (_, mx)) =>
          mx.map(v => id -> boundBytes(v))
        }.toMap
        (lows, highs)
      }.getOrElse((Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]]))
    FixtureEntry(1, f.getPath, rows, lowerBounds = lo, upperBounds = hi)
  }

  /** The append half of the commit protocol: blind appends (new files
    * only) never logically conflict, so each attempt reads the head as
    * its base, carries the live entries there (data AND v2 delete files
    * — dropping a delete entry would resurrect its rows) forward as
    * EXISTING next to `fresh`, and commits at that base. A lost claim
    * re-runs on the winner's state through
    * [[ConcurrentCommitException.retry]] — real Iceberg's commit-retry
    * loop. On an existing table `veto` sees those prior entries first
    * and may refuse (throw) or skip (true → None) the commit: an epoch
    * already committed, an already-live file.
    */
  private def commitAppend(tablePath: String, fresh: Seq[FixtureEntry],
      summary: Map[String, String], partitionSpec: Seq[SpecField])(
      veto: Seq[FixtureEntry] => Boolean): Option[Long] =
    ConcurrentCommitException.retry {
      val base = headVersion(tablePath)
      val prior =
        if (base == 0L) Seq.empty
        else { val (d, x) = liveSplitEntries(tablePath); (d ++ x).map(existingEntry) }
      if (base > 0L && veto(prior)) None
      else Some(commitSnapshot(tablePath, base, prior ++ fresh,
        summary = summary, partitionSpec = partitionSpec))
    }

  /** Publish `entries` as the snapshot after metadata version `base`
    * (prior snapshots preserved, INCLUDING their summaries); returns the
    * new snapshot id. `summary` becomes the new snapshot's key/value
    * properties.
    *
    * THE COMMIT PROTOCOL of every Iceberg op: a commit claims the version
    * after the one it read, or it fails. The writer captures `base` =
    * [[headVersion]] (0 = fresh table) BEFORE it reads the state
    * `entries` derive from; the commit builds on `v<base>` and claims
    * `v<base+1>`. If the table advanced since, the carried EXISTING set
    * is stale and committing it would SILENTLY DROP whatever the
    * intervening commit added — so it throws the retryable
    * [[ConcurrentCommitException]] instead (the version claim alone only
    * guarantees the NUMBER is fresh, not the carried state). Appends
    * rebase through [[commitAppend]]; row-changing ops surface the
    * conflict to their caller.
    */
  private[sources] def commitSnapshot(tablePath: String, base: Long,
      entries: Seq[FixtureEntry],
      summary: Map[String, String] = Map.empty,
      partitionSpec: Seq[SpecField] = Seq.empty,
      operation: String = "append",
      schemaFields: Seq[(Int, String, String)] = Seq.empty,
      nameMapping: Map[Int, String] = Map.empty): Long = {
    val metaDir = new File(tablePath, "metadata")
    if (headVersion(tablePath) != base)
      throw new ConcurrentCommitException(
        s"concurrent Iceberg commit: table advanced past version $base " +
          s"in $tablePath — retry on fresh state")
    metaDir.mkdirs()
    val (priorSnaps, priorSpecs, priorDefault, priorRefs,
        priorSchema, priorMapping, priorCurrent) =
      if (base > 0L) {
        val meta = parseMeta(metadataFile(tablePath, base))
        (meta.snapshots, meta.specs, meta.defaultSpecId, meta.refs,
          (meta.schemas, meta.currentSchemaId), meta.nameMapping,
          Some(meta.currentSnapshotId).filter(_ > 0L))
      } else (Seq.empty[Snapshot],
        Seq.empty[(Int, Seq[SpecField])], 0,
        Map.empty[String, (Long, String)],
        (Seq.empty[(Int, Seq[(Int, String, String)])], 0),
        Map.empty[Int, String],
        None)
    // PARTITION SPEC EVOLUTION: a commit declaring a spec the table has
    // never seen APPENDS it under the next spec-id and makes it the
    // default; re-declaring a known spec just re-selects it; declaring
    // none carries the history and default forward (sticky). Old specs
    // are never dropped — files written under them stay interpretable.
    val normSpec = normalizeSpec(partitionSpec)
    val (specs, defaultId) =
      if (normSpec.isEmpty) (priorSpecs, priorDefault)
      else priorSpecs.find(_._2 == normSpec) match {
        case Some((id, _)) => (priorSpecs, id)
        case None =>
          // a field NAME is the tuple's interpretation key across the
          // whole spec history (pruning and the manifest writer match
          // by it), so re-declaring a name with a DIFFERENT transform
          // or source would make old tuples replay through the new
          // semantics — files holding real matches could prune away.
          // Refuse; evolutions that change a transform rename the field.
          val priorByName = priorSpecs.flatMap(_._2)
            .map(f => f.name -> f).toMap
          normSpec.foreach { f =>
            priorByName.get(f.name).foreach { old =>
              require(old.transform == f.transform &&
                  old.sourceName == f.sourceName &&
                  old.sourceId == f.sourceId,
                s"partition field ${f.name} re-declared as " +
                  s"${f.transform}(${f.sourceName}, source-id " +
                  s"${f.sourceId}) but the spec history records " +
                  s"${old.transform}(${old.sourceName}, source-id " +
                  s"${old.sourceId}) under the same name — tuple " +
                  "interpretation is by field name (and external readers " +
                  "resolve the source by id), so the change must rename " +
                  "the field")
            }
          }
          val nid = (priorSpecs.map(_._1) :+ -1).max + 1
          (priorSpecs :+ (nid -> normSpec), nid)
      }
    val sid = (priorSnaps.map(_.snapshotId) :+ 0L).max + 1
    // SCHEMA EPOCHS: declaring no schema carries the prior history and
    // current id forward (sticky); re-declaring the current epoch's
    // fields re-selects it; declaring NEW fields appends the next
    // schema-id — old epochs are never dropped, and every snapshot
    // stamps the schema-id it was written under so time travel reads
    // each epoch through ITS schema (the spec's snapshot schema-id)
    val (priorSchemas, priorSchemaId) = priorSchema
    val (schemasAll, curSchemaId) =
      if (schemaFields.isEmpty) (priorSchemas, priorSchemaId)
      else priorSchemas.find(_._2 == schemaFields) match {
        case Some((id, _)) => (priorSchemas, id)
        case None =>
          val nid = (priorSchemas.map(_._1) :+ -1).max + 1
          (priorSchemas :+ (nid -> schemaFields), nid)
      }
    // the spec REQUIRES an `operation` in every snapshot summary; it is
    // also what the incremental scan dispatches on (append scanned,
    // replace skipped, delete/overwrite refused)
    // the new snapshot's parent is the snapshot that was CURRENT when
    // this commit formed — after a rollback that is the rolled-to
    // snapshot, not the max id, so lineage diverges from id order there
    val snapJson = snapshotJson(
      Snapshot(sid, writeSnapshot(metaDir, sid, entries, specs),
        summary + ("operation" -> operation), priorCurrent,
        if (schemasAll.isEmpty) None else Some(curSchemaId)))
    val priorJsons = priorSnaps.map(snapshotJson)
    // tags/branches ride along; the `main` branch tracks the head (the
    // spec's rule: main is the current snapshot's branch)
    // name mapping: sticky — declaring none carries the prior forward
    val mapping = if (nameMapping.isEmpty) priorMapping else nameMapping
    writeMetadataVersion(metaDir, tablePath, base + 1, sid,
      priorJsons :+ snapJson, specs, defaultId,
      priorRefs + ("main" -> ((sid, "branch"))), schemasAll, mapping,
      curSchemaId)
    sid
  }

  /** ROLLBACK — move the table's current snapshot back to an existing
    * `snapshotId` (real Iceberg's `rollback_to_snapshot` procedure, the
    * [[DeltaWrite.restoreTo]] analog): ONE new metadata version whose
    * current-snapshot-id is the target and whose `main` branch follows.
    * Metadata-only — no data file read, written, or moved; every
    * snapshot (including the rolled-back-over head) stays in the history
    * and time-travels until [[expireSnapshots]] reclaims it. Refuses
    * unknown ids (expired history cannot be rolled to) and a no-op
    * target (rolling back to the current snapshot is a caller bug, not a
    * commit). Returns the new metadata version.
    */
  def rollbackTo(tablePath: String, snapshotId: Long): Long = {
    val base = headVersion(tablePath)
    val meta = parseMeta(currentMetadataFile(tablePath))
    require(meta.snapshots.exists(_.snapshotId == snapshotId),
      s"unknown snapshot $snapshotId in $tablePath (known: " +
        s"${meta.snapshots.map(_.snapshotId).mkString(",")})")
    require(meta.currentSnapshotId != snapshotId,
      s"snapshot $snapshotId is already current in $tablePath")
    val metaDir = new File(tablePath, "metadata")
    writeMetadataVersion(metaDir, tablePath, base + 1, snapshotId,
      meta.snapshots.map(snapshotJson), meta.specs, meta.defaultSpecId,
      meta.refs + ("main" -> ((snapshotId, "branch"))), meta.schemas,
      meta.nameMapping, meta.currentSchemaId)
    base + 1
  }

  /** EXPIRE SNAPSHOTS + ORPHAN CLEANUP — Iceberg's retention lifecycle
    * (the [[DeltaWrite.vacuum]]/expireLog analog): publish a metadata
    * version listing only the newest `keep` snapshots, then physically
    * delete every data file and manifest/manifest-list no surviving
    * snapshot references. Trades history for space exactly like real
    * Iceberg's `expire_snapshots`: time travel to an expired id fails
    * LOUDLY at resolve time (it is no longer in the metadata), current
    * reads are untouched. A file marked DELETED in the head snapshot
    * but still live in an older SURVIVING snapshot is kept — liveness
    * is the union over survivors. Files referenced by NO snapshot at
    * all (a lost commit race's staging) are reclaimed only once older
    * than `orphanAgeMs` — see the in-body comment. Returns (new
    * metadata version, names of deleted files).
    */
  def expireSnapshots(tablePath: String, keep: Int,
      orphanAgeMs: Long = defaultOrphanAgeMs): (Long, Seq[String]) = {
    require(keep >= 1, "must keep at least the current snapshot")
    val root = new File(tablePath)
    val metaDir = new File(root, "metadata")
    val base = headVersion(tablePath)
    val meta = parseMeta(currentMetadataFile(tablePath))
    // a snapshot NAMED BY A REF survives expiry regardless of age — the
    // spec's retention rule for tags/branches (drop the ref first to
    // reclaim it); `main` tracks the head, which survives anyway
    val refIds = meta.refs.values.map(_._1).toSet
    val survivors = meta.snapshots.sortBy(_.snapshotId)
      .zipWithIndex.collect { case (s, i)
        if i >= meta.snapshots.size - keep || refIds.contains(s.snapshotId) => s
      }
    require(survivors.exists(_.snapshotId == meta.currentSnapshotId),
      s"refusing to expire the current snapshot ${meta.currentSnapshotId}")
    def resolve(p: String): String =
      if (new File(p).isAbsolute) p else new File(tablePath, p).getPath
    // referenced set BEFORE rewriting metadata: data files AND v2 delete
    // files live in any surviving snapshot, plus the survivors'
    // manifest/manifest-list files
    val keepData = survivors.flatMap { s =>
      val (d, x) = liveSplitEntries(tablePath, Some(s.snapshotId))
      d ++ x
    }.map(e => new File(e.path).getName).toSet
    val keepMeta = survivors.flatMap { s =>
      val listFile = new File(resolve(s.manifestList))
      listFile.getName +: readAvro(listFile)
        .map(r => new File(resolve(r.get("manifest_path").toString)).getName)
    }.toSet
    // a new metadata version is published only when a snapshot actually
    // drops; ORPHAN RECLAMATION runs regardless — a lost commit race
    // (per-attempt unique manifest names) or a writer that died between
    // staging and its version claim leaves valid-but-unreferenced
    // manifest/manifest-list avros and data parquets. Two classes, two
    // rules (real Iceberg's expire_snapshots + remove_orphan_files):
    //  - files referenced by a DROPPED snapshot but no survivor were
    //    committed and are now dereferenced → reclaim immediately;
    //  - files referenced by NO snapshot at all are indistinguishable
    //    from an IN-FLIGHT writer's staging (commitWithRetry stages
    //    data parquets and manifest avros BEFORE claiming a metadata
    //    version), so they are reclaimed only past `orphanAgeMs`
    //    (default 3 days, remove_orphan_files' `older_than` default);
    //    pass 0 for immediate reclamation when no writers can be live.
    val allReferenced = meta.snapshots.flatMap { s =>
      val (d, x) = liveSplitEntries(tablePath, Some(s.snapshotId))
      d ++ x
    }.map(e => new File(e.path).getName).toSet
    val allMeta = meta.snapshots.flatMap { s =>
      val listFile = new File(resolve(s.manifestList))
      listFile.getName +: readAvro(listFile)
        .map(r => new File(resolve(r.get("manifest_path").toString)).getName)
    }.toSet
    val orphanCutoff = System.currentTimeMillis() - orphanAgeMs
    def reclaimable(f: File, everReferenced: Boolean): Boolean =
      everReferenced || f.lastModified() <= orphanCutoff
    val version =
      if (survivors.size == meta.snapshots.size) base
      else {
        val survivorJsons = survivors.map(snapshotJson)
        // nameMapping must survive the rewrite: dropping it turns a
        // name-mode UniForm mirror unreadable (readers fall back to the
        // footer-field-id branch against files that carry no field ids)
        writeMetadataVersion(metaDir, tablePath, base + 1,
          meta.currentSnapshotId, survivorJsons, meta.specs,
          meta.defaultSpecId, meta.refs, meta.schemas,
          meta.nameMapping, meta.currentSchemaId)
        base + 1
      }
    val orphanData = Option(new File(root, "data").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !keepData.contains(f.getName) &&
        reclaimable(f, allReferenced.contains(f.getName)))
    val orphanMeta = Option(metaDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".avro") &&
        !keepMeta.contains(f.getName) &&
        reclaimable(f, allMeta.contains(f.getName)))
    val deleted = (orphanData ++ orphanMeta).map { f =>
      Files.delete(f.toPath)
      f.getName
    }.toSeq
    (version, deleted)
  }

  /** Latest committed sink epoch per app id, read from snapshot
    * summaries — the Iceberg analog of Delta's txn identifiers (the
    * Flink Iceberg sink records its max committed checkpoint id in the
    * snapshot summary exactly like this).
    */
  def latestSinkEpochs(tablePath: String): Map[String, Long] =
    parseMeta(currentMetadataFile(tablePath)).snapshots
      .flatMap(s => for {
        app <- s.summary.get("graft.sink.app-id")
        v <- s.summary.get("graft.sink.epoch")
          .flatMap(e => scala.util.Try(e.toLong).toOption)
      } yield app -> v)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }

  /** IDEMPOTENT append for exactly-once sinks: the snapshot summary
    * records (appId, epoch), and a RETRY of an already-committed epoch
    * is a no-op returning None — [[DeltaWrite.appendIdempotent]]'s
    * mirror via the mechanism real Iceberg sinks use. CAVEAT (the real
    * system's constraint too): the record lives in snapshot summaries,
    * so [[expireSnapshots]] retention must keep the sink's most recent
    * snapshot or the retry guard is lost with it.
    */
  def appendIdempotent(df: DataFrame, tablePath: String, appId: String,
      epoch: Long, statsFields: Seq[(Int, String)] = Seq.empty): Option[Long] = {
    def committed: Boolean =
      latestSinkEpochs(tablePath).get(appId).exists(_ >= epoch)
    if (headVersion(tablePath) > 0L && committed) return None
    val moved = stageData(df, new File(tablePath))
    require(moved.nonEmpty, s"no data files produced for $tablePath")
    // same exactly-once discipline as the Delta sink: base first, then
    // the epoch scan (which reads state >= base), then a claim of base+1
    // that fails if ANY commit landed after — so a racing same-epoch
    // worker can never double the batch
    val sid = commitAppend(tablePath, addedEntries(df.sparkSession,
        moved.map(_ -> Map.empty[String, Any]), statsFields),
      Map("graft.sink.app-id" -> appId, "graft.sink.epoch" -> epoch.toString),
      Seq.empty)(_ => committed)
    if (sid.isEmpty) moved.foreach(f => Files.deleteIfExists(f.toPath))
    sid
  }

  /** Live entries keyed by the QUALIFIED URI a scan's
    * `_metadata.file_path` reports — the only safe join key between a
    * match scan's touched-file column and the manifest. Basenames are
    * NOT unique on addFiles-adopted hive layouts (Spark's partitionBy
    * writes the same part-NNNNN-jobUUID name into every directory), so
    * a basename map can spuriously mark an untouched file deleted and
    * rewrite it — rows survive, but the untouched-file-identity
    * invariant the CoW verbs pin is violated and bounds/stats regress.
    * Mirrors [[DeltaLog.byQualifiedPath]].
    */
  private def entriesByQualifiedPath(spark: SparkSession,
      entries: Seq[LiveEntry]): Map[String, LiveEntry] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    entries.map { e =>
      val p = new org.apache.hadoop.fs.Path(e.path)
      p.getFileSystem(hadoopConf).makeQualified(p).toString -> e
    }.toMap
  }

  /** Resolve a match scan's touched-file URIs back to live entry PATHS
    * through [[entriesByQualifiedPath]]; a URI outside the live set is
    * a planner bug and fails loudly.
    */
  private def resolveTouchedPaths(spark: SparkSession,
      entries: Seq[LiveEntry], touched: Seq[String]): Set[String] = {
    val byQual = entriesByQualifiedPath(spark, entries)
    touched.map(u => byQual.getOrElse(DeltaLog.canonicalScanPath(u),
      throw new IllegalStateException(
        s"touched file not in live set: $u")).path).toSet
  }

  /** The table's schema without a read: the recorded `fields` when
    * there are any, else one driver-side footer of `data` — the names
    * and types [[scanData]] answers.
    */
  private[sources] def tableSchema(spark: SparkSession,
      fields: Option[Seq[(Int, String, String)]], data: Seq[LiveEntry])
      : org.apache.spark.sql.types.StructType = fields match {
    case Some(fs) => org.apache.spark.sql.types.StructType(fs.map {
      case (_, n, t) =>
        org.apache.spark.sql.types.StructField(n, icebergToSparkType(t))
    })
    case None => Tables.schema(spark, data.head.path)
  }

  /** The rewriting verbs refuse a PHYSICALLY name-mapped table: it is a
    * UniForm mirror of a column-mapped Delta table, derived read-only
    * state whose files carry physical names — restaging the logical
    * rows the scans answer would corrupt it. Our own evolution records
    * identity mappings (physical == logical), which pass.
    */
  private def requireNotMirror(meta: TableMeta, tablePath: String,
      verb: String): Unit =
    require(meta.nameMapping.isEmpty ||
        meta.schemaFields.forall { case (id, n, _) =>
          meta.nameMapping.get(id).forall(_ == n) },
      s"$verb on a physically name-mapped Iceberg table: $tablePath is " +
        "a derived UniForm mirror — write through the Delta side")

  /** Outcome of a [[deleteWhere]] snapshot. */
  final case class DeleteStats(snapshotId: Long, filesRewritten: Int,
      filesAdded: Int, rowsDeleted: Long)

  /** DELETE WHERE for the Iceberg write path — the v1 copy-on-write
    * shape (no delete files): [[replaceWhere]] with no batch, through
    * the one body [[rewriteWhere]], committed as a `delete` snapshot.
    * File-granular CoW exactly like [[DeltaWrite.deleteWhere]], so a
    * delete against a clustered layout rewrites the overlapping files,
    * not the table. Prior snapshots stay time-travelable (the rows
    * remain visible at older snapshot ids). A fully-deleted file is
    * dropped with no replacement; a predicate matching nothing is a
    * no-op (no empty snapshot). `statsFields` rebuilds manifest bounds
    * for the rewritten files.
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      statsFields: Seq[(Int, String)] = Seq.empty): DeleteStats = {
    val st = rewriteWhere(spark, tablePath, predicate, None, statsFields,
      operation = "delete")
    DeleteStats(st.snapshotId, st.filesRewritten, st.filesAdded,
      st.rowsDeleted)
  }

  /** Outcome of a [[replaceWhere]] snapshot. */
  final case class ReplaceStats(snapshotId: Long, filesRewritten: Int,
      filesAdded: Int, rowsDeleted: Long, rowsInserted: Long)

  /** REPLACE WHERE — [[graft.sources.DeltaWrite.replaceWhere]]'s
    * second-format twin: ONE snapshot deletes every row matching
    * `predicate` and lands `df` as its replacement — the atomic backfill
    * verb, through the body [[rewriteWhere]] shared with [[deleteWhere]].
    * Batch rows outside the range refuse loudly; the snapshot commits as
    * an `overwrite`, so the incremental scan correctly refuses to cross
    * it.
    */
  def replaceWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column, df: DataFrame,
      statsFields: Seq[(Int, String)] = Seq.empty): ReplaceStats =
    rewriteWhere(spark, tablePath, predicate, Some(df), statsFields,
      operation = "overwrite")

  /** The one copy-on-write rewrite behind [[deleteWhere]] (no batch) and
    * [[replaceWhere]]: ONE new snapshot whose manifest marks every file
    * containing a matching row DELETED, re-adds its surviving rows
    * (predicate false-or-null — SQL DELETE semantics) with the batch as
    * new files, and carries every untouched file as EXISTING with its
    * bounds intact. A batch aligns to the table's columns and types and
    * must lie inside the range. Live v2 delete files refuse like every
    * delete-blind path (compact first). Nothing matched and nothing to
    * insert is a no-op: no snapshot.
    */
  private def rewriteWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column, df: Option[DataFrame],
      statsFields: Seq[(Int, String)], operation: String): ReplaceStats = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val root = new File(tablePath)
    val base = headVersion(tablePath)
    val entries = liveEntries(tablePath)
    require(entries.nonEmpty, s"not a live Iceberg table: $tablePath")
    val meta = parseMeta(currentMetadataFile(tablePath))
    requireNotMirror(meta, tablePath,
      if (df.isEmpty) "deleteWhere" else "replaceWhere")
    val fields = meta.recordedFields
    val schema = tableSchema(spark, fields, entries)
    val batch = df.map { d =>
      val cols = schema.fieldNames.toSeq
      require(cols.forall(d.columns.contains) &&
          d.columns.forall(cols.contains),
        s"replaceWhere batch columns ${d.columns.mkString(",")} must " +
          s"match table columns ${cols.mkString(",")}")
      val aligned = d.select(cols.map(c =>
        col(s"`$c`").cast(schema(c).dataType).as(c)): _*)
      // stray check on the CASTED batch — same column types as the
      // match scan and the written rows
      val strays = aligned.filter(!coalesce(predicate, lit(false)))
        .agg(count(lit(1))).head.getLong(0)
      require(strays == 0L,
        s"replaceWhere: $strays batch row(s) do not satisfy the " +
          "predicate — the batch may only replace rows inside the range")
      aligned
    }
    // the predicate's identity-partition conjuncts prune the MATCH SCAN
    // from manifest tuples before any data file opens — "delete last
    // month's partition" opens only that partition's files; a pruned
    // file can contain no matching row. The touched-file URIs then come
    // from ONE distributed pass over the candidates.
    val candidates = pruneEntriesByConjuncts(spark, schema, entries,
      predicate, meta.specFields.filter(_.isIdentity).map(_.name))
    val touched =
      if (candidates.isEmpty) Seq.empty
      else scanData(spark, tablePath, candidates, fields, provenance = true)
        .filter(predicate)
        .select(col("__graft_file")).distinct()
        .collect().map(_.getString(0)).toSeq
    // resolve scan URIs on the FULL qualified path — basenames collide
    // across directories on addFiles-adopted hive layouts
    val touchedPaths = resolveTouchedPaths(spark, entries, touched)
    val rowsInserted = batch.fold(0L)(_.count())
    if (touchedPaths.isEmpty && rowsInserted == 0L)
      return ReplaceStats(meta.currentSnapshotId, 0, 0, 0L, 0L)
    val touchedRows =
      if (touchedPaths.isEmpty) None
      else Some(scanData(spark, tablePath,
        entries.filter(e => touchedPaths(e.path)), fields))
    val rowsDeleted = touchedRows.fold(0L)(_.filter(predicate).count())
    val survivors = touchedRows.map(_.filter(
      !coalesce(predicate, lit(false))))
    val out = (survivors ++ batch).reduce(_.unionByName(_))
    // survivors + batch restage WITH their partition tuples (the
    // merge/compaction discipline): a rewrite must not degrade future
    // manifest pruning, and untouched entries carry their full manifest
    // record forward. A delete may leave no row: the staged footers say
    // so (an empty frame still stages a schema-only file), and then
    // only the tombstones commit
    val staged0: Seq[(File, Map[String, Any])] =
      if (meta.specFields.isEmpty)
        stageData(out, root).map(_ -> Map.empty[String, Any])
      else stagePartitioned(out, root, meta.specFields)
    val staged =
      if (graft.operators.Compaction.footerRowCount(spark,
          staged0.map(_._1.getPath)) > 0L) staged0
      else {
        staged0.foreach(f => Files.deleteIfExists(f._1.toPath))
        Seq.empty
      }
    val nextEntries = entries.map { e =>
      if (touchedPaths(e.path)) existingEntry(e).copy(status = 2)
      else existingEntry(e)
    } ++ addedEntries(spark, staged, statsFields)
    val sid = commitSnapshot(tablePath, base, nextEntries,
      operation = operation)
    ReplaceStats(sid, touchedPaths.size, staged.size, rowsDeleted,
      rowsInserted)
  }

  /** Outcome of a [[merge]] snapshot. */
  final case class MergeStats(snapshotId: Long, filesRewritten: Int,
      filesAdded: Int, rowsUpdated: Long, rowsInserted: Long)

  /** [[DeltaWrite.prunePartitionConjuncts]]'s MANIFEST-side twin:
    * restrict a match scan's candidate files by the predicate's
    * partition conjuncts, evaluated against each entry's TYPED manifest
    * partition tuple. Sound by the same construction: only top-level
    * AND conjuncts referencing nothing but identity partition columns
    * replay (an entry whose tuple falsifies such a conjunct can hold no
    * row satisfying the full predicate); entries missing partition info
    * always keep; ANY analysis failure keeps the full set — pruning
    * only ever shrinks the scan. Spark 4 Columns carry no inspectable
    * tree until analysis, so the predicate analyzes against a zero-row
    * frame of the table schema and the conjuncts replay via their SQL
    * rendering (see the Delta twin's scaladoc).
    */
  private def pruneEntriesByConjuncts(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      entries: Seq[LiveEntry],
      predicate: org.apache.spark.sql.Column,
      partCols: Seq[String]): Seq[LiveEntry] = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    if (partCols.isEmpty || entries.isEmpty) return entries
    val partOnlySql =
      PredicateConjuncts.partitionOnlySql(spark, schema, predicate, partCols)
    if (partOnlySql.isEmpty) return entries
    val (evaluable, keptAlways) = entries.partition(e =>
      partCols.forall(e.partitionValues.contains))
    if (evaluable.isEmpty) return entries
    // TYPED-EVALUATION GUARANTEE (mirrors the Delta twin's): only
    // Long/Int tuples replay as longs and Strings as strings. Any other
    // value class (a foreign writer's date/decimal/boolean encodings)
    // would have to round-trip through toString, and a rendering that
    // still analyzes but diverges from the original typed semantics
    // could silently prune files holding real matches — return the
    // unpruned set instead (pruning is strictly best-effort).
    val replayable = evaluable.forall(e => partCols.forall(c =>
      e.partitionValues(c) match {
        case null | _: Long | _: Int | _: String => true
        case _ => false
      }))
    if (!replayable) return entries
    def sparkType(vs: Seq[Any]) = vs.collectFirst {
      case _: Long => LongType
      case _: Int => LongType
    }.getOrElse(StringType)
    val colTypes = partCols.map(c => c -> sparkType(
      evaluable.flatMap(_.partitionValues.get(c)).filter(_ != null)))
    val rows = evaluable.map(e => Row.fromSeq(
      e.path +: colTypes.map { case (c, t) =>
        e.partitionValues(c) match {
          case null => null
          case v: Long if t == LongType => v
          case v: Int if t == LongType => v.toLong
          case v => v.toString
        }
      }))
    try {
      val pvSchema = StructType(StructField("__graft_path", StringType) +:
        colTypes.map { case (c, t) => StructField(c, t) })
      val local = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), pvSchema)
      val filterCol = partOnlySql.map(expr).reduce(_ && _)
      val keptPaths = local.filter(filterCol)
        .select(col("__graft_path")).collect().map(_.getString(0)).toSet
      keptAlways ++ evaluable.filter(e => keptPaths.contains(e.path))
    } catch { case scala.util.control.NonFatal(_) => entries }
  }

  /** The merge verbs' JOIN-KEY candidate pruning: when a partition
    * field's SOURCE column is a join key, only files whose recorded
    * tuple value appears among the batch's distinct key values MAPPED
    * THROUGH THE TRANSFORM can hold a match — equality survives every
    * transform (`k = v ⇒ t(k) = t(v)`), so identity, `day`, `bucket`
    * and `truncate` fields all prune (the bucket case is the classic
    * upsert layout: `bucket(N, id)` spreads writes, and a batch of M
    * keys touches at most M of N buckets). The values are
    * [[MergeBatch.keyValues]] (capped; over the cap nothing prunes; no
    * non-null value matches no file); tuple values compare TYPED
    * (Long/String) and any cross-class compare keeps the file. Files
    * without the tuple (older spec) keep. Inserts are unaffected — they
    * stage from the batch.
    */
  private def pruneEntriesByBatchKeys(batch: MergeBatch.Batch,
      keys: Seq[String], specFields: Seq[SpecField],
      entries: Seq[LiveEntry]): Seq[LiveEntry] = {
    def norm(v: Any): Any = v match {
      case i: Int => i.toLong
      case other => other
    }
    specFields.filter(f => keys.contains(f.sourceName) &&
        Transforms.isKnown(f.transform)).foldLeft(entries) { (es, f) =>
      if (es.isEmpty) es
      else MergeBatch.keyValues(batch, f.sourceName) match {
        case None => es
        case Some(vals) if vals.isEmpty => Seq.empty
        case Some(vals) =>
          val tvals: Option[Set[Any]] =
            try Some(vals.map(v => norm(Transforms(f.transform, v))).toSet)
            catch { case scala.util.control.NonFatal(_) => None }
          tvals match {
            case None => es // untransformable batch type: keep all
            case Some(tv) => es.filter(e =>
              e.partitionValues.get(f.name) match {
                case None => true // file predates this spec field
                case Some(null) => false // all-null source: no equi-match
                case Some(pv) => norm(pv) match {
                  case p: Long if tv.forall(_.isInstanceOf[Long]) =>
                    tv.contains(p)
                  case p: String if tv.forall(_.isInstanceOf[String]) =>
                    tv.contains(p)
                  case _ => true // cross-class compare: keep
                }
              })
          }
      }
    }
  }

  /** MERGE (upsert) into an Iceberg table — [[DeltaWrite.merge]]'s
    * second-protocol twin (real Iceberg's Spark `MERGE INTO` in
    * copy-on-write mode): source rows whose `keys` match a live row
    * REPLACE it, the rest insert — ONE `overwrite` snapshot, CoW at
    * FILE granularity:
    *
    *  - touched files = live data files containing at least one matched
    *    key, found by a broadcast left-semi join of the (small,
    *    incremental-batch) source keys against the live scan;
    *  - the match scan reads THROUGH live v2 delete files
    *    ([[liveWithMeta]]): a MoR-dead row must insert again, never
    *    resurrect-update. Rewritten survivors land as ADDED entries that
    *    INHERIT the new snapshot's sequence number, so older position/
    *    equality deletes never re-apply to them (the spec's sequence
    *    rule is the correctness lever here); untouched files keep their
    *    physical identity AND their delete applicability;
    *  - a PARTITIONED table restages touched survivors + batch through
    *    the partitioned writer (fresh entries carry their tuples;
    *    updates may move rows between partitions) so
    *    [[prunePartitions]] stays exact after the merge; a join key
    *    that IS a partition column prunes candidate files to the
    *    batch's distinct tuple values (capped, strictly best-effort),
    *    answered from manifest tuples like the condition's conjuncts;
    *  - the snapshot commits at the fail-fast base it read (a
    *    concurrent commit surfaces loudly, never a lost update), as
    *    an `overwrite` the incremental scan refuses to cross.
    *
    * Refuses ambiguous sources (two source rows for one key) like the
    * Delta verb. Source must carry exactly the table's columns (any
    * order) unless `mergeSchema` evolves it. Resolution of touched
    * files is by basename, which [[matchScan]] REQUIRES to be unique
    * across the live set (adopted layouts with colliding basenames
    * refuse loudly there).
    *
    * `matchCondition` is the Delta verb's extra ON predicate on the
    * SECOND protocol (`ON keys AND pred`): a predicate over TARGET
    * columns narrowing the match — a condition-false key match survives
    * as-is (its batch row inserts), and the condition's partition
    * conjuncts prune candidate files from MANIFEST tuples before any
    * data file opens ([[pruneEntriesByConjuncts]]). NULL evaluates as
    * no-match (SQL join semantics).
    */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String],
      statsFields: Seq[(Int, String)] = Seq.empty,
      matchCondition: Option[org.apache.spark.sql.Column] = None,
      mergeSchema: Boolean = false)
      : MergeStats = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val root = new File(tablePath)
    val t = mergeTarget(spark, tablePath)
    val (data, meta, schema) = (t.data, t.meta, t.schema)
    requireNotMirror(meta, tablePath, "merge")
    val cols = schema.fieldNames.toSeq
    // SCHEMA EVOLUTION (`mergeSchema` — [[DeltaWrite.merge]]'s Delta
    // parity on the second protocol): source columns beyond the table
    // widen it in the SAME commit — fresh field ids past the max in the
    // metadata's schema record, an identity name mapping alongside (our
    // parquet carries no footer field ids, so readers resolve the
    // merged schema by NAME and NULL-fill untouched old files through
    // it — no O(table) rewrite for a new column). Source must still
    // cover every existing column; dropping/retyping stays refused.
    val newCols = source.columns.filterNot(cols.contains).toSeq
    require(newCols.isEmpty || mergeSchema,
      s"merge source columns ${newCols.mkString(",")} are not in the " +
        s"table schema ${cols.mkString(",")} — pass mergeSchema=true " +
        "to evolve")
    require(cols.forall(source.columns.contains),
      s"merge source columns ${source.columns.mkString(",")} must " +
        s"cover table columns ${cols.mkString(",")}")
    val allCols = cols ++ newCols
    // the merged schema record + identity mapping this commit publishes
    // (empty = carry the prior forward, commitSnapshot is sticky).
    // PARTITIONED tables evolve too: the FIRST schema record a
    // partitioned table gains must align its field ids with the
    // partition spec history's source ids (external readers resolve a
    // spec's source-id THROUGH the schema record — a misaligned record
    // would re-bind every tuple to the wrong column), so spec source
    // columns take their spec source-id and the rest fill around them.
    // An adopted hive-laid-out table whose data files LACK the
    // partition source columns cannot evolve (the record would declare
    // a column the restaged files cannot serve); a prior record that
    // already disagrees with the spec refuses rather than compounds.
    val evolvedSchema: Seq[(Int, String, String)] =
      if (newCols.isEmpty) Seq.empty
      else {
        val specFieldsAll = meta.specs.flatMap(_._2)
        val prior =
          if (meta.schemaFields.nonEmpty) {
            specFieldsAll.foreach { f =>
              val rec = meta.schemaFields.find(_._2 == f.sourceName)
                .getOrElse(throw new IllegalArgumentException(
                  s"schema record of $tablePath lacks partition spec " +
                    s"source column ${f.sourceName} — refusing to evolve " +
                    "a record the spec cannot resolve through"))
              require(rec._1 == f.sourceId,
                s"schema record id ${rec._1} for column " +
                  s"${f.sourceName} disagrees with partition spec " +
                  s"source-id ${f.sourceId} in $tablePath — refusing " +
                  "to evolve a misaligned record")
            }
            meta.schemaFields
          } else {
            val idByName: Map[String, Int] = {
              val grouped = specFieldsAll.groupBy(_.sourceName)
                .map { case (n, fs) => n -> fs.map(_.sourceId).distinct }
              grouped.foreach { case (n, ids) =>
                require(ids.size == 1,
                  s"partition spec history assigns column $n multiple " +
                    s"source ids ${ids.mkString(",")} in $tablePath") }
              val byId = grouped.map { case (n, ids) => n -> ids.head }
              byId.groupBy(_._2).foreach { case (id, ns) =>
                require(ns.size == 1,
                  s"partition spec history shares source id $id across " +
                    s"columns ${ns.keys.mkString(",")} in $tablePath") }
              byId
            }
            idByName.keys.foreach(n => require(cols.contains(n),
              s"partition source column $n is not in the data files of " +
                s"$tablePath (adopted hive layout?) — cannot evolve: the " +
                "schema record would declare a column the files cannot " +
                "serve"))
            val used = scala.collection.mutable.Set(idByName.values.toSeq: _*)
            var next = 0
            cols.map { c =>
              val id = idByName.getOrElse(c, {
                next += 1
                while (used(next)) next += 1
                used += next
                next
              })
              (id, c, sparkToIcebergType(schema(c).dataType))
            }
          }
        val maxId = prior.map(_._1).max
        prior ++ newCols.zipWithIndex.map { case (c, i) =>
          (maxId + i + 1, c, sparkToIcebergType(source.schema(c).dataType))
        }
      }
    val evolvedMapping: Map[Int, String] =
      if (newCols.isEmpty) Map.empty
      else evolvedSchema.map(f => f._1 -> f._2).toMap
    val batch = MergeBatch(source, schema, keys) match {
      case Some(b) => b
      case None => return MergeStats(meta.currentSnapshotId, 0, 0, 0L, 0L)
    }
    val (src, srcKeys) = (batch.rows, batch.keys)
    val m = matchScan(spark, tablePath, t, batch, keys, matchCondition)
    val st = MergeBatch.stats(m.map(_.rows), "__graft_file", keys)
    val byName = data.map(e => new File(e.path).getName -> e).toMap
    val touched = st.files.sorted.map(n => byName.getOrElse(n,
      throw new IllegalStateException(s"touched file not in live set: $n")))
    val out =
      if (touched.isEmpty) src
      else {
        // live rows of touched files only (deletes still applied)
        val tr = liveWithMeta(spark, tablePath, touched, t.dels,
          meta.recordedFields)
        val condT = m.get.condition
        // condition-false rows survive AS-IS even under a matching key;
        // only condition-true matches are replaced by the batch. ONE
        // pass over the touched files: a left-outer match marker plus
        // the (already NULL-coalesced) condition filter, never a
        // two-branch union that reads each touched parquet twice
        val survivors0 = (condT match {
          case None => tr.join(broadcast(srcKeys), keys, "leftanti")
          case Some(ct) => tr.join(
              broadcast(srcKeys.withColumn("__graft_m", lit(1))),
              keys, "left_outer")
            .filter(col("__graft_m").isNull || !ct).drop("__graft_m")
        }).drop(ProvenanceCols: _*)
        // an evolving merge NULL-fills the new columns on restaged
        // survivors — untouched files stay physically old and read
        // through the merged schema record instead
        val survivors = newCols.foldLeft(survivors0)((d, c) =>
          d.withColumn(c, lit(null).cast(src.schema(c).dataType)))
        // real MERGE updates EVERY matched target row. No duplicates
        // (the common case): the batch itself is updated-rows ∪ inserts
        // — no extra pass over the touched files. A duplicate-key
        // target (two appends of the same key) keeps its multiplicity
        // on the general path: one output row PER TARGET ROW, values
        // joined from the (unique-keyed) source, never a collapse to
        // one row with the rest silently lost.
        val batchLanding =
          if (st.rows == st.keys) src
          else {
            val matched = condT.fold(tr)(tr.filter(_))
              .join(broadcast(srcKeys), keys, "leftsemi")
            val updated = matched.select(keys.map(c => col(s"`$c`")): _*)
              .join(broadcast(src), keys, "inner")
              .select(allCols.map(c => col(s"`$c`")): _*)
            val matchedKeys = matched
              .select(keys.map(c => col(s"`$c`")): _*).distinct()
            updated.unionByName(
              src.join(broadcast(matchedKeys), keys, "leftanti"))
          }
        survivors.unionByName(batchLanding)
      }
    val spec = meta.specFields
    val staged: Seq[(File, Map[String, Any])] =
      if (spec.isEmpty) stageData(out, root).map(_ -> Map.empty[String, Any])
      else stagePartitioned(out, root, spec)
    val touchedSet = touched.map(_.path).toSet
    val nextEntries =
      data.map(e =>
        if (touchedSet(e.path)) existingEntry(e).copy(status = 2)
        else existingEntry(e)) ++
      t.dels.map(existingEntry) ++ // untouched old files still need them
      addedEntries(spark, staged, statsFields)
    val sid = commitSnapshot(tablePath, t.base, nextEntries,
      operation = "overwrite", schemaFields = evolvedSchema, nameMapping = evolvedMapping)
    MergeStats(sid, touched.size, staged.size, st.rows, batch.count - st.keys)
  }

  /** MERGE-ON-READ MERGE — the production shape for frequent small
    * upserts into wide files: matched target rows die via ONE position-
    * delete file ([[deletePositionsWhere]]'s machinery) and the batch
    * appends as fresh data files — the commit writes
    * O(batch + delete metadata), never O(touched files), where the CoW
    * [[merge]] rewrites every touched file (at 100 TB with wide files
    * and point updates, that is the difference between a merge and a
    * rewrite). Untouched AND touched data files keep their physical
    * identity; reads apply the delete at its sequence number; a later
    * [[rewriteDataFiles]] folds the debt back into plain files.
    *
    * The batch check, candidate pruning (batch key values through any
    * partition transform) and match scan are the CoW verb's
    * ([[MergeBatch]], [[matchScan]]); the scan reads THROUGH live v2
    * delete files so MoR-dead rows re-insert, never resurrect. The
    * fresh batch files are ADDED at this snapshot's sequence number and
    * the delete file only NAMES old files, so the new rows are never
    * self-killed. DUPLICATE-KEY targets refuse loudly — kill-and-insert
    * would collapse their multiplicity where the CoW verb preserves it;
    * schema evolution stays a CoW-merge feature. Commits as one
    * `overwrite` snapshot at the base it read ([[commitSnapshot]]).
    */
  def mergeMoR(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String],
      statsFields: Seq[(Int, String)] = Seq.empty): MergeStats = {
    import org.apache.spark.sql.functions.col
    val root = new File(tablePath)
    val t = mergeTarget(spark, tablePath)
    // physically name-mapped mirrors stay refused (the CoW merge's
    // rule); EVOLVED tables (identity-mapped schema record) MoR-merge
    // first-class: the match scan reads through the recorded schema so
    // old files NULL-fill the evolved columns, the positional kills are
    // schema-blind, and the batch appends in the CURRENT shape — old
    // files stay physically old
    requireNotMirror(t.meta, tablePath, "MoR merge")
    val cols = t.schema.fieldNames.toSeq
    require(cols.forall(source.columns.contains) &&
        source.columns.forall(cols.contains),
      s"merge source columns ${source.columns.mkString(",")} must " +
        s"match table columns ${cols.mkString(",")}")
    val batch = MergeBatch(source, t.schema, keys) match {
      case Some(b) => b
      case None => return MergeStats(t.meta.currentSnapshotId, 0, 0, 0L, 0L)
    }
    // matched rows: (file, pos) pairs + their keys, persisted once for
    // the match aggregate and the kill stage — incremental-batch sized
    // (bounded by the match count)
    val matched = matchScan(spark, tablePath, t, batch, keys, None)
      .map(_.rows.select((Seq(col("__graft_file"), col("__graft_pos")) ++
        keys.map(c => col(s"`$c`"))): _*).persist())
    try {
      val st = MergeBatch.stats(matched, "__graft_file", keys)
      require(st.rows == st.keys,
        s"MoR merge matched ${st.rows} target rows over ${st.keys} keys — " +
          "duplicate-key targets would lose multiplicity under " +
          "kill-and-insert; use the CoW merge (it preserves them)")
      // the delete file records FULL paths as the manifests name them
      val staged: Seq[(File, Map[String, Any])] =
        if (t.meta.specFields.isEmpty)
          stageData(batch.rows, root).map(_ -> Map.empty[String, Any])
        else stagePartitioned(batch.rows, root, t.meta.specFields)
      require(staged.nonEmpty, s"no data files produced for $tablePath")
      val delFile: Seq[FixtureEntry] =
        if (st.rows == 0L) Seq.empty
        else stagePositionDelete(spark, root, t.data,
            matched.get.select(col("__graft_file"), col("__graft_pos")))
          .map(x => FixtureEntry(1, x.getPath, st.rows, content = 1))
      val sid = commitSnapshot(tablePath, t.base,
        (t.data ++ t.dels).map(existingEntry) ++
          addedEntries(spark, staged, statsFields) ++ delFile,
        operation = "overwrite")
      MergeStats(sid, 0, staged.size, st.rows, batch.count - st.keys)
    } finally matched.foreach { m => m.unpersist(); () }
  }

  /** What a merge reads of the table before it touches the batch: the
    * snapshot it read (the commit's fail-fast base), the live data and
    * delete entries, the metadata, and the table schema — the recorded
    * one, so an EVOLVED table's scans NULL-fill old files.
    */
  private final case class MergeTarget(base: Long, data: Seq[LiveEntry],
      dels: Seq[LiveEntry], meta: TableMeta,
      schema: org.apache.spark.sql.types.StructType)

  /** Both merge verbs' read of the table. */
  private def mergeTarget(spark: SparkSession,
      tablePath: String): MergeTarget = {
    val base = headVersion(tablePath)
    val (data, dels) = liveSplitEntries(tablePath)
    require(data.nonEmpty, s"not a live Iceberg table: $tablePath")
    val meta = parseMeta(currentMetadataFile(tablePath))
    MergeTarget(base, data, dels, meta,
      tableSchema(spark, meta.recordedFields, data))
  }

  /** The match step both merge verbs share. Touched files and position
    * deletes resolve by basename over the FULL live set, so uniqueness
    * must hold over the full set — checked here, before pruning, since a
    * pruned scan's own check would see only the candidates and a
    * collision with a pruned file would tombstone or kill the wrong one.
    * Candidates prune from MANIFEST tuples before any data file opens:
    * by the match condition's identity-partition conjuncts
    * ([[pruneEntriesByConjuncts]]), then by the batch's key values
    * through any partition transform ([[pruneEntriesByBatchKeys]]). The
    * candidates read THROUGH live v2 delete files ([[liveWithMeta]]: a
    * MoR-dead row is no match, so it re-inserts rather than resurrects)
    * and semi-join against the batch keys under the condition. No
    * candidates, no scan.
    */
  private def matchScan(spark: SparkSession, tablePath: String,
      t: MergeTarget, batch: MergeBatch.Batch, keys: Seq[String],
      matchCondition: Option[org.apache.spark.sql.Column])
      : Option[MergeBatch.Matched] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, lit}
    requireUniqueBasenames(t.data)
    val condPruned = matchCondition.fold(t.data)(c =>
      pruneEntriesByConjuncts(spark, t.schema, t.data, c,
        t.meta.specFields.filter(_.isIdentity).map(_.name)))
    val candidates = pruneEntriesByBatchKeys(batch, keys, t.meta.specFields,
      condPruned)
    if (candidates.isEmpty) None
    else {
      val cond = matchCondition.map(coalesce(_, lit(false)))
      val scan = liveWithMeta(spark, tablePath, candidates, t.dels,
        t.meta.recordedFields)
      Some(MergeBatch.Matched(cond.fold(scan)(scan.filter(_))
        .join(broadcast(batch.keys), keys, "leftsemi"), cond))
    }
  }

  /** Outcome of a [[rewriteDataFiles]] compaction. */
  final case class RewriteStats(snapshotId: Long, filesRewritten: Int,
      deleteFilesRemoved: Int, filesAdded: Int)

  /** COMPACTION (`rewriteDataFiles`) — the MoR recovery path: materialize
    * the delete-applied live rows into fresh data files and commit a
    * snapshot carrying ZERO delete entries (old data files and every
    * delete file tombstoned, prior snapshots still time-travelable with
    * their deletes applied). This is what bounds a long-lived MoR table:
    * each equality-delete file costs one broadcast anti-join on EVERY
    * read (see liveWithMeta), and the delete-blind planning paths
    * ([[pruneByLongBounds]], [[readRange]], CoW [[deleteWhere]]) refuse
    * while any delete file is live — compaction restores all of them.
    * The analog of real Iceberg's `rewrite_data_files` procedure and of
    * [[DeltaWrite.optimize]] (x28).
    *
    * `sortBy` range-partitions + sorts the rewrite into `targetFiles`
    * clustered files (compaction with a sort order — each output file
    * then covers a tight key range, so `statsFields` bounds make
    * [[pruneByLongBounds]] selective again, not just legal again);
    * without it the rewrite bin-packs into `targetFiles` (0 = keep the
    * plan's partitioning). One distributed pass over the table either
    * way. A table with no delete files and no requested re-layout is a
    * no-op (no empty snapshot).
    */
  def rewriteDataFiles(spark: SparkSession, tablePath: String,
      statsFields: Seq[(Int, String)] = Seq.empty,
      sortBy: Seq[String] = Seq.empty,
      targetFiles: Int = 0): RewriteStats = {
    import org.apache.spark.sql.functions.col
    val root = new File(tablePath)
    val base = headVersion(tablePath)
    val (data, dels) = liveSplitEntries(tablePath)
    require(data.nonEmpty, s"not a live Iceberg table: $tablePath")
    val meta = parseMeta(currentMetadataFile(tablePath))
    requireNotMirror(meta, tablePath, "rewriteDataFiles")
    if (dels.isEmpty && sortBy.isEmpty && targetFiles == 0)
      return RewriteStats(meta.currentSnapshotId, 0, 0, 0)
    val live0 = liveWithMeta(spark, tablePath, data, dels,
      meta.recordedFields).drop(ProvenanceCols: _*)
    val live =
      if (sortBy.nonEmpty) {
        val n = if (targetFiles > 0) targetFiles else data.size
        live0.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      } else if (targetFiles > 0) live0.coalesce(targetFiles)
      else live0
    // a partitioned table compacts PER PARTITION: the rewrite re-stages
    // through the partitioned writer so every fresh file keeps a
    // partition tuple and prunePartitions stays exact after compaction
    val spec = meta.specFields
    val staged: Seq[(File, Map[String, Any])] =
      if (spec.isEmpty) stageData(live, root).map(_ -> Map.empty[String, Any])
      else stagePartitioned(live, root, spec)
    // row count from the footers just written (no re-read): an all-rows-
    // deleted table would compact to an unreadable empty snapshot —
    // refuse it (an empty DataFrame still stages a schema-only file)
    val stagedRows = graft.operators.Compaction.footerRowCount(
      spark, staged.map(_._1.getPath))
    if (staged.isEmpty || stagedRows == 0L) {
      staged.foreach(f => Files.deleteIfExists(f._1.toPath))
      throw new IllegalArgumentException(
        "compaction would leave the table empty (every live row is " +
          s"deleted): $tablePath — expire or drop the table instead")
    }
    val tombstones = (data ++ dels).map(e =>
      existingEntry(e).copy(status = 2))
    val sid = commitSnapshot(tablePath, base,
      tombstones ++ addedEntries(spark, staged, statsFields),
      operation = "replace")
    RewriteStats(sid, data.size, dels.size, staged.size)
  }
}
