package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession

/** UniForm — publish a Delta table's CURRENT snapshot as Iceberg metadata
  * over the SAME parquet files (Delta Lake's "Universal Format": one copy
  * of the data, two protocol views of it; the public Delta UniForm feature
  * generates Iceberg metadata asynchronously after each Delta commit —
  * this is that generator as an explicit sync call).
  *
  * Why it matters at 100 TB: a corpus landed as Delta becomes readable by
  * every Iceberg-side consumer (query engines, catalogs, the incremental
  * scan, snapshot tags) for the cost of ONE metadata commit per sync —
  * zero data copied, zero files moved. The Iceberg `metadata/` tree lives
  * inside the Delta table root, so the directory is simultaneously a valid
  * Delta table (source of truth) and a valid Iceberg table (derived view).
  *
  * Sync contract:
  *  - Delta is the source of truth; the Iceberg view is derived and
  *    read-only. A v2 delete file in the mirror metadata means something
  *    wrote through the Iceberg side — the sync refuses rather than
  *    silently reconciling two divergent write histories.
  *  - Each sync commits one Iceberg snapshot stamped with the Delta
  *    version it mirrors (`delta-version` summary key). Re-syncing an
  *    already-mirrored version is a no-op (returns None) — the idempotence
  *    key is the version, exactly like the streaming sinks' epoch.
  *  - Files still live since the last sync carry forward as EXISTING
  *    entries (manifest identity, bounds, and sequence numbers preserved);
  *    new files enter as ADDED with footer row counts, and `statsFields`
  *    ((Iceberg field id, column)) folds footer MIN/MAX into manifest
  *    bounds so [[IcebergLog.pruneByLongBounds]] prunes the mirror.
  *  - The snapshot's `operation` summary is honest: `append` when the
  *    prior live set survived intact, `overwrite` when any file
  *    disappeared (a Delta delete/merge/optimize) — so
  *    [[IcebergLog.appendsBetween]] serves append-only ranges
  *    incrementally and REFUSES ranges crossing a row-changing sync,
  *    never misreporting changes.
  *
  * Translated inputs (metadata-only, zero bytes moved):
  *  - PARTITIONED tables: the log's partitionValues become typed
  *    identity partition structs + an identity spec; the mirror's reads
  *    re-inject the columns from manifests (the Iceberg spec's
  *    identity-transform rule) and prune partitions manifest-only;
  *  - COLUMN-MAPPED tables, both modes: the mirror records an Iceberg
  *    schema whose field ids are the `delta.columnMapping.id`s. ID-mode
  *    files carry those ids in their parquet footers (readers resolve
  *    by id — real UniForm's core contract); NAME-mode files carry
  *    neither logical names nor footer ids, so the mirror additionally
  *    emits the spec's `schema.name-mapping.default` property (field
  *    id → physical column name) and readers resolve through it —
  *    exactly how real UniForm serves name-mapped tables.
  *
  * The two translations COMPOSE (partitioned AND mapped): the partition
  * spec's source-ids are the mapping's field ids, the spec field names
  * stay logical, and the pv lookup keys on the physical column name —
  * the mirror then reads logical names, injects partitions from
  * manifests, and prunes manifest-only.
  *
  * Refused inputs (each would produce an Iceberg view that reads
  * differently from the Delta truth): live deletion vectors (Iceberg
  * readers would resurrect the deleted rows — purge first,
  * [[DeltaWrite.purgeDeletionVectors]]).
  *
  * Real UniForm has the same constraints family (DVs require Iceberg v3;
  * its column-mapping prerequisite is exactly the translation above).
  */
object Uniform {

  /** Outcome of one sync: `snapshotId` is None when the Delta version was
    * already mirrored (no-op).
    */
  final case class SyncStats(snapshotId: Option[Long], deltaVersion: Long,
      filesAdded: Int, filesCarried: Int)

  /** The Delta version the mirror's head snapshot records, if any. */
  def mirroredVersion(tablePath: String): Option[Long] =
    if (IcebergLog.headVersion(tablePath) == 0L) None
    else IcebergLog.snapshots(tablePath).lastOption
      .flatMap(_.summary.get("delta-version")).map(_.toLong)

  /** Sync the Iceberg view to the Delta table's current snapshot. */
  def deltaToIceberg(spark: SparkSession, tablePath: String,
      statsFields: Seq[(Int, String)] = Seq.empty): SyncStats = {
    val deltaVersion = DeltaLog.latestVersion(tablePath)
    if (mirroredVersion(tablePath).contains(deltaVersion))
      return SyncStats(None, deltaVersion, 0, 0)
    // everything below reads AS OF the captured version: a Delta commit
    // landing between the capture and the state read would otherwise
    // stamp the snapshot's delta-version summary with an OLDER version
    // than the live set it mirrors, breaking the version-keyed
    // idempotence/time-travel contract for that snapshot
    val meta = DeltaLog.tableMetaData(spark, tablePath, Some(deltaVersion))
    val mode = DeltaLog.mappingMode(meta)
    val adds = DeltaLog.liveAdds(spark, tablePath, Some(deltaVersion))
    require(adds.nonEmpty, s"Delta table has no live files: $tablePath")
    require(adds.forall(_.dv.isEmpty),
      s"live deletion vectors in $tablePath — an Iceberg reader would " +
        "resurrect the deleted rows; purge first (REORG ... APPLY (PURGE))")
    val logical = DeltaLog.metaSchema(spark, tablePath, Some(deltaVersion))
    // COLUMN-MAPPING translation — real UniForm's core contract, both
    // halves: the Iceberg schema record carries the LOGICAL names typed
    // from the Delta schema with field ids = delta.columnMapping.id. ID
    // mode needs nothing more (the staged parquet footers carry those
    // very ids); NAME mode's files have no footer ids, so the mirror
    // additionally emits the spec's `schema.name-mapping.default`
    // property (field id → physical column name) and readers resolve
    // through it. Stats columns re-key to the PHYSICAL footer names the
    // one-time footer read resolves against.
    val schemaRecord: Seq[(Int, String, String)] =
      if (mode == "none") Seq.empty
      else {
        val st = logical.getOrElse(throw new IllegalArgumentException(
          s"$mode-mode table without a parseable schemaString: $tablePath"))
        st.fields.toSeq.map { f =>
          require(f.metadata.contains(DeltaLog.FieldIdKey),
            s"$mode-mode table $tablePath: field '${f.name}' lacks " +
              DeltaLog.FieldIdKey)
          (f.metadata.getLong(DeltaLog.FieldIdKey).toInt, f.name,
            IcebergLog.sparkToIcebergType(f.dataType))
        }
      }
    val (statsResolved: Seq[(Int, String)], nameMapping: Map[Int, String]) =
      if (mode == "none") (statsFields, Map.empty[Int, String])
      else {
        val st = logical.get
        val phys = DeltaLog.physicalize(st)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val physByLogical = st.fieldNames.zip(phys.fieldNames).toMap
        val mapping =
          if (mode != "name") Map.empty[Int, String]
          else schemaRecord.map { case (id, n, _) =>
            id -> physByLogical.getOrElse(n, n)
          }.toMap
        (statsFields.map { case (fid, c) =>
          (fid, physByLogical.getOrElse(c, c))
        }, mapping)
      }
    // PARTITIONED translation: the log's partitionValues become typed
    // identity partition structs + an identity spec, and the mirror's
    // reads re-inject the columns from manifests (the Iceberg spec's
    // identity-transform rule — zero bytes moved, manifest-only pruning)
    val partCols: Seq[String] = meta.flatMap(_.get("partitionColumns"))
      .collect { case xs: Seq[_] => xs.collect { case s0: String => s0 } }
      .getOrElse(Seq.empty)
    val (spec, typedPv) =
      if (partCols.isEmpty) (Seq.empty[IcebergLog.SpecField],
        (_: DeltaLog.LiveFile) => Map.empty[String, Any])
      else {
        val st = logical.getOrElse(throw new IllegalArgumentException(
          s"partitioned Delta table without a parseable schemaString " +
            s"(partition column types unknown): $tablePath"))
        import org.apache.spark.sql.types.{IntegerType, LongType}
        // COMPOSED with column mapping: the spec's source-ids must be
        // the SAME ids the schema record carries (columnMapping.id for
        // mapped tables, ordinals otherwise), the spec field name stays
        // LOGICAL (the mirror injects and prunes by it), and the log's
        // pv lookup keys on the PHYSICAL name (the protocol's pv keying
        // under mapping)
        val specFields = partCols.map { c =>
          require(st.fieldNames.contains(c),
            s"partition column $c missing from schema: $tablePath")
          val id =
            if (mode == "none") st.fieldNames.indexOf(c) + 1
            else st(c).metadata.getLong(DeltaLog.FieldIdKey).toInt
          IcebergLog.SpecField(id, c)
        }
        val pvKeyOf: Map[String, String] =
          if (mode == "none") partCols.map(c => c -> c).toMap
          else {
            val phys = DeltaLog.physicalize(st)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            st.fieldNames.zip(phys.fieldNames).toMap
          }
        val longTyped = partCols.filter(c =>
          st(c).dataType == LongType || st(c).dataType == IntegerType).toSet
        val f = (a: DeltaLog.LiveFile) => partCols.map { c =>
          val raw = a.partitionValues.getOrElse(pvKeyOf(c), null)
          c -> (raw match {
            case null => null
            case v if longTyped(c) => v.toLong
            case v => v
          })
        }.toMap
        (specFields, f)
      }

    // the commit base (0 = no mirror yet), captured before the state read
    val base = IcebergLog.headVersion(tablePath)
    val hasMeta = base > 0L
    val (priorData, priorDeletes) =
      if (!hasMeta) (Seq.empty[IcebergLog.LiveEntry], Seq.empty[IcebergLog.LiveEntry])
      else IcebergLog.liveSplitEntries(tablePath)
    require(priorDeletes.isEmpty,
      s"Iceberg-side delete files present in $tablePath — the mirror is " +
        "derived, read-only state; a write through the Iceberg view has " +
        "diverged it from the Delta truth")

    val deltaPaths = adds.map(a => new File(a.path).getAbsolutePath).toSet
    // CARRIED entries wrote their partition structs under the spec
    // field names in force at THEIR sync; a partition-column RENAME
    // since then would otherwise leave the mirror with mixed struct
    // keys (old on carried, new on fresh) and break injection. Identity
    // transforms + stable source-ids make the re-key exact: match the
    // prior default spec to the current one by source-id.
    val specRekey: Map[String, String] =
      if (!hasMeta || spec.isEmpty) Map.empty
      else {
        val pm = IcebergLog.parseMeta(IcebergLog.currentMetadataFile(tablePath))
        val prior = pm.specs.find(_._1 == pm.defaultSpecId)
          .map(_._2).getOrElse(Seq.empty)
        val newById = spec.map(f => f.sourceId -> f.name).toMap
        prior.flatMap { f =>
          newById.get(f.sourceId).filter(_ != f.name).map(f.name -> _)
        }.toMap
      }
    def rekeyPv(pv: Map[String, Any]): Map[String, Any] =
      if (specRekey.isEmpty) pv
      else pv.map { case (k, v) => specRekey.getOrElse(k, k) -> v }
    val carried = priorData
      .filter(e => deltaPaths.contains(new File(e.path).getAbsolutePath))
      .map(e => e.copy(partitionValues = rekeyPv(e.partitionValues)))
    val carriedPaths = carried.map(e => new File(e.path).getAbsolutePath).toSet
    val fresh = adds.filterNot(a =>
      carriedPaths.contains(new File(a.path).getAbsolutePath))
    // honest operation summary: rows only ever arrived → append; any
    // prior file gone → the sync may have removed rows → overwrite (the
    // incremental scan refuses to cross it rather than misreport)
    val op =
      if (priorData.size == carried.size) "append" else "overwrite"
    val sid = IcebergLog.commitSnapshot(tablePath, base,
      carried.map(IcebergLog.existingEntry) ++ IcebergLog.addedEntries(spark,
        fresh.map(a => new File(a.path) -> typedPv(a)), statsResolved),
      summary = Map("delta-version" -> deltaVersion.toString),
      operation = op,
      partitionSpec = spec, schemaFields = schemaRecord,
      nameMapping = nameMapping)
    SyncStats(Some(sid), deltaVersion, fresh.size, carried.size)
  }

  /** The transaction id under which Delta-side mirror commits record the
    * mirrored Iceberg snapshot — the sync's idempotence AND divergence
    * ledger.
    */
  private[sources] val IcebergMirrorApp = "uniform-iceberg-mirror"

  /** Outcome of one reverse sync: `version` is None when the Iceberg
    * snapshot was already mirrored (no-op).
    */
  final case class ReverseSyncStats(version: Option[Long], snapshotId: Long,
      filesAdded: Int, filesRemoved: Int)

  /** The mirror direction real Databricks ships as CONVERT-from-Iceberg:
    * publish an Iceberg table's CURRENT snapshot as a Delta log over the
    * SAME parquet files. Iceberg is the source of truth; the Delta view
    * is derived and read-only. Each sync is one Delta commit carrying
    * adds for newly-live files, removes for files the Iceberg side
    * dropped, and a `txn` action recording the mirrored snapshot id —
    * which is both the idempotence key (re-syncing a mirrored snapshot
    * no-ops) and the divergence detector: the next sync recomputes the
    * recorded snapshot's live set and refuses if the Delta view no
    * longer matches it (something wrote through the Delta side). If the
    * recorded snapshot has been expired the check is skipped — the
    * mirror trusts its own last commit (documented, not silent: expiry
    * is an explicit retention action).
    *
    * Add actions carry `{"numRecords":N}` stats straight from the
    * manifest entries' record counts — NO footer re-read — so
    * [[DeltaLog.countFromStats]] answers metadata-only on the mirror.
    * Iceberg keeps partition column data IN the files (self-describing),
    * so a partitioned source mirrors as an unpartitioned Delta scan with
    * the partition columns as plain data columns — correct and
    * scan-friendly. Refuses live v2 delete files (a Delta reader would
    * resurrect the deleted rows — compact first, [[IcebergLog.rewriteDataFiles]]).
    */
  def icebergToDelta(spark: SparkSession, tablePath: String)
      : ReverseSyncStats = {
    val logDir = new File(tablePath, "_delta_log")
    // the Delta base (-1 = no log yet), captured before the sync reads
    // the mirror's log: the commit claims base + 1 or fails
    val base = DeltaLog.headVersion(logDir)
    val meta = IcebergLog.parseMeta(IcebergLog.currentMetadataFile(tablePath))
    val sid = meta.currentSnapshotId
    val mirrored = DeltaLog.latestTxnVersions(tablePath)
      .get(IcebergMirrorApp)
    if (mirrored.contains(sid))
      return ReverseSyncStats(None, sid, 0, 0)
    val (data, dels) = IcebergLog.liveSplitEntries(tablePath)
    require(data.nonEmpty, s"not a live Iceberg table: $tablePath")
    require(dels.isEmpty,
      s"live v2 delete files in $tablePath — a Delta reader would " +
        "resurrect the deleted rows; compact first (rewriteDataFiles / " +
        "OPTIMIZE)")
    val iceLive = data.map(e => new File(e.path).getAbsolutePath).toSet

    val firstSync = mirrored.isEmpty &&
      !logDir.isDirectory
    val deltaLive =
      if (firstSync) Seq.empty
      else DeltaLog.liveAdds(spark, tablePath)
    // divergence ledger: the Delta view must still equal the live set of
    // the LAST MIRRORED snapshot — anything else means a write landed
    // through the derived side
    mirrored.foreach { prevSid =>
      // the recorded snapshot may have been expired, or may carry delete
      // files liveEntries refuses to plan from — in either case the
      // ledger cannot be replayed and the mirror trusts its own last
      // commit instead of refusing
      scala.util.Try(IcebergLog.liveFiles(tablePath, Some(prevSid)))
        .foreach { prev =>
          val prevLive = prev.map(p => new File(p).getAbsolutePath).toSet
          val nowLive =
            deltaLive.map(a => new File(a.path).getAbsolutePath).toSet
          require(nowLive == prevLive,
            s"Delta view of $tablePath diverged from mirrored snapshot " +
              s"$prevSid — the mirror is derived, read-only state; a " +
              "write landed through the Delta side")
        }
    }
    require(mirrored.nonEmpty || deltaLive.isEmpty || !logDir.isDirectory,
      s"$tablePath already has a Delta log that is not a mirror — " +
        "refusing to overwrite an independent table's history")

    val deltaPaths = deltaLive.map(a => new File(a.path).getAbsolutePath).toSet
    val freshEntries = data.filterNot(e =>
      deltaPaths.contains(new File(e.path).getAbsolutePath))
    val dropped = deltaLive.filterNot(a =>
      iceLive.contains(new File(a.path).getAbsolutePath))
    val adds = freshEntries.map { e =>
      val f = new File(e.path)
      val stats =
        if (e.recordCount > 0L)
          s""""stats":"${DeltaWrite.jsonEscape(
            s"""{"numRecords":${e.recordCount}}""")}","""
        else ""
      s"""{"add":{"path":"${DeltaWrite.jsonEscape(f.getAbsolutePath)}",""" +
        s""""partitionValues":{},"size":${f.length},""" +
        s""""modificationTime":${f.lastModified},$stats"dataChange":true}}"""
    }
    val removes = dropped.map(a =>
      s"""{"remove":{"path":"${DeltaWrite.jsonEscape(a.recordedPath)}",""" +
        """"dataChange":true}}""")
    logDir.mkdirs()
    val header =
      if (base >= 0L) Seq.empty
      else DeltaWrite.mirrorHeader(
        IcebergLog.tableSchema(spark, meta.recordedFields, data))
    DeltaWrite.publish(logDir, base + 1,
      header ++ adds ++ removes ++ Seq(
        s"""{"txn":{"appId":"$IcebergMirrorApp","version":$sid}}""",
        s"""{"commitInfo":{"operation":"CONVERT","operationParameters":{""" +
          s""""sourceFormat":"iceberg","snapshotId":"$sid"}}}"""))
    ReverseSyncStats(Some(base + 1), sid, freshEntries.size, dropped.size)
  }
}
