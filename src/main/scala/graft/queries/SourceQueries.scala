package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.exec.ExecutionContext

/** Oracle-checked CSV / NDJSON scan + writer round-trips (reference
  * registers both formats in its db dir walk, `src/db.rs:40-41`, and the
  * CLI writers emit them, `src/cli/mod.rs:779-844`). Each query writes a
  * TPC-H dimension table in the text format with Spark's distributed
  * writer, registers the directory back through the reference's
  * `CREATE EXTERNAL TABLE ... STORED AS fmt` DDL translation, scans it,
  * and the DuckDB oracle reads the very same files with its own
  * read_csv/read_ndjson — so the bytes on disk, not just the DataFrame,
  * are what's verified.
  *
  * Text formats carry no type metadata, so every non-string column is cast
  * explicitly on both sides (CSV reads back as strings; JSON as
  * bigint/double).
  */
object SourceQueries {

  /** Run independent staging actions concurrently (guide-§2.6 shape:
    * Spark happily runs several jobs at once; staged commits serialize
    * only on the cheap version claim, which both protocols' appenders
    * retry with the data files staged exactly once). Only for actions
    * whose DATA is disjoint and whose commit ORDER is irrelevant to the
    * caller's pins — every current caller appends modulo-disjoint
    * slices. Rethrows the first failure.
    */
  private[queries] def concurrently(tasks: (() => Unit)*): Unit = {
    if (tasks.isEmpty) return // newFixedThreadPool(0) would throw
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, tasks.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          tasks.map(t => scala.concurrent.Future(t()))),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
    } catch { case e: Throwable =>
      // On failure, no staged append may outlive this call: the caller
      // unwinds (and a harness retry may rmTree the fixture dir), so
      // in-flight siblings must drain before the rethrow.
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      throw e
    }
    ()
  }

  /** Recursive delete of a staging fixture dir (idempotent per run). */
  private[queries] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  // absolute staging dir: the oracle SQL must name the same files the Spark
  // side wrote, so the resolved path is embedded in the SQL text. Resolved
  // from the working directory (sbt forks run at the project root) with a
  // property/env override, instead of a literal checkout path.
  private[queries] val stage: String =
    sys.props.get("graft.stage.dir")
      .orElse(sys.env.get("GRAFT_STAGE_DIR"))
      .getOrElse(new java.io.File(
        sys.props("user.dir"), "target/xio").getAbsolutePath)

  /** Iceberg fixture: three orders slices as parquet files, a two-snapshot
    * metadata chain (snapshot 1 adds A+C; snapshot 2 keeps A, adds B,
    * DELETES C), shared by x11 (current) and x11b (time travel). Returns
    * the table path; idempotent per run.
    */
  private def buildIcebergFixture(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import graft.sources.IcebergLog
    val tbl = s"$stage/ice_table"
    def writeSlice(tag: String, m: Long): String = {
      val dir = s"$stage/ice_data_$tag"
      Tables.load(s, d, "orders").filter(col("o_orderkey") % 3 === m)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
    }
    val a = writeSlice("a", 0)
    val b = writeSlice("b", 1)
    val c = writeSlice("c", 2)
    IcebergLog.writeFixture(tbl, Seq(
      1L -> Seq(IcebergLog.FixtureEntry(1, a, 0),
        IcebergLog.FixtureEntry(1, c, 0)),
      2L -> Seq(IcebergLog.FixtureEntry(0, a, 0),
        IcebergLog.FixtureEntry(1, b, 0),
        IcebergLog.FixtureEntry(2, c, 0))))
  }

  val queries: Seq[QueryDef] = Seq(

    // Iceberg CURRENT-snapshot scan through the real metadata chain:
    // version-hint → v2.metadata.json → snapshot 2's Avro manifest list →
    // manifest entries (A existing, B added, C DELETED) → live parquet.
    // The oracle reads exactly the live bytes {A, B}; a reader that
    // ignored entry status would also return C and fail the row count.
    QueryDef("x11_iceberg_scan", (s, d) => {
      val tbl = buildIcebergFixture(s, d)
      val ctx = new ExecutionContext(s)
      ctx.runScript(
        s"CREATE EXTERNAL TABLE x11_ice STORED AS ICEBERG LOCATION '$tbl'")
      ctx.sql(
        """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
          |FROM x11_ice ORDER BY o_orderkey""".stripMargin)
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM read_parquet(['$stage/ice_data_a/*.parquet',
                         '$stage/ice_data_b/*.parquet'])
      ORDER BY o_orderkey""")),

    // Iceberg TIME TRAVEL: snapshotAsOf=1 replays snapshot 1's manifest —
    // {A, C}, including the file the current snapshot deleted. The oracle
    // reads those exact bytes, so the snapshot isolation itself is what's
    // hash-checked (x03b's shape, second lakehouse format).
    QueryDef("x11b_iceberg_time_travel", (s, d) => {
      val tbl = buildIcebergFixture(s, d)
      graft.sources.IcebergLog.read(s, tbl, snapshotAsOf = Some(1L))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice").cast("double")
            .as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM read_parquet(['$stage/ice_data_a/*.parquet',
                         '$stage/ice_data_c/*.parquet'])
      ORDER BY o_orderkey""")),

    // Iceberg WRITE path round-trip: two append snapshots (new data files
    // + EXISTING/ADDED manifest + next metadata version, prior history
    // preserved), read back through the full metadata chain. Oracle reads
    // every parquet file under data/ — equal only if manifests published
    // exactly the written files.
    QueryDef("x15_iceberg_write", (s, d) => {
      val tbl = s"$stage/ice_written"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM read_parquet('$stage/ice_written/data/*.parquet')
      ORDER BY o_orderkey""")),

    // Delta WRITE path round-trip: two append commits land orders slices
    // as a real Delta table (data files + versioned JSON commits), read
    // back through the log replay. The oracle reads every parquet file in
    // the table root — equal only if the commits published exactly the
    // written files and the reader replays exactly the commits.
    QueryDef("x14_delta_write", (s, d) => {
      val tbl = s"$stage/delta_written"
      // fresh table per run (appends accumulate otherwise)
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM read_parquet('$stage/delta_written/*.parquet')
      ORDER BY o_orderkey""")),

    // x16: MERGE (upsert) into the Delta write path — the lakehouse
    // operation an incremental pipeline lands batches with. Target is two
    // physical files (even keys, split by %4); the source updates every
    // %4==0 row (+1000 marker) and inserts every %4==1 key, so one file
    // is rewritten copy-on-write and one keeps its physical identity
    // (file-level CoW pinned in SourcesSpec). The oracle recomputes the
    // post-merge table from the base relation: source rows win, unmatched
    // target rows survive.
    QueryDef("x16_delta_merge", (s, d) => {
      val tbl = s"$stage/delta_merged"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 4 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 4 === 2), tbl)
      val src = o.filter(col("o_orderkey") % 4 <= 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey"))
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders WHERE o_orderkey % 4 IN (0, 1))
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey"""), headline = true),

    // x16b: MERGE INTO A PARTITIONED TABLE — the normal shape at 100 TB
    // (real Delta merges partitioned tables natively). Target is
    // partitioned by o_orderstatus; the batch updates every %8==0 row
    // AND MOVES it to a new partition ('X') while inserting every %4==1
    // key — so the merge must rewrite touched files per-tuple (one
    // distributed partitionBy stage, fresh adds carrying their tuples),
    // keep untouched partitions' physical identity (pinned in-query),
    // and land moved rows where log-only pruning finds them (pinned via
    // readPartition on the NEW tuple). The oracle recomputes the
    // post-merge table relationally: batch rows win, unmatched target
    // rows survive.
    QueryDef("x16b_delta_merge_partitioned", (s, d) => {
      val tbl = s"$stage/delta_merged_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      // two disjoint staged appends overlap (see [[concurrently]])
      concurrently(Seq(0L, 2L).map(m => () =>
        { graft.sources.DeltaWrite.appendPartitioned(
            o.filter(col("o_orderkey") % 4 === m), tbl,
            Seq("o_orderstatus")); () }): _*)
      val filesBefore = graft.sources.DeltaLog.liveFiles(s, tbl).toSet
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 8 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val ms = graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"partitioned merge degenerated: $ms")
      require(graft.sources.DeltaLog.liveFiles(s, tbl).toSet
          .intersect(filesBefore).nonEmpty,
        "partitioned merge rewrote every file")
      require(graft.sources.DeltaLog.readPartition(s, tbl,
          Map("o_orderstatus" -> "X")).count() > 0,
        "updated rows did not land in their new partition")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      src AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 8 = 0 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey"""), headline = true),

    // x16c: MERGE OVER LIVE DELETION VECTORS — the MoR-then-upsert
    // stack a streaming lakehouse hits daily: a GDPR MoR delete leaves
    // bitmaps on both files, then an incremental batch merges. The
    // match scan reads THROUGH the bitmaps (a MoR-dead row must INSERT
    // again, never resurrect-update), the touched file's rewrite
    // materializes only live survivors and drops its descriptor, and
    // the UNTOUCHED file keeps bitmap and identity (both pinned
    // in-query). One wrongly-resurrected row breaks the oracle hash.
    QueryDef("x16c_delta_merge_mor", (s, d) => {
      val tbl = s"$stage/delta_merged_mor"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 4 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 4 === 2), tbl)
      val dv = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F")
      require(dv.rowsDeleted > 0, "MoR delete matched nothing")
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"MoR merge degenerated: $ms")
      // the %4==2 file was untouched: it must KEEP its deletion vector
      require(graft.sources.DeltaLog.liveAdds(s, tbl)
          .count(_.dv.nonEmpty) >= 1,
        "untouched file lost its deletion vector across the merge")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders
                   WHERE o_orderkey % 4 IN (0, 2) AND o_orderstatus <> 'F'),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey""")),

    // x16d: MERGE WITH AN EXTRA MATCH CONDITION — real Delta's
    // `ON keys AND pred` / whenMatched(condition) family, the canonical
    // incremental shape at 100 TB ("merge today's batch into the last
    // 7 days' partitions"). The condition (o_orderstatus = 'O') is a
    // NON-KEY partition predicate: its conjuncts prune the candidate
    // files from log metadata alone (pinned by bytes-read in
    // ScaleSpec), a key-matched target row OUTSIDE the condition
    // survives AS-IS next to its freshly-inserted batch twin (the
    // duplicate the oracle recomputes relationally), and no file of an
    // excluded partition is ever rewritten (pinned in-query).
    QueryDef("x16d_delta_merge_conditional", (s, d) => {
      val tbl = s"$stage/delta_merged_cond"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 0), tbl, Seq("o_orderstatus"))
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 2), tbl, Seq("o_orderstatus"))
      val before = graft.sources.DeltaLog.liveAdds(s, tbl)
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey"),
        matchCondition = Some(col("o_orderstatus") === "O"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"conditional merge degenerated: $ms")
      // the condition restricts the match to the 'O' partition: every
      // pre-merge file of every OTHER partition keeps its identity
      // (inserts may ADD files there, but never rewrite one)
      val afterPaths = graft.sources.DeltaLog.liveAdds(s, tbl)
        .map(_.path).toSet
      require(before
          .filterNot(_.partitionValues.get("o_orderstatus").contains("O"))
          .forall(a => afterPaths.contains(a.path)),
        "conditional merge rewrote a file the condition excludes")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"), col("o_totalprice"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt
            WHERE NOT (o_orderstatus = 'O' AND o_orderkey IN
              (SELECT o_orderkey FROM src)))
      ORDER BY o_orderkey, o_totalprice""")),

    // x16e: MERGE-ON-READ MERGE on Delta (deletion-vector write mode) —
    // the Delta twin of x58: matched rows die via DV bitmaps on their
    // files (same path, same bytes, remove+re-add) and the batch
    // appends, so the commit writes O(batch + bitmap bytes) while CoW
    // would rewrite every touched file. In-query requires pin the shape
    // hard: ZERO files rewritten, EVERY pre-merge data file keeps its
    // physical identity, a live DV exists after the merge, the CDF for
    // the merge version carries the SAME pre/post/insert shape as a CoW
    // merge (a downstream CDC consumer can't tell the write modes
    // apart), and a stacked purgeDeletionVectors folds the debt away
    // with the rows pinned unchanged. ScaleSpec pins records-written;
    // the sf1 soak pins bytes-written tracks the batch.
    QueryDef("x16e_delta_merge_dv_write", (s, d) => {
      val tbl = s"$stage/delta_merge_dv"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")), tbl)
      graft.sources.DeltaWrite.enableChangeDataFeed(s, tbl)
      val before = graft.sources.DeltaLog.liveAdds(s, tbl)
        .map(_.path).toSet
      // update every OTHER even (%4==0): unmatched evens interleave in
      // every contiguous key range, so no range file ever dies entirely
      // (a fully-dead file takes a legitimate plain remove, which the
      // physical-identity pin below must not see at tiny scales)
      val src = o.filter((col("o_orderkey") % 4 === 0 &&
            col("o_orderkey") <= 400) ||
          (col("o_orderkey") % 2 === 1 && col("o_orderkey") <= 401))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.DeltaWrite.mergeDv(s, tbl, src,
        Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0 &&
          ms.filesRewritten == 0,
        s"DV merge degenerated: $ms")
      val after = graft.sources.DeltaLog.liveAdds(s, tbl)
      require(before.subsetOf(after.map(_.path).toSet),
        "DV merge rewrote a data file — the whole point is O(batch)")
      require(after.exists(_.dv.isDefined),
        "DV merge published no deletion vector")
      // the feed for the merge version is indistinguishable from a CoW
      // merge's: one preimage per matched row, one postimage, inserts
      val feed = graft.sources.DeltaLog.tableChanges(s, tbl,
        ms.version, Some(ms.version)).groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(feed.get("update_preimage").contains(ms.rowsUpdated) &&
          feed.get("update_postimage").contains(ms.rowsUpdated) &&
          feed.get("insert").contains(ms.rowsInserted),
        s"DV merge CDF shape drifted: $feed vs $ms")
      val nMerged = graft.sources.DeltaLog.read(s, tbl).count()
      // stacked purge folds the DV debt away, rows unchanged
      val ps = graft.sources.DeltaWrite.purgeDeletionVectors(s, tbl)
      require(ps.filesPurged >= 1, s"purge kept the debt: $ps")
      // ONE post-purge snapshot read feeds both the row-count pin and the
      // declared output: the pin still exercises a fresh snapshot read of
      // the purged table — it just isn't replayed once per consumer
      // (guide §1.2 fewer passes; r21 directive 4)
      val post = graft.sources.DeltaLog.read(s, tbl).localCheckpoint(true)
      require(graft.sources.DeltaLog.liveAdds(s, tbl)
            .forall(_.dv.isEmpty) &&
          post.count() == nMerged,
        "purge changed the merged rows")
      post
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 2 = 0),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE (o_orderkey % 4 = 0 AND o_orderkey <= 400)
                 OR (o_orderkey % 2 = 1 AND o_orderkey <= 401))
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey"""), headline = true),

    // p04: PARQUET BLOOM FILTER point lookups — the layout lever for
    // high-cardinality keys where clustering can't help (uniform md5
    // strings: every row group's min/max spans the whole hex domain).
    // The write carries a bloom filter on the key column (footer-pinned
    // by the in-query require); present- and absent-key probes both
    // hash-check against DuckDB reading the same staged bytes. The
    // row-group elimination itself (absent probe decodes ~nothing vs a
    // no-bloom twin) is pinned by recordsRead in SourcesSpec.
    QueryDef("p04_bloom_lookup", (s, d) => {
      val dir = s"$stage/bloom_orders"
      val o = Tables.load(s, d, "orders")
        .select(md5(col("o_orderkey").cast("string")).as("k"),
          col("o_totalprice"))
      graft.operators.Compaction.writeWithBloom(o, dir, Seq("k"))
      val files = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      require(files.nonEmpty &&
        files.forall(f => graft.operators.Compaction.hasBloomFilter(
          f.getPath, "k")),
        s"bloom filter missing from written footers in $dir")
      val t = Tables.read(s, dir)
      val present = t.filter(col("k") === md5(lit("42")))
        .agg(count(lit(1)).as("n_present"))
      val absent = t.filter(col("k") === md5(lit("absent")))
        .agg(count(lit(1)).as("n_absent"))
      present.crossJoin(absent)
    }, Some(s"""
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM read_parquet('$stage/bloom_orders/*.parquet')
         WHERE k = md5('42')) AS n_present,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM read_parquet('$stage/bloom_orders/*.parquet')
         WHERE k = md5('absent')) AS n_absent""")),

    // x18: Delta DELETE WHERE — the DML that completes append/overwrite/
    // merge: copy-on-write at file granularity (the %8 predicate touches
    // only the even-keys file; the odd file keeps its physical identity —
    // SourcesSpec pins that). The oracle recomputes the post-delete table
    // relationally.
    QueryDef("x18_delta_delete", (s, d) => {
      val tbl = s"$stage/delta_deleted"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 8 === 0)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 8 <> 0
      ORDER BY o_orderkey""")),

    // x18b: DELETE ON A PARTITIONED + ID-MAPPED TABLE ACROSS A RENAME —
    // the GDPR shape on the 100 TB norm: partitioned layout, column
    // mapping for cheap renames, copy-on-write erasure. The predicate's
    // partition conjunct (o_orderstatus = 'F') is answered from LOG
    // METADATA before any data file opens (prunePartitionConjuncts), so
    // only 'F' files are even match-scanned; survivors restage id-
    // stamped in their hive tuples. Pinned in-query: non-matching
    // partitions keep physical identity; the oracle recomputes the
    // post-delete table under the renamed column.
    QueryDef("x18b_delta_delete_partitioned", (s, d) => {
      val tbl = s"$stage/delta_deleted_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(o, tbl,
        partitionCols = Seq("o_orderstatus"))
      graft.sources.DeltaWrite.renameColumn(s, tbl,
        "o_totalprice", "o_price")
      val filesBefore = graft.sources.DeltaLog.liveFiles(s, tbl).toSet
      val ds = graft.sources.DeltaWrite.deleteWhere(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0)
      require(ds.rowsDeleted > 0, "partitioned mapped delete matched nothing")
      require(graft.sources.DeltaLog.liveFiles(s, tbl).toSet
          .intersect(filesBefore).nonEmpty,
        "partition-conjunct delete rewrote every file")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_price").cast("double").as("o_price"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_price
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
      ORDER BY o_orderkey""")),

    // x19: Delta VACUUM — the space-reclaim pass closing the table
    // lifecycle (append → merge → delete leave tombstoned files; vacuum
    // physically drops them). The in-query requires pin that vacuum
    // removed at least one tombstone and that the live snapshot's bytes
    // were untouched; the oracle re-derives the final table — identical
    // to reading it before the vacuum, which is the whole point.
    QueryDef("x19_delta_vacuum", (s, d) => {
      val tbl = s"$stage/delta_vacuumed"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 8 === 0)
      val removed = graft.sources.DeltaWrite.vacuum(s, tbl, olderThanMs = 0L)
      require(removed.nonEmpty, "vacuum reclaimed no tombstoned files")
      val onDisk = Option(new java.io.File(tbl).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val live = graft.sources.DeltaLog.liveFiles(s, tbl)
      require(onDisk == live.size,
        s"vacuum left $onDisk data files on disk for ${live.size} live")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 8 <> 0
      ORDER BY o_orderkey""")),

    // x17: Delta DATA SKIPPING — add actions carry per-file min/max stats
    // (computed from the just-written parquet FOOTERS, no data re-read);
    // a range scan folds the log, opens only the files whose stats admit
    // the range, and still applies the filter. Target is written range-
    // partitioned by key (8 narrow files), so the two-thousand-key probe
    // must prune most of them — the in-query require pins that the scan
    // set actually shrank, the oracle pins that skipping never changed
    // the answer.
    QueryDef("x17_delta_skip", (s, d) => {
      val tbl = s"$stage/delta_skip"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
      graft.sources.DeltaWrite.append(o, tbl)
      val (kept, total) = graft.sources.DeltaLog.pruneByStats(s, tbl,
        "o_orderkey", Some(2000L.toDouble), Some(3999L.toDouble))
      require(kept.size < total,
        s"data skipping pruned nothing: ${kept.size} of $total files kept")
      graft.sources.DeltaLog.readRange(s, tbl, "o_orderkey",
          Some(2000L), Some(3999L))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 2000 AND 3999
      ORDER BY o_orderkey""")),

    // x22: ICEBERG DATA SKIPPING — the manifest-level pruning real
    // Iceberg scan planning does before any parquet footer is opened:
    // append records each data file's [min, max] for o_orderkey (field
    // id 1) in the manifest's lower_bounds/upper_bounds (single-value
    // binary serialization, from the just-written footers), and a range
    // probe folds ONLY the manifest — kilobytes on the driver — to drop
    // the files that cannot match. Written range-partitioned (8 narrow
    // files) so the two-thousand-key probe must prune most of them; the
    // in-query require pins the shrink, the oracle pins that skipping
    // never changed the answer. Completes the skipping story in BOTH
    // lakehouse formats (x17 = Delta).
    QueryDef("x22_iceberg_skip", (s, d) => {
      val tbl = s"$stage/ice_skip"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
      graft.sources.IcebergLog.append(o, tbl, Seq(1 -> "o_orderkey"))
      val (kept, total) = graft.sources.IcebergLog.pruneByLongBounds(
        tbl, 1, Some(2000L), Some(3999L))
      require(kept.size < total,
        s"manifest skipping pruned nothing: ${kept.size} of $total files kept")
      graft.sources.IcebergLog.readRange(s, tbl, "o_orderkey", 1,
          Some(2000L), Some(3999L))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 2000 AND 3999
      ORDER BY o_orderkey""")),

    // x23: ICEBERG DELETE WHERE — the v1 copy-on-write DML completing
    // the second format's write story (x18's shape): one snapshot marks
    // the files containing matches DELETED, re-adds their survivors,
    // carries untouched files as EXISTING with bounds intact. The %8
    // predicate touches only the even-keys file, so the odd file keeps
    // its physical identity (pinned in SourcesSpec); the oracle
    // recomputes the post-delete table relationally.
    QueryDef("x23_iceberg_delete", (s, d) => {
      val tbl = s"$stage/ice_deleted"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 0), tbl, Seq(1 -> "o_orderkey"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 1), tbl, Seq(1 -> "o_orderkey"))
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderkey") % 8 === 0, Seq(1 -> "o_orderkey"))
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 8 <> 0
      ORDER BY o_orderkey""")),

    // x25: Delta PARTITIONED WRITE — add actions carry partitionValues,
    // data files land under hive-style dirs WITHOUT the partition
    // column (Delta keeps it in the log; the reader re-injects it from
    // the broadcast file→pv map). The oracle recomputes the full table
    // relationally, so the log-side pv round-trip itself is what's
    // hash-checked.
    QueryDef("x25_delta_part_write", (s, d) => {
      val tbl = s"$stage/delta_partitioned"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(o, tbl, Seq("o_orderstatus"))
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderstatus IS NOT NULL
      ORDER BY o_orderkey""")),

    // x26: Delta LOG-LEVEL PARTITION PRUNING — a partition predicate is
    // answered from add-action partitionValues alone (zero data files
    // opened to prune; the in-query require pins that the file list
    // actually shrank), then ONLY the matching partition's files are
    // scanned with the pv re-injected as a literal. At 100 TB this is
    // the first pruning lever, ahead of stats skipping and row-group
    // elimination.
    QueryDef("x26_delta_part_prune", (s, d) => {
      val tbl = s"$stage/delta_part_pruned"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(o, tbl, Seq("o_orderstatus"))
      val (kept, total) = graft.sources.DeltaLog.livePartitionAdds(s, tbl,
        Map("o_orderstatus" -> "O"))
      require(kept.nonEmpty && kept.size < total,
        s"partition pruning pruned nothing: ${kept.size} of $total files kept")
      graft.sources.DeltaLog.readPartition(s, tbl, Map("o_orderstatus" -> "O"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_orderkey""")),

    // p05: METADATA-ONLY COUNT over a Delta table — the log-fold analog
    // of the p02 footer-count rule: every add action records numRecords
    // (from the parquet footers at write time), so an unfiltered
    // COUNT(*) folds the log on the driver and opens ZERO data files.
    // Refuses (falls back to a scan) if any live add lacks stats — the
    // in-query require pins that the fold actually answered.
    QueryDef("p05_delta_count", (s, d) => {
      val tbl = s"$stage/delta_counted"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      val n = graft.sources.DeltaLog.countFromStats(s, tbl).getOrElse(
        sys.error("log fold refused: a live add lacks numRecords stats"))
      import s.implicits._
      Seq(n).toDF("n")
    }, Some("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders")),

    // x27: Delta TRANSACTION IDENTIFIERS (exactly-once sink commits) —
    // each append carries {"txn":{appId,version}}, and a RETRIED epoch
    // is a no-op instead of a double append: the epoch id, not the
    // data, is the idempotence key (how a real Delta streaming sink
    // survives foreachBatch retries). The retry here carries DIFFERENT
    // data than the original epoch-1 commit — if the no-op check
    // failed, the oracle would see those rows and the hash would break.
    QueryDef("x27_delta_txn", (s, d) => {
      val tbl = s"$stage/delta_txn"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val evens = o.filter(col("o_orderkey") % 2 === 0)
      val odds = o.filter(col("o_orderkey") % 2 === 1)
      val v1 = graft.sources.DeltaWrite.appendIdempotent(evens, tbl, "sinkA", 1L)
      require(v1.isDefined, "first epoch-1 commit must land")
      // the RETRY of epoch 1 (crashed before acking, re-runs with what
      // would be duplicate work) must be skipped
      val retry = graft.sources.DeltaWrite.appendIdempotent(odds, tbl, "sinkA", 1L)
      require(retry.isEmpty, "retried epoch was double-committed")
      val v2 = graft.sources.DeltaWrite.appendIdempotent(odds, tbl, "sinkA", 2L)
      require(v2.isDefined, "epoch-2 commit must land")
      // a DIFFERENT sink's epoch counter is independent
      require(graft.sources.DeltaLog.latestTxnVersions(tbl) == Map("sinkA" -> 2L))
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x27b: EXACTLY-ONCE SINK INTO A PARTITIONED TABLE — the streaming
    // norm (a date-partitioned events table fed by micro-batches): each
    // epoch's rows land in hive tuples via the shared partitioned
    // staging, the txn action still keys idempotence, and a crashed
    // worker's RETRY of a committed epoch is a no-op whose staged files
    // never become visible. The oracle recomputes the two landed
    // epochs; a double-committed retry or a tuple-misfiled row breaks
    // the hash.
    QueryDef("x27b_delta_txn_partitioned", (s, d) => {
      val tbl = s"$stage/delta_txn_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val evens = o.filter(col("o_orderkey") % 2 === 0)
      val odds = o.filter(col("o_orderkey") % 2 === 1)
      val v1 = graft.sources.DeltaWrite.appendIdempotent(
        evens, tbl, "sinkP", 1L, partitionCols = Seq("o_orderstatus"))
      require(v1.isDefined, "first epoch-1 commit must land")
      val retry = graft.sources.DeltaWrite.appendIdempotent(
        odds, tbl, "sinkP", 1L, partitionCols = Seq("o_orderstatus"))
      require(retry.isEmpty, "retried epoch was double-committed")
      val v2 = graft.sources.DeltaWrite.appendIdempotent(
        odds, tbl, "sinkP", 2L, partitionCols = Seq("o_orderstatus"))
      require(v2.isDefined, "epoch-2 commit must land")
      // tuples prune from the log alone, exactly like appendPartitioned
      require(graft.sources.DeltaLog.livePartitionAdds(s, tbl,
          Map("o_orderstatus" -> "F"))._1.nonEmpty,
        "partitioned sink recorded no pv tuples")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x53: REPLACE WHERE — the atomic backfill verb (real Delta's
    // selective overwrite): ONE commit deletes every row of the 'F'
    // partition and lands its recomputed replacement (a SHRUNK slice —
    // %3==0 keys only, prices +500), with no window where readers see
    // neither. The match scan prunes to the 'F' files from log metadata
    // (untouched partitions keep physical identity — pinned via the 'O'
    // partition's file set), and a batch row OUTSIDE the predicate
    // refuses loudly (it would smuggle rows into untouched ranges).
    // The oracle recomputes the post-backfill table relationally.
    QueryDef("x53_replace_where", (s, d) => {
      val tbl = s"$stage/delta_replaced"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(o, tbl,
        Seq("o_orderstatus"))
      val oBefore = graft.sources.DeltaLog.livePartitionAdds(s, tbl,
        Map("o_orderstatus" -> "O"))._1.map(_.path).toSet
      // a stray row outside the range refuses
      val refused =
        try {
          graft.sources.DeltaWrite.replaceWhere(s, tbl,
            col("o_orderstatus") === "F",
            o.filter(col("o_orderstatus") === "O").limit(1))
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "replaceWhere accepted a row outside the range")
      val batch = o.filter(col("o_orderstatus") === "F" &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      val st = graft.sources.DeltaWrite.replaceWhere(s, tbl,
        col("o_orderstatus") === "F", batch)
      require(st.rowsDeleted > st.rowsInserted && st.rowsInserted > 0,
        s"backfill did not shrink the partition: $st")
      val oAfter = graft.sources.DeltaLog.livePartitionAdds(s, tbl,
        Map("o_orderstatus" -> "O"))._1.map(_.path).toSet
      require(oBefore.subsetOf(oAfter),
        "replaceWhere touched a partition outside the predicate")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderstatus <> 'F'
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 500.0 AS DOUBLE)
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
      ) ORDER BY o_orderkey""")),

    // x53b: REPLACE WHERE, second format — the same atomic backfill on
    // an ICEBERG table: one `overwrite` snapshot deletes the range and
    // lands its recomputed (shrunk) replacement; untouched data files
    // keep physical identity (pinned in-query), the incremental scan
    // refuses to cross the overwrite (real Iceberg's rule), and prior
    // snapshots still time-travel. Same oracle shape as x53.
    QueryDef("x53b_replace_where_iceberg", (s, d) => {
      val tbl = s"$stage/ice_replaced"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderstatus") =!= "F"), tbl)
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderstatus") === "F"), tbl)
      val before = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      val batch = o.filter(col("o_orderstatus") === "F" &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      val st = graft.sources.IcebergLog.replaceWhere(s, tbl,
        col("o_orderstatus") === "F", batch)
      require(st.rowsDeleted > st.rowsInserted && st.rowsInserted > 0,
        s"backfill did not shrink the range: $st")
      require(graft.sources.IcebergLog.liveEntries(tbl).map(_.path).toSet
          .intersect(before).nonEmpty,
        "iceberg replaceWhere rewrote the untouched file")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderstatus <> 'F'
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 500.0 AS DOUBLE)
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
      ) ORDER BY o_orderkey""")),

    // x54: MERGE on the SECOND protocol, stacked over a live MoR
    // position-delete file — the upsert verb real Iceberg serves via
    // Spark MERGE INTO. The match scan reads THROUGH the delete file
    // (a MoR-dead row re-INSERTS with the batch value, never
    // resurrect-updates), rewritten survivors inherit the new
    // snapshot's sequence number so the old delete never re-applies to
    // them, the delete file stays LIVE for the untouched file (pinned
    // in-query), and the whole thing is ONE overwrite snapshot under
    // the CAS claim. Same relational oracle as the Delta MoR merge
    // (x16c): batch rows win, live unmatched target rows survive.
    QueryDef("x54_iceberg_merge", (s, d) => {
      val tbl = s"$stage/ice_merged"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 0), tbl)
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 2), tbl)
      val dv = graft.sources.IcebergLog.deletePositionsWhere(s, tbl,
        col("o_orderstatus") === "F")
      require(dv.rowsDeleted > 0, "MoR delete matched nothing")
      val before = graft.sources.IcebergLog.liveSplitEntries(tbl)._1
        .map(_.path).toSet
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.IcebergLog.merge(s, tbl, src, Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"iceberg MoR merge degenerated: $ms")
      val (dataAfter, delsAfter) = graft.sources.IcebergLog.liveSplitEntries(tbl)
      // the untouched file keeps its identity AND its delete file
      require(dataAfter.map(_.path).toSet.intersect(before).nonEmpty,
        "iceberg merge rewrote every file")
      require(delsAfter.nonEmpty,
        "iceberg merge dropped the live position-delete file")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders
                   WHERE o_orderkey % 4 IN (0, 2) AND o_orderstatus <> 'F'),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey""")),

    // x54b: MERGE INTO A PARTITIONED ICEBERG TABLE — the x16b shape on
    // the second protocol: the batch updates every %8==0 row AND MOVES
    // it to a new partition ('X') while inserting every %4==1 key. The
    // rewrite restages per partition tuple (fresh manifest entries
    // carry their tuples, so manifest-level pruning stays exact —
    // pinned via readPartition on the NEW tuple), and untouched
    // partitions' files keep physical identity (pinned in-query).
    QueryDef("x54b_iceberg_merge_partitioned", (s, d) => {
      val tbl = s"$stage/ice_merged_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      // two disjoint staged appends overlap (see [[concurrently]])
      concurrently(Seq(0L, 2L).map(m => () =>
        { graft.sources.IcebergLog.appendPartitioned(
            o.filter(col("o_orderkey") % 4 === m), tbl,
            partitionBy = Seq(2 -> "o_orderstatus")); () }): _*)
      val before = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 8 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val ms = graft.sources.IcebergLog.merge(s, tbl, src, Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"partitioned iceberg merge degenerated: $ms")
      require(graft.sources.IcebergLog.liveEntries(tbl).map(_.path).toSet
          .intersect(before).nonEmpty,
        "partitioned iceberg merge rewrote every file")
      // moved rows land where MANIFEST pruning finds them
      require(graft.sources.IcebergLog.readPartition(s, tbl,
          Map("o_orderstatus" -> "X")).count() > 0,
        "updated rows did not land in their new partition")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      src AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 8 = 0 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey"""), headline = true),

    // x54c: CONDITIONAL MERGE ON THE SECOND PROTOCOL — x16d's `ON keys
    // AND pred` shape for Iceberg: the condition (o_orderstatus = 'O')
    // restricts the match, its partition conjunct prunes candidate
    // files from MANIFEST TUPLES alone (no data file of an excluded
    // partition ever opens — identity pinned in-query), a key-matched
    // target row outside the condition survives AS-IS next to its
    // freshly-inserted batch twin, and the whole upsert is one
    // overwrite snapshot.
    QueryDef("x54c_iceberg_merge_conditional", (s, d) => {
      val tbl = s"$stage/ice_merged_cond"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 0), tbl,
        partitionBy = Seq(2 -> "o_orderstatus"))
      graft.sources.IcebergLog.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 2), tbl,
        partitionBy = Seq(2 -> "o_orderstatus"))
      val before = graft.sources.IcebergLog.liveEntries(tbl)
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 4 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.IcebergLog.merge(s, tbl, src, Seq("o_orderkey"),
        matchCondition = Some(col("o_orderstatus") === "O"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0,
        s"conditional iceberg merge degenerated: $ms")
      // manifest-conjunct pruning: every pre-merge file of every
      // partition the condition excludes keeps its physical identity
      val afterPaths = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      require(before
          .filterNot(_.partitionValues.get("o_orderstatus").contains("O"))
          .forall(e => afterPaths.contains(e.path)),
        "conditional iceberg merge rewrote a file the condition excludes")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"), col("o_totalprice"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 4 IN (0, 2)),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt
            WHERE NOT (o_orderstatus = 'O' AND o_orderkey IN
              (SELECT o_orderkey FROM src)))
      ORDER BY o_orderkey, o_totalprice""")),

    // x55: ICEBERG CHANGELOG — the row-level CDC read the second
    // protocol lacked (Delta's x38 counterpart; real Iceberg's
    // create_changelog_view): append + append + CoW deleteWhere +
    // replaceWhere, then changesBetween(0) replays the whole history as
    // insert/delete records. The CoW verbs rewrite whole files, so the
    // manifest diff must CANCEL re-staged survivor rows — the oracle
    // pins that only the NET changes surface (delete of the 'F' rows at
    // snapshot 3; delete-old + insert-new for the %8 keys at snapshot
    // 4), and the in-query fold invariant pins
    // inserts − deletes = final table, multiset-exactly.
    QueryDef("x55_iceberg_changelog", (s, d) => {
      val tbl = s"$stage/ice_changelog"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 0), tbl) // snap 1
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 2), tbl) // snap 2
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderstatus") === "F")                                             // snap 3
      val batch = o.filter(col("o_orderkey") % 8 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      graft.sources.IcebergLog.replaceWhere(s, tbl,
        col("o_orderkey") % 8 === 0, batch)                                       // snap 4
      val ch = graft.sources.IcebergLog.changesBetween(s, tbl, 0L)
      // fold invariant: inserts − deletes = the final live read, exactly
      val folded = ch.groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(org.apache.spark.sql.functions.sum(
          when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
        .filter(col("n") =!= 0)
      require(folded.filter(col("n") =!= 1).isEmpty,
        "changelog fold produced a row multiplicity != 1")
      val live = graft.sources.IcebergLog.read(s, tbl)
      require(folded.drop("n").exceptAll(live).isEmpty &&
          live.exceptAll(folded.drop("n")).isEmpty,
        "changelog fold does not reproduce the live table")
      ch.select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type").as("change_type"),
          col("_snapshot_id").cast("long").as("snapshot_id"))
        .orderBy(col("snapshot_id"), col("change_type"), col("o_orderkey"))
    }, Some("""
      WITH s1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderkey % 4 = 0),
      s2 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey % 4 = 2)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        change_type, CAST(snapshot_id AS BIGINT) AS snapshot_id
      FROM (
        SELECT *, 'insert' AS change_type, 1 AS snapshot_id FROM s1
        UNION ALL
        SELECT *, 'insert', 2 FROM s2
        UNION ALL
        SELECT *, 'delete', 3 FROM
          (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
          WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete', 4
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        WHERE o_orderstatus <> 'F' AND o_orderkey % 8 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0, 'insert', 4
        FROM orders WHERE o_orderkey % 8 = 0
      )
      ORDER BY snapshot_id, change_type, o_orderkey""")),

    // x55b: CHANGELOG OVER A MERGE-ON-READ DELETE — the position-delete
    // snapshot emits exactly its kills as delete records (the affected
    // file set is what the delete file NAMES — O(touched bytes), the
    // table is never scanned), and a later append's rows are inserts
    // the older delete can never address (sequence-number rule). The
    // fold invariant is pinned in-query like x55.
    QueryDef("x55b_iceberg_changelog_mor", (s, d) => {
      val tbl = s"$stage/ice_changelog_mor"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 0), tbl) // snap 1
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 2), tbl) // snap 2
      val dv = graft.sources.IcebergLog.deletePositionsWhere(s, tbl,
        col("o_orderstatus") === "F")                                             // snap 3 (MoR)
      require(dv.rowsDeleted > 0, "MoR delete matched nothing")
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 === 1), tbl) // snap 4
      val ch = graft.sources.IcebergLog.changesBetween(s, tbl, 0L)
      val folded = ch.groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(org.apache.spark.sql.functions.sum(
          when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
        .filter(col("n") =!= 0)
      val live = graft.sources.IcebergLog.read(s, tbl)
      require(folded.drop("n").exceptAll(live).isEmpty &&
          live.exceptAll(folded.drop("n")).isEmpty,
        "MoR changelog fold does not reproduce the live table")
      ch.select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type").as("change_type"),
          col("_snapshot_id").cast("long").as("snapshot_id"))
        .orderBy(col("snapshot_id"), col("change_type"), col("o_orderkey"))
    }, Some("""
      WITH s1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderkey % 4 = 0),
      s2 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey % 4 = 2),
      s4 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey % 4 = 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        change_type, CAST(snapshot_id AS BIGINT) AS snapshot_id
      FROM (
        SELECT *, 'insert' AS change_type, 1 AS snapshot_id FROM s1
        UNION ALL
        SELECT *, 'insert', 2 FROM s2
        UNION ALL
        SELECT *, 'delete', 3 FROM
          (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
          WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT *, 'insert', 4 FROM s4
      )
      ORDER BY snapshot_id, change_type, o_orderkey""")),

    // x56: HIDDEN PARTITIONING VIA days(ts) — Iceberg's signature
    // table-format feature and the canonical 100 TB event-data layout:
    // the spec records `day(ts) AS ts_day`, the data files keep ONLY
    // the source columns (no materialized date column, ever), each
    // manifest entry carries its day ordinal, and a `ts BETWEEN`
    // predicate prunes FILES through the tuples (in-query require: the
    // kept set shrinks) before the residual predicate decides rows.
    // ScaleSpec pins records-read ("a day-range scan opens only that
    // range's files"); the oracle is the plain relational filter.
    QueryDef("x56_iceberg_days_transform", (s, d) => {
      val tbl = s"$stage/ice_days"
      rmTree(tbl)
      val e = Tables.load(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .repartitionByRange(4, col("ts"))
      graft.sources.IcebergLog.appendPartitionedSpec(e, tbl,
        Seq(graft.sources.IcebergLog.SpecField(2, "ts_day", "day", "ts")))
      // the spec round-trips with its transform + source column, and
      // the read exposes no derived column
      val (specs, _) = graft.sources.IcebergLog.partitionSpecsFull(tbl)
      require(specs.head._2 ==
          Seq(graft.sources.IcebergLog.SpecField(2, "ts_day", "day", "ts")),
        s"day spec not recorded: $specs")
      require(!graft.sources.IcebergLog.read(s, tbl)
        .columns.contains("ts_day"), "derived day column leaked into reads")
      val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-14 23:59:59")
      val (kept, total) = graft.sources.IcebergLog
        .prunePartitionsBySourceRange(tbl, "ts", Some(lo), Some(hi))
      require(kept.nonEmpty && kept.size < total,
        s"day tuples pruned nothing: ${kept.size} of $total files kept")
      graft.sources.IcebergLog.readSourceRange(s, tbl, "ts",
          Some(lo), Some(hi))
        .select(col("event_id").cast("long").as("event_id"),
          col("ts"),
          col("user_id").cast("long").as("user_id"),
          col("value").cast("double").as("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT CAST(event_id AS BIGINT) AS event_id, ts,
        CAST(user_id AS BIGINT) AS user_id, CAST(value AS DOUBLE) AS value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <= TIMESTAMP '2024-01-14 23:59:59'
      ORDER BY event_id"""), headline = true),

    // x56b: BUCKET TRANSFORM — `bucket(8, o_orderkey)` is the classic
    // upsert layout (even write spread with no natural partition key):
    // the merge batch's keys map through the spec's murmur3 bucket
    // contract (Appendix B, seed 0 — vectors pinned in PropertySpec) to
    // prune candidate files from the manifests, and the restage keeps
    // every fresh file's bucket tuple. In-query requires pin the spec
    // round-trip and that files outside the batch's buckets keep
    // physical identity; ScaleSpec pins records-read.
    QueryDef("x56b_iceberg_bucket_transform", (s, d) => {
      val tbl = s"$stage/ice_bucket"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitionedSpec(o.repartition(4), tbl,
        Seq(graft.sources.IcebergLog.SpecField(1, "okey_bucket",
          "bucket[8]", "o_orderkey")))
      val (specs, _) = graft.sources.IcebergLog.partitionSpecsFull(tbl)
      require(specs.head._2 ==
          Seq(graft.sources.IcebergLog.SpecField(1, "okey_bucket",
            "bucket[8]", "o_orderkey")),
        s"bucket spec not recorded: $specs")
      val before = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      // a FIXED key set (13 keys at every SF — the generator's orderkeys
      // are dense from 0): one-ish key per bucket touches a file or two
      // per bucket, so untouched files demonstrably survive at sf0.001
      // through sf1
      val src = o.filter(col("o_orderkey") <= 12)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.IcebergLog.merge(s, tbl, src, Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted == 0L,
        s"bucket merge degenerated: $ms")
      require(graft.sources.IcebergLog.liveEntries(tbl).map(_.path).toSet
          .intersect(before).nonEmpty,
        "bucket merge rewrote every file — key pruning dead")
      require(graft.sources.IcebergLog.liveEntries(tbl)
          .forall(_.partitionValues.keySet == Set("okey_bucket")),
        "a restaged file lost its bucket tuple")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice + CASE WHEN o_orderkey <= 12
          THEN 1000.0 ELSE 0 END AS DOUBLE) AS o_totalprice
      FROM orders
      ORDER BY o_orderkey""")),

    // x57: ICEBERG MERGE SCHEMA EVOLUTION — x34's parity on the second
    // protocol: the evolving merge publishes a widened schema record
    // (fresh field ids past the max) plus an identity name mapping in
    // the SAME snapshot; touched files rewrite in the merged schema and
    // UNTOUCHED files stay physically old — readers NULL-fill them
    // through the record, so evolving a 100 TB table costs one metadata
    // file plus the touched files, never an O(table) rewrite. The
    // range-clustered layout + a low-key update set guarantee untouched
    // files exist, and the in-query require pins their physical
    // survival; the oracle recomputes the evolved table NULLs included.
    QueryDef("x57_iceberg_merge_evolve", (s, d) => {
      val tbl = s"$stage/ice_evolved"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")), tbl)
      val before = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      // updates confined to the low key range (touch one clustered
      // file); the odd keys insert everywhere; o_band is NEW
      val src = o.filter((col("o_orderkey") % 2 === 0 &&
            col("o_orderkey") <= 200) || col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("o_band", (col("o_orderkey") % 10).cast("long"))
      val st = graft.sources.IcebergLog.merge(s, tbl, src,
        Seq("o_orderkey"), mergeSchema = true)
      require(st.rowsUpdated > 0 && st.rowsInserted > 0,
        s"evolving iceberg merge degenerated: $st")
      require(graft.sources.IcebergLog.liveEntries(tbl).map(_.path).toSet
          .intersect(before).nonEmpty,
        "evolution rewrote every file — NULL-fill through the schema " +
          "record is untested")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_band").cast("long").as("o_band"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(CASE WHEN (o_orderkey % 2 = 0 AND o_orderkey <= 200)
                    OR o_orderkey % 2 = 1
             THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE)
          AS o_totalprice,
        CASE WHEN (o_orderkey % 2 = 0 AND o_orderkey <= 200)
               OR o_orderkey % 2 = 1
             THEN CAST(o_orderkey % 10 AS BIGINT) ELSE NULL END AS o_band
      FROM orders ORDER BY o_orderkey""")),

    // x57b: PARTITIONED ICEBERG MERGE SCHEMA EVOLUTION — the r20 edge
    // closed: a bucket-partitioned table evolves through merge. The
    // FIRST schema record a partitioned table gains aligns its field
    // ids with the spec's source ids (external readers resolve
    // source-id THROUGH the record), the touched partitions' files
    // rewrite with their tuples intact, untouched files survive
    // physically and NULL-fill through the record, and a SECOND
    // (non-evolving) merge on the evolved table still prunes candidates
    // through the bucket transform and lands its batch per partition.
    QueryDef("x57b_iceberg_merge_evolve_partitioned", (s, d) => {
      val tbl = s"$stage/ice_evolved_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitionedSpec(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(2, col("o_orderkey")), tbl,
        Seq(graft.sources.IcebergLog.SpecField(1, "okey_bucket",
          "bucket[4]", "o_orderkey")))
      val before = graft.sources.IcebergLog.liveEntries(tbl)
        .map(_.path).toSet
      val src = o.filter((col("o_orderkey") % 2 === 0 &&
            col("o_orderkey") <= 200) || col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("o_band", (col("o_orderkey") % 10).cast("long"))
      val st = graft.sources.IcebergLog.merge(s, tbl, src,
        Seq("o_orderkey"), mergeSchema = true)
      require(st.rowsUpdated > 0 && st.rowsInserted > 0,
        s"partitioned evolving merge degenerated: $st")
      val entries = graft.sources.IcebergLog.liveEntries(tbl)
      require(entries.map(_.path).toSet.intersect(before).nonEmpty,
        "evolution rewrote every file — NULL-fill through the schema " +
          "record is untested")
      require(entries.forall(
          _.partitionValues.keySet == Set("okey_bucket")),
        "a restaged file lost its bucket tuple under evolution")
      // the evolved table still merges: candidate files prune through
      // the bucket transform, the batch restages with tuples
      val src2 = o.filter(col("o_orderkey").isin(2L, 4L))
        .withColumn("o_totalprice", col("o_totalprice") + 1001)
        .withColumn("o_band", lit(-1L))
      val st2 = graft.sources.IcebergLog.merge(s, tbl, src2,
        Seq("o_orderkey"))
      require(st2.rowsUpdated == 2L && st2.rowsInserted == 0L,
        s"post-evolution merge degenerated: $st2")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_band").cast("long").as("o_band"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(CASE WHEN o_orderkey IN (2, 4)
                  THEN o_totalprice + 1001.0
                  WHEN (o_orderkey % 2 = 0 AND o_orderkey <= 200)
                    OR o_orderkey % 2 = 1
                  THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE)
          AS o_totalprice,
        CASE WHEN o_orderkey IN (2, 4) THEN CAST(-1 AS BIGINT)
             WHEN (o_orderkey % 2 = 0 AND o_orderkey <= 200)
               OR o_orderkey % 2 = 1
             THEN CAST(o_orderkey % 10 AS BIGINT) ELSE NULL END AS o_band
      FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 2 = 1
      ORDER BY o_orderkey""")),

    // x58: MERGE-ON-READ MERGE — the production upsert shape for wide
    // files: matched rows die via ONE position-delete file and the
    // batch appends, so the commit writes O(batch + delete metadata)
    // while CoW would rewrite every touched file. In-query requires pin
    // the shape hard: ZERO files rewritten, EVERY pre-merge data file
    // keeps its physical identity, a live v2 delete file exists after
    // the merge — and a stacked rewriteDataFiles folds the debt away
    // with the rows pinned unchanged. ScaleSpec pins records-written;
    // the sf1 soak pins bytes-written tracks the batch.
    QueryDef("x58_iceberg_merge_mor_write", (s, d) => {
      val tbl = s"$stage/ice_merge_mor"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")), tbl)
      val before = graft.sources.IcebergLog.liveSplitEntries(tbl)
        ._1.map(_.path).toSet
      val src = o.filter((col("o_orderkey") % 2 === 0 &&
            col("o_orderkey") <= 400) ||
          (col("o_orderkey") % 2 === 1 && col("o_orderkey") <= 401))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val ms = graft.sources.IcebergLog.mergeMoR(s, tbl, src,
        Seq("o_orderkey"))
      require(ms.rowsUpdated > 0 && ms.rowsInserted > 0 &&
          ms.filesRewritten == 0,
        s"MoR merge degenerated: $ms")
      val (dataNow, delsNow) = graft.sources.IcebergLog.liveSplitEntries(tbl)
      require(before.subsetOf(dataNow.map(_.path).toSet),
        "MoR merge rewrote a data file — the whole point is O(batch)")
      require(delsNow.exists(_.content == 1),
        "MoR merge published no position-delete file")
      val nMerged = graft.sources.IcebergLog.read(s, tbl).count()
      // stacked compaction folds the delete debt away, rows unchanged
      val rs = graft.sources.IcebergLog.rewriteDataFiles(s, tbl,
        sortBy = Seq("o_orderkey"), targetFiles = 4)
      require(rs.deleteFilesRemoved >= 1, s"compaction kept the debt: $rs")
      // ONE post-compaction snapshot read feeds both the row-count pin
      // and the declared output: the pin still exercises a fresh snapshot
      // read of the compacted table — it just isn't replayed once per
      // consumer (guide §1.2 fewer passes; r21 directive 4)
      val post = graft.sources.IcebergLog.read(s, tbl).localCheckpoint(true)
      require(graft.sources.IcebergLog.liveSplitEntries(tbl)._2.isEmpty &&
          post.count() == nMerged,
        "compaction changed the merged rows")
      post
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 2 = 0),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_totalprice
              FROM orders
              WHERE (o_orderkey % 2 = 0 AND o_orderkey <= 400)
                 OR (o_orderkey % 2 = 1 AND o_orderkey <= 401))
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM (SELECT * FROM src
            UNION ALL
            SELECT * FROM tgt WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey"""), headline = true),

    // x28: Delta OPTIMIZE (bin-packing compaction) — the maintenance
    // pass behind a streaming sink: eight per-epoch small commits leave
    // eight small files; one dataChange:false commit rewrites them into
    // a single compacted file (rows untouched — the oracle pins that),
    // with footer stats re-derived so data skipping survives
    // compaction. In-query requires pin the live-set shrink, the
    // dataChange:false marking, and pre-optimize time travel.
    QueryDef("x28_delta_optimize", (s, d) => {
      val tbl = s"$stage/delta_optimized"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      // eight per-epoch commits, staged CONCURRENTLY (see [[concurrently]]
      // — the stage writes are independent one-task jobs; only the cheap
      // version-dependent header re-evaluates on a lost claim race).
      // Epoch data is disjoint (%8), so commit ORDER is irrelevant to
      // every pin below and to the final rows.
      concurrently((0 to 7).map(m => () =>
        { graft.sources.DeltaWrite.append(
            o.filter(col("o_orderkey") % 8 === m).coalesce(1), tbl); () }): _*)
      val before = graft.sources.DeltaLog.liveFiles(s, tbl)
      require(before.size >= 8, s"expected 8 small files, got ${before.size}")
      val st = graft.sources.DeltaWrite.optimize(s, tbl,
        smallFileBytes = 1L << 30, targetFiles = 1)
      require(st.filesCompacted >= 8 && st.filesAdded == 1,
        s"optimize did not pack: $st")
      require(graft.sources.DeltaLog.liveFiles(s, tbl).size == 1,
        "live set did not shrink to the compacted file")
      // the compaction commit must be dataChange:false throughout
      val commitText = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tbl, f"_delta_log/${st.version}%020d.json").toPath))
      require(!commitText.contains("\"dataChange\":true"),
        "optimize marked actions as data changes")
      // pre-optimize snapshot still time-travels (tombstones intact)
      require(graft.sources.DeltaLog.read(s, tbl, Some(st.version - 1))
        .count() > 0, "pre-optimize history lost")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey"""), headline = true),

    // x28b: OPTIMIZE AS THE MoR PURGE POINT — real OPTIMIZE's behavior:
    // a file carrying a deletion vector rewrites (live rows
    // materialized, bitmap applied) whatever its size, and its fresh
    // add drops the descriptor — so routine compaction retires MoR
    // debt without a separate purge pass. Pinned in-query: descriptors
    // gone, file count bin-packed, the commit dataChange:false
    // throughout (rows unchanged — which is exactly what the oracle
    // hash proves: MoR deletes applied once, not zero or two times).
    QueryDef("x28b_optimize_mor", (s, d) => {
      val tbl = s"$stage/delta_optimize_mor"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 0).repartition(4), tbl)
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 2).repartition(4), tbl)
      val st = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F")
      require(st.rowsDeleted > 0, "MoR delete matched nothing")
      require(graft.sources.DeltaLog.liveAdds(s, tbl).exists(_.dv.nonEmpty),
        "no live deletion vector to optimize away")
      val before = graft.sources.DeltaLog.liveFiles(s, tbl).size
      val os = graft.sources.DeltaWrite.optimize(s, tbl,
        smallFileBytes = 1L << 30, targetFiles = 2)
      require(graft.sources.DeltaLog.liveAdds(s, tbl).forall(_.dv.isEmpty),
        "optimize left a live deletion vector")
      require(graft.sources.DeltaLog.liveFiles(s, tbl).size < before,
        "optimize did not bin-pack the live set")
      val commitText = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tbl, f"_delta_log/${os.version}%020d.json").toPath))
      require(!commitText.contains("\"dataChange\":true"),
        "optimize marked actions as data changes")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderkey % 4 IN (0, 2) AND o_orderstatus <> 'F'
      ORDER BY o_orderkey""")),

    // x29: ICEBERG SINK IDEMPOTENCE via snapshot summaries — the second
    // format's exactly-once mechanism (x27's mirror, the way real
    // Iceberg sinks record their committed checkpoint id): a retried
    // epoch carrying DIFFERENT data must be a no-op, or the oracle sees
    // its rows and the hash breaks. Summaries survive ordinary appends
    // (they are re-rendered into every new metadata version).
    QueryDef("x29_iceberg_txn", (s, d) => {
      val tbl = s"$stage/ice_txn"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val evens = o.filter(col("o_orderkey") % 2 === 0)
      val odds = o.filter(col("o_orderkey") % 2 === 1)
      require(graft.sources.IcebergLog.appendIdempotent(
        evens, tbl, "sinkA", 1L).isDefined, "epoch-1 commit must land")
      require(graft.sources.IcebergLog.appendIdempotent(
        odds, tbl, "sinkA", 1L).isEmpty, "retried epoch was double-committed")
      require(graft.sources.IcebergLog.appendIdempotent(
        odds, tbl, "sinkA", 2L).isDefined, "epoch-2 commit must land")
      require(graft.sources.IcebergLog.latestSinkEpochs(tbl) == Map("sinkA" -> 2L))
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x30: ICEBERG V2 MERGE-ON-READ DELETES — the interop gap real
    // Iceberg writers (Flink/Spark under write.delete.mode=merge-on-read)
    // produce: a POSITION delete file ((file, pos) rows, anti-joined on
    // row identity for files at-or-before its sequence number) and an
    // EQUALITY delete file (key rows, anti-joined null-safely for files
    // STRICTLY older). Batch A lands, a position delete kills %8==0, an
    // equality delete kills status 'F' BY KEY with no scan or rewrite,
    // then batch B lands AFTER both — its rows (including new 'F' rows)
    // must survive per the sequence rules, and A's data files must keep
    // their physical identity (no rewrite — the whole point of MoR).
    // The oracle recomputes the surviving set relationally.
    QueryDef("x30_iceberg_v2_deletes", (s, d) => {
      val tbl = s"$stage/ice_v2_mor"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 <= 1), tbl)
      val filesBefore = graft.sources.IcebergLog.liveFiles(tbl).toSet
      val st = graft.sources.IcebergLog.deletePositionsWhere(s, tbl,
        col("o_orderkey") % 8 === 0)
      require(st.rowsDeleted > 0, "position delete matched nothing")
      locally { import s.implicits._
        graft.sources.IcebergLog.deleteEqualityKeys(tbl,
          Seq("F").toDF("o_orderstatus"), equalityFieldIds = Seq(2))
      }
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 4 >= 2), tbl)
      val (dataNow, delsNow) = graft.sources.IcebergLog.liveSplitEntries(tbl)
      require(delsNow.map(_.content).sorted == Seq(1, 2),
        s"expected one position + one equality delete file, got $delsNow")
      require(filesBefore.subsetOf(dataNow.map(_.path).toSet),
        "MoR delete rewrote a data file")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderkey % 4 >= 2
         OR (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0
             AND o_orderstatus <> 'F')
      ORDER BY o_orderkey""")),

    // x31: ICEBERG COMPACTION (rewriteDataFiles) — the MoR recovery path
    // completing x30's lifecycle: the same position + equality deletes
    // land, and while they are live every delete-blind planning path
    // (bounds pruning here) REFUSES — each equality-delete file also
    // costs one broadcast anti-join on every read, so a long-lived CDC
    // table needs a way back. rewriteDataFiles materializes the
    // delete-applied rows into fresh key-clustered files and commits a
    // snapshot with ZERO delete entries: the in-query requires pin that
    // the delete files are gone, bounds pruning works AND actually
    // prunes (sorted rewrite → tight per-file key ranges), and the bytes
    // are unchanged (same oracle as x30 — compaction may never change
    // an answer).
    QueryDef("x31_iceberg_rewrite", (s, d) => {
      val tbl = s"$stage/ice_rewrite"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val stats = Seq(1 -> "o_orderkey")
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 4 <= 1), tbl, stats)
      graft.sources.IcebergLog.deletePositionsWhere(s, tbl,
        col("o_orderkey") % 8 === 0)
      locally { import s.implicits._
        graft.sources.IcebergLog.deleteEqualityKeys(tbl,
          Seq("F").toDF("o_orderstatus"), equalityFieldIds = Seq(2))
      }
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 4 >= 2), tbl, stats)
      // delete-blind pruning must refuse while delete files are live...
      val refused =
        try { graft.sources.IcebergLog.pruneByLongBounds(tbl, 1, None, Some(8L)); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "bounds pruning planned over live v2 delete files")
      val rs = graft.sources.IcebergLog.rewriteDataFiles(s, tbl,
        statsFields = stats, sortBy = Seq("o_orderkey"), targetFiles = 4)
      require(rs.deleteFilesRemoved == 2 && rs.filesAdded > 1,
        s"compaction did not drop both delete files: $rs")
      val (_, delsNow) = graft.sources.IcebergLog.liveSplitEntries(tbl)
      require(delsNow.isEmpty, "delete files survived compaction")
      // ...and is restored AND selective after it (clustered rewrite)
      val (kept, total) = graft.sources.IcebergLog.pruneByLongBounds(
        tbl, 1, None, Some(8L))
      require(kept.nonEmpty && kept.size < total,
        s"post-compaction bounds pruning pruned nothing: ${kept.size}/$total")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderkey % 4 >= 2
         OR (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0
             AND o_orderstatus <> 'F')
      ORDER BY o_orderkey""")),

    // x32: ICEBERG PARTITIONED WRITE — the second format's twin of
    // Delta's x25: the metadata records the identity partition spec and
    // every data-file manifest entry carries its typed partition tuple
    // (the v2 `partition` struct). Unlike the Hive/Delta layout the
    // partition column STAYS in the data files (Iceberg's contract:
    // partitioning is metadata, not path encoding), so the read needs no
    // value re-injection. The oracle recomputes the table relationally —
    // the spec/struct round-trip is what's hash-checked.
    QueryDef("x32_iceberg_part_write", (s, d) => {
      val tbl = s"$stage/ice_partitioned"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitioned(o, tbl,
        partitionBy = Seq(2 -> "o_orderstatus"))
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      ORDER BY o_orderkey""")),

    // x33: ICEBERG MANIFEST PARTITION PRUNING — x26's twin: a partition
    // predicate is answered from manifest partition tuples ALONE (zero
    // data files or footers opened to prune; the in-query require pins
    // that the file list actually shrank), then only the matching
    // partition's files are scanned. At 100 TB this is the first pruning
    // lever, ahead of column-bounds skipping and row-group elimination.
    QueryDef("x33_iceberg_part_prune", (s, d) => {
      val tbl = s"$stage/ice_part_pruned"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitioned(o, tbl,
        partitionBy = Seq(2 -> "o_orderstatus"))
      val (kept, total) = graft.sources.IcebergLog.prunePartitions(tbl,
        Map("o_orderstatus" -> "O"))
      require(kept.nonEmpty && kept.size < total,
        s"partition pruning pruned nothing: ${kept.size} of $total files kept")
      graft.sources.IcebergLog.readPartition(s, tbl,
          Map("o_orderstatus" -> "O"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_orderkey""")),

    // x35: ICEBERG COMPOSED PRUNING — partition tuples AND column bounds
    // folded from the manifests in one planning pass (the shape real
    // Iceberg runs for WHERE part = v AND key <= k): whole partitions
    // eliminated first, bounds skipping within the survivors — zero data
    // files or footers opened to plan. The upstream repartitionByRange
    // gives each partition several files with tight disjoint key ranges,
    // so BOTH stages must prune (each pinned in-query); at 100 TB this
    // is the two-level pruning a clustered+partitioned layout exists for.
    QueryDef("x35_iceberg_part_range", (s, d) => {
      val tbl = s"$stage/ice_part_range"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartitionByRange(4, col("o_orderkey"))
      graft.sources.IcebergLog.appendPartitioned(o, tbl,
        partitionBy = Seq(2 -> "o_orderstatus"),
        statsFields = Seq(1 -> "o_orderkey"))
      // the range boundary scales with the data: first key quartile
      // (the oracle derives the same boundary relationally)
      val hiK = o.agg(max(col("o_orderkey")).cast("long"))
        .head.getLong(0) / 4
      val (kept, afterPart, total) =
        graft.sources.IcebergLog.prunePartitionsAndBounds(tbl,
          Map("o_orderstatus" -> "O"), 1, None, Some(hiK))
      require(afterPart < total,
        s"partition stage pruned nothing: $afterPart of $total")
      require(kept.nonEmpty && kept.size < afterPart,
        s"bounds stage pruned nothing: ${kept.size} of $afterPart")
      graft.sources.IcebergLog.readPartitionRange(s, tbl,
          Map("o_orderstatus" -> "O"), "o_orderkey", 1, None, Some(hiK))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderstatus = 'O'
        AND o_orderkey <= (SELECT CAST(FLOOR(MAX(o_orderkey) / 4.0) AS BIGINT)
                           FROM orders)
      ORDER BY o_orderkey""")),

    // x34: Delta MERGE SCHEMA EVOLUTION — the CDC reality x16 stops
    // short of: one day the upstream feed grows a column. The merge
    // commits a NEW metaData action carrying the widened schema, touched
    // files rewrite in it, and UNTOUCHED files stay physically old —
    // readers NULL-fill them through the metaData schema, so evolving a
    // 100 TB table costs one metadata action plus the touched files, not
    // an O(table) rewrite. The in-query requires pin that the
    // pre-evolution snapshot still reads WITHOUT the new column (time
    // travel sees each epoch's own schema); the oracle recomputes the
    // evolved table relationally, NULLs included.
    QueryDef("x34_delta_merge_evolve", (s, d) => {
      val tbl = s"$stage/delta_evolved"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      // the evolved source: updates for %4==0, inserts for the odds,
      // plus a NEW column the table has never seen
      val src = o.filter(col("o_orderkey") % 4 === 0 ||
          col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumn("o_band", (col("o_orderkey") % 10).cast("long"))
      val st = graft.sources.DeltaWrite.merge(tbl, src,
        Seq("o_orderkey"), mergeSchema = true)
      require(st.rowsUpdated > 0 && st.rowsInserted > 0,
        s"evolving merge must update and insert: $st")
      // time travel BEFORE the evolution reads the old schema
      require(!graft.sources.DeltaLog.read(s, tbl, Some(0L))
        .columns.contains("o_band"),
        "pre-evolution snapshot leaked the evolved column")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_band").cast("long").as("o_band"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(CASE WHEN o_orderkey % 4 = 0 OR o_orderkey % 2 = 1
             THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE)
          AS o_totalprice,
        CASE WHEN o_orderkey % 4 = 0 OR o_orderkey % 2 = 1
             THEN CAST(o_orderkey % 10 AS BIGINT) ELSE NULL END AS o_band
      FROM orders ORDER BY o_orderkey""")),

    // x34b: MERGE SCHEMA EVOLUTION ON A COLUMN-MAPPED TABLE — the last
    // refused mapped composition: the evolving merge allocates a FRESH
    // mapping entry for the new column (maxColumnId+1, its own physical
    // name / parquet field id) in the same metaData commit the
    // evolution publishes. Proven the strong way: the NEW column is
    // immediately RENAMED metadata-only — only possible if its mapping
    // entry is real — and the feed of reads decodes by footer field id,
    // so a mis-stamped id would NULL the column and break the hash.
    // Runs across a prior rename (the r17 x34 flow under mapping).
    QueryDef("x34b_merge_evolve_mapped", (s, d) => {
      val tbl = s"$stage/delta_evolved_mapped"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(
        o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.renameColumn(s, tbl,
        "o_totalprice", "o_price")
      val src = o.filter(col("o_orderkey") % 4 <= 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumnRenamed("o_totalprice", "o_price")
        .withColumn("o_flag", (col("o_orderkey") % 3).cast("long"))
      val st = graft.sources.DeltaWrite.merge(tbl, src,
        Seq("o_orderkey"), mergeSchema = true)
      require(st.rowsUpdated > 0 && st.rowsInserted > 0,
        s"mapped evolving merge must update and insert: $st")
      // the fresh mapping entry is REAL: the evolved column renames
      // metadata-only like any mapped column
      graft.sources.DeltaWrite.renameColumn(s, tbl, "o_flag", "o_mark")
      // pre-evolution time travel reads the old schema
      require(!graft.sources.DeltaLog.read(s, tbl, Some(0L))
        .columns.contains("o_mark"),
        "pre-evolution snapshot leaked the evolved column")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_price").cast("double").as("o_price"),
          col("o_mark").cast("long").as("o_mark"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH tgt AS (SELECT o_orderkey, o_orderstatus,
                     o_totalprice AS o_price
                   FROM orders WHERE o_orderkey % 2 = 0),
      src AS (SELECT o_orderkey, o_orderstatus,
                o_totalprice + 1000.0 AS o_price,
                CAST(o_orderkey % 3 AS BIGINT) AS o_mark
              FROM orders WHERE o_orderkey % 4 <= 1)
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_price AS DOUBLE) AS o_price, o_mark
      FROM (SELECT o_orderkey, o_orderstatus, o_price, o_mark FROM src
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_price, NULL
            FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
      ORDER BY o_orderkey""")),

    // x36: DELTA DELETION VECTORS — the Delta protocol's merge-on-read
    // row deletes (x30's first-format twin): deleteWhereDv re-adds each
    // touched file with a serialized RoaringBitmapArray of its dead row
    // indexes and upgrades the protocol to the deletionVectors table
    // feature — NO data file is rewritten (pinned in-query), the commit
    // is O(bitmap bytes), and the read applies the bitmaps as a
    // broadcast-closure filter. Two stacked deletes exercise the bitmap
    // UNION path; a post-delete append proves new files are untouched;
    // the metadata-only count subtracts DV cardinality. The oracle
    // recomputes the surviving set relationally.
    QueryDef("x36_delta_dv_deletes", (s, d) => {
      val tbl = s"$stage/delta_dv"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 0), tbl)
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 1), tbl)
      val filesBefore = graft.sources.DeltaLog.liveFiles(s, tbl).toSet
      val st = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderkey") % 8 === 0)
      require(st.rowsDeleted > 0, "DV delete matched nothing")
      // second MoR delete: stacks a bitmap UNION onto already-DV'd files
      val st2 = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F")
      require(st2.rowsDeleted > 0, "second DV delete matched nothing")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 >= 2), tbl)
      val addsNow = graft.sources.DeltaLog.liveAdds(s, tbl)
      // no file REWRITTEN: the only files allowed to leave the live set
      // are ones whose every row died (dropped outright, no descriptor)
      val gone = filesBefore.diff(addsNow.map(_.path).toSet).size
      require(gone == st.filesFullyDead + st2.filesFullyDead,
        s"MoR delete rewrote a data file ($gone gone, " +
          s"${st.filesFullyDead + st2.filesFullyDead} fully dead)")
      require(addsNow.exists(_.dv.isDefined), "no live deletion vector")
      val (minR, _, rFeats, _) = graft.sources.DeltaLog.currentProtocol(tbl)
      require(minR == 3 && rFeats == Seq("deletionVectors"),
        s"protocol not upgraded for DVs: $minR/$rFeats")
      // metadata-only count must subtract DV cardinality exactly
      val fromStats = graft.sources.DeltaLog.countFromStats(s, tbl)
      val live = graft.sources.DeltaLog.read(s, tbl)
      require(fromStats.contains(live.count()),
        s"stats count $fromStats != scan count under DVs")
      live
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderkey % 4 >= 2
         OR (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0
             AND o_orderstatus <> 'F')
      ORDER BY o_orderkey""")),

    // x36b: PARTITIONED MoR DELETES — the GDPR shape at 100 TB: erase
    // keys INSIDE specific partitions of a hive-partitioned table
    // without rewriting a byte. The predicate references both the
    // partition column and a data column (the match scan injects
    // partition values from the log, physical row identity captured
    // before that join); the DV re-adds carry each file's
    // partitionValues, so the partition column keeps decoding (pinned)
    // and log-only partition pruning keeps answering (pinned). A purge
    // then rewrites per touched-partition group — rows identical, DVs
    // gone, fresh adds inheriting their tuples (oracle pins the rows).
    QueryDef("x36b_delta_dv_partitioned", (s, d) => {
      val tbl = s"$stage/delta_dv_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(o, tbl,
        Seq("o_orderstatus"))
      val filesBefore = graft.sources.DeltaLog.liveFiles(s, tbl).toSet
      // soak override: graft.dv.maxCollectBytes=0 forces the EXECUTOR
      // DV-write path (packed per task partition), so the distributed
      // shape gets its own sf1 soak row; unset → production default
      val dvBound = sys.props.get("graft.dv.maxCollectBytes")
        .map(_.toLong).getOrElse(256L << 20)
      val st = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0,
        maxDvCollectBytes = dvBound)
      require(st.rowsDeleted > 0, "partitioned DV delete matched nothing")
      // merge-on-read: untouched-partition files keep physical identity
      require(graft.sources.DeltaLog.liveFiles(s, tbl).toSet
          .intersect(filesBefore).nonEmpty,
        "partitioned MoR delete rewrote every file")
      // log-only partition pruning still answers after the DV re-adds
      val (kept, total) = graft.sources.DeltaLog.livePartitionAdds(s, tbl,
        Map("o_orderstatus" -> "O"))
      require(kept.nonEmpty && kept.size < total,
        s"partition pruning lost after DV delete: ${kept.size}/$total")
      // purge per partition group: rows identical, DVs gone
      val ps = graft.sources.DeltaWrite.purgeDeletionVectors(s, tbl)
      require(ps.filesPurged > 0 &&
          graft.sources.DeltaLog.liveAdds(s, tbl).forall(_.dv.isEmpty),
        "purge left live deletion vectors")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
      ORDER BY o_orderkey""")),

    // x36c: MoR DELETES ON A COLUMN-MAPPED PARTITIONED TABLE — GDPR on
    // a MAPPED corpus: buying rename-without-rewrite must not forfeit
    // erasure. Keys are erased inside partitions of an id-mapped table
    // ACROSS A RENAME without rewriting a byte (the match scan decodes
    // logically, positions are physical; the DV is column-blind); the
    // purge then rewrites only touched groups under the physicalized
    // schema with parquet field ids RE-STAMPED — a missed stamp would
    // NULL-decode every post-purge read, which the oracle hash catches.
    QueryDef("x36c_delta_dv_mapped", (s, d) => {
      val tbl = s"$stage/delta_dv_mapped"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(o, tbl,
        partitionCols = Seq("o_orderstatus"))
      graft.sources.DeltaWrite.renameColumn(s, tbl,
        "o_totalprice", "o_price")
      val filesBefore = graft.sources.DeltaLog.liveFiles(s, tbl).toSet
      val st = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 4 === 0)
      require(st.rowsDeleted > 0, "mapped DV delete matched nothing")
      require(graft.sources.DeltaLog.liveFiles(s, tbl).toSet
          .intersect(filesBefore).nonEmpty,
        "mapped MoR delete rewrote every file")
      val ps = graft.sources.DeltaWrite.purgeDeletionVectors(s, tbl)
      require(ps.filesPurged > 0 &&
          graft.sources.DeltaLog.liveAdds(s, tbl).forall(_.dv.isEmpty),
        "mapped purge left live deletion vectors")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_price").cast("double").as("o_price"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_price
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
      ORDER BY o_orderkey""")),

    // x37: DELTA DV PURGE (REORG APPLY PURGE) — x31's first-format twin,
    // completing x36's lifecycle: while DVs are live every read pays the
    // bitmap filter. purgeDeletionVectors materializes ONLY the
    // DV-carrying files' live rows into clean files (dataChange:false —
    // rows unchanged, pinned by the same oracle as x36), drops every
    // descriptor, and frees the DV file for vacuum — the compaction-free
    // alternative to OPTIMIZE's apply-and-drop (x28b). Pre-purge history
    // still time-travels WITH the deletes applied.
    QueryDef("x37_delta_dv_purge", (s, d) => {
      val tbl = s"$stage/delta_dv_purge"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 <= 1), tbl)
      graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderkey") % 8 === 0)
      val dvSt = graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 >= 2), tbl)
      // purge is the compaction-FREE materialization path (optimize
      // also retires DVs — x28b — but rewrites whole groups; REORG
      // APPLY PURGE touches only the DV-carrying files)
      val ps = graft.sources.DeltaWrite.purgeDeletionVectors(s, tbl)
      require(ps.filesPurged > 0 && ps.filesAdded > 0,
        s"purge touched nothing: $ps")
      val addsNow = graft.sources.DeltaLog.liveAdds(s, tbl)
      require(addsNow.forall(_.dv.isEmpty), "a descriptor survived purge")
      // pre-purge history still applies the DVs
      require(graft.sources.DeltaLog.read(s, tbl, Some(dvSt.version))
          .filter(col("o_orderstatus") === "F").count() == 0L,
        "time travel to the DV epoch resurrected deleted rows")
      // ...and the purge commit changed no rows (dataChange:false only)
      val commitText = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(tbl, f"_delta_log/${ps.version}%020d.json").toPath))
      require(!commitText.contains("\"dataChange\":true"),
        "purge marked actions as data changes")
      // copy-on-write maintenance works again
      graft.sources.DeltaWrite.optimize(s, tbl, smallFileBytes = 1L << 30)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE o_orderkey % 4 >= 2
         OR (o_orderkey % 4 <= 1 AND o_orderkey % 8 <> 0
             AND o_orderstatus <> 'F')
      ORDER BY o_orderkey""")),

    // x38: DELTA CHANGE DATA FEED — the protocol's CDC read surface:
    // with delta.enableChangeDataFeed set, merge publishes its exact
    // update_preimage/update_postimage/insert rows and a DV delete its
    // delete rows as `_change_data/` files (cdc actions); pure-insert
    // appends derive from add actions. The feed reads ONLY each commit's
    // changed files — O(changed bytes) per version. The read happens
    // AFTER a DV purge and an OPTIMIZE, pinning that dataChange:false
    // commits are invisible and cdc files survive maintenance; the
    // pre-CDF append stays out of the feed (and reading before the
    // property refuses, pinned in-query). The oracle recomputes every
    // change row relationally.
    QueryDef("x38_delta_cdf", (s, d) => {
      val tbl = s"$stage/delta_cdf"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 0), tbl) // v0, pre-CDF
      graft.sources.DeltaWrite.enableChangeDataFeed(s, tbl) // v1
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 2), tbl) // v2: derived inserts
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey")) // v3: cdc
      graft.sources.DeltaWrite.deleteWhereDv(s, tbl,
        col("o_orderstatus") === "F") // v4: cdc
      // maintenance is invisible to the feed (dataChange:false)
      graft.sources.DeltaWrite.purgeDeletionVectors(s, tbl) // v5
      graft.sources.DeltaWrite.optimize(s, tbl, smallFileBytes = 1L << 30) // v6
      // reading from before the property was set refuses loudly
      val refused =
        try { graft.sources.DeltaLog.tableChanges(s, tbl, 0L); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "feed served history before CDF was enabled")
      graft.sources.DeltaLog.tableChanges(s, tbl, 2L)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type"),
          col("_commit_version").cast("long").as("_commit_version"))
        .orderBy(col("_commit_version"), col("_change_type"),
          col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_totalprice,
          'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        FROM orders WHERE o_orderkey % 4 = 2
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice AS DOUBLE), 'update_preimage', 3
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'update_postimage', 3
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'insert', 3
        FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(CASE WHEN o_orderkey % 8 = 0 OR o_orderkey % 2 = 1
               THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE),
          'delete', 4
        FROM orders
        WHERE o_orderstatus = 'F'
      ) ORDER BY _commit_version, _change_type, o_orderkey""")),

    // x38b: CHANGE DATA FEED ON A COLUMN-MAPPED TABLE — CDC must
    // survive the mapping a 100 TB corpus adopts for cheap renames:
    // every mutation's change rows stage PHYSICALIZED (id-stamped),
    // the feed decodes cdc files like data files (footer field ids),
    // and a mid-history RENAME is transparent — the whole feed serves
    // the range-end logical names. The oracle replays merge
    // (pre/post/insert) and delete relationally under the renamed
    // column; one mis-resolved cdc column breaks the hash.
    QueryDef("x38b_delta_cdf_mapped", (s, d) => {
      val tbl = s"$stage/delta_cdf_mapped"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(
        o.filter(col("o_orderkey") % 2 === 0), tbl) // v0
      graft.sources.DeltaWrite.enableChangeDataFeed(s, tbl) // v1
      graft.sources.DeltaWrite.renameColumn(s, tbl,
        "o_totalprice", "o_price") // v2: metadata-only, mid-feed
      val src = o.filter(col("o_orderkey") % 4 === 1 ||
          col("o_orderkey") % 8 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
        .withColumnRenamed("o_totalprice", "o_price")
      graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey")) // v3: cdc
      graft.sources.DeltaWrite.deleteWhere(s, tbl,
        col("o_orderstatus") === "F" &&
          col("o_orderkey") % 6 === 0) // v4: cdc
      graft.sources.DeltaLog.tableChanges(s, tbl, 3L)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_price").cast("double").as("o_price"),
          col("_change_type"),
          col("_commit_version").cast("long").as("_commit_version"))
        .orderBy(col("_commit_version"), col("_change_type"),
          col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_price,
          'update_preimage' AS _change_type,
          CAST(3 AS BIGINT) AS _commit_version
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'update_postimage', 3
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'insert', 3
        FROM orders WHERE o_orderkey % 4 = 1
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(CASE WHEN o_orderkey % 8 = 0
               THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE),
          'delete', 4
        FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
          AND o_orderkey % 6 = 0
      ) ORDER BY _commit_version, _change_type, o_orderkey""")),

    // x38c: CHANGE DATA FEED ON A PARTITIONED TABLE — the feed must
    // serve the 100 TB norm. Three decode shapes compose: DERIVED
    // inserts re-inject each add's partition tuple from the commit's
    // own pv maps (the data files physically lack the column — a
    // pv-blind decode would NULL o_orderstatus on every v2 row and
    // break the hash); merge cdc rows carry the partition column as
    // typed DATA; the partitioned DELETE's cdc rows replay with the
    // partition conjunct applied. The oracle recomputes the whole feed
    // relationally.
    QueryDef("x38c_delta_cdf_partitioned", (s, d) => {
      val tbl = s"$stage/delta_cdf_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 0), tbl,
        Seq("o_orderstatus")) // v0, pre-CDF
      graft.sources.DeltaWrite.enableChangeDataFeed(s, tbl) // v1
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 4 === 2), tbl,
        Seq("o_orderstatus")) // v2: derived inserts, pv re-injected
      val src = o.filter(col("o_orderkey") % 8 === 0 ||
          col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      graft.sources.DeltaWrite.merge(tbl, src, Seq("o_orderkey")) // v3: cdc
      graft.sources.DeltaWrite.deleteWhere(s, tbl,
        col("o_orderstatus") === "F" &&
          col("o_orderkey") % 6 === 0) // v4: cdc
      graft.sources.DeltaLog.tableChanges(s, tbl, 2L)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_change_type"),
          col("_commit_version").cast("long").as("_commit_version"))
        .orderBy(col("_commit_version"), col("_change_type"),
          col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_totalprice,
          'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        FROM orders WHERE o_orderkey % 4 = 2
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice AS DOUBLE), 'update_preimage', 3
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'update_postimage', 3
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE), 'insert', 3
        FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(CASE WHEN o_orderkey % 8 = 0 OR o_orderkey % 2 = 1
               THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE),
          'delete', 4
        FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 6 = 0
      ) ORDER BY _commit_version, _change_type, o_orderkey""")),

    // x39: CDF INCREMENTAL CONSUMER — the reason the feed exists: a
    // downstream MIRROR table maintained from the change feed alone
    // (bootstrap = snapshot copy at enablement, then per-poll: read ONLY
    // the new versions' changes, net them to one winner per key — last
    // commit wins, preimages dropped — MERGE the upserts, delete the
    // deletions). Each poll costs O(changed bytes in the range), never a
    // source re-scan — the real initial-snapshot+increments pattern of a
    // Delta CDC pipeline. Pinned in-query: the mirror equals the source
    // snapshot after EVERY poll; the oracle recomputes the final state
    // relationally.
    QueryDef("x39_delta_cdf_mirror", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val src = s"$stage/cdf_src"
      val mir = s"$stage/cdf_mirror"
      rmTree(src); rmTree(mir)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 0), src) // v0
      graft.sources.DeltaWrite.enableChangeDataFeed(s, src) // v1
      // consumer bootstrap: copy the enabling-time snapshot
      graft.sources.DeltaWrite.append(
        graft.sources.DeltaLog.read(s, src, Some(1L)), mir)
      // the source evolves: insert batch, CDC merge, MoR delete
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 2), src) // v2
      graft.sources.DeltaWrite.merge(src,
        o.filter(col("o_orderkey") % 8 === 0 || col("o_orderkey") % 2 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1),
        Seq("o_orderkey")) // v3
      graft.sources.DeltaWrite.deleteWhereDv(s, src,
        col("o_orderstatus") === "F") // v4
      def poll(from: Long, to: Long): Unit = {
        val ch = graft.sources.DeltaLog.tableChanges(s, src, from, Some(to))
          .filter(col("_change_type") =!= "update_preimage")
        // net effect per key over the range: the LAST commit wins
        val w = Window.partitionBy("o_orderkey")
          .orderBy(col("_commit_version").desc)
        val net = ch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val ups = net.filter(col("_change_type") =!= "delete")
          .drop("_change_type", "_commit_version", "_commit_timestamp")
        if (!ups.isEmpty)
          graft.sources.DeltaWrite.merge(mir, ups, Seq("o_orderkey"))
        // poll-bounded driver state: only the range's deleted keys (a
        // huge retraction batch would anti-join instead)
        val delKeys = net.filter(col("_change_type") === "delete")
          .select("o_orderkey").collect().map(_.get(0)).toSeq
        if (delKeys.nonEmpty)
          graft.sources.DeltaWrite.deleteWhere(s, mir,
            col("o_orderkey").isin(delKeys: _*))
        // the mirror must equal the source snapshot at the poll horizon
        // (decimal sum: order-independent exactness, the QueryDef rule)
        def fp(tbl: org.apache.spark.sql.DataFrame) = tbl
          .agg(count(lit(1)),
            sum(col("o_totalprice").cast("decimal(28,6)"))).head
        val a = fp(graft.sources.DeltaLog.read(s, mir))
        val b = fp(graft.sources.DeltaLog.read(s, src, Some(to)))
        require(a == b, s"mirror diverged from source@$to: $a vs $b")
      }
      poll(2L, 3L)
      poll(4L, 4L)
      graft.sources.DeltaLog.read(s, mir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(CASE WHEN o_orderkey % 8 = 0 OR o_orderkey % 2 = 1
             THEN o_totalprice + 1 ELSE o_totalprice END AS DOUBLE)
          AS o_totalprice
      FROM orders WHERE o_orderstatus <> 'F'
      ORDER BY o_orderkey""")),

    // x40: DELTA COLUMN MAPPING (name mode) — the minReaderVersion-2
    // interop surface real Delta writers produce after ALTER COLUMN
    // operations: parquet files store PHYSICAL `col-<uuid>` names and
    // the metaData schemaString maps them to logical names. The scan
    // reads the fully physicalized schema and positional-casts back to
    // logical — the oracle reads the original table relationally, so a
    // mis-mapped (or silently NULL-decoded) column breaks the hash.
    QueryDef("x40_delta_column_mapping", (s, d) => {
      import org.apache.spark.sql.types._
      val tbl = s"$stage/delta_mapped"
      rmTree(tbl)
      new java.io.File(tbl).mkdirs()
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // stage physical-named data files (what a mapped writer produces)
      val staging = s"$tbl/.stage"
      o.select(col("o_orderkey").as("col-1a"),
          col("o_orderstatus").as("col-2b"),
          col("o_totalprice").as("col-3c"))
        .coalesce(2).write.parquet(staging)
      val parts = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val moved = parts.zipWithIndex.map { case (f, i) =>
        val dst = new java.io.File(tbl, s"data-$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst
      }
      def m(p: String, id: Int) = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", p)
        .putLong("delta.columnMapping.id", id).build()
      val logical = StructType(Seq(
        StructField("o_orderkey",
          o.schema("o_orderkey").dataType, nullable = true, m("col-1a", 1)),
        StructField("o_orderstatus", StringType, nullable = true, m("col-2b", 2)),
        StructField("o_totalprice",
          o.schema("o_totalprice").dataType, nullable = true, m("col-3c", 3))))
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      val logDir = new java.io.File(tbl, "_delta_log"); logDir.mkdirs()
      graft.sources.DeltaWrite.publish(logDir, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"x40","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(logical.json)}","partitionColumns":[],""" +
          """"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""") ++
        moved.map(f =>
          s"""{"add":{"path":"${f.getName}","partitionValues":{},""" +
            s""""size":${f.length},"modificationTime":${f.lastModified},""" +
            """"dataChange":true}}"""))
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x40b: DELTA COLUMN MAPPING (id mode) + RENAME-WITHOUT-REWRITE —
    // the other half of the mapping protocol: files carry scrambled
    // PHYSICAL names in a DIFFERENT column order than the logical
    // schema, plus parquet footer field ids; the reader resolves every
    // column by id (delta.columnMapping.id → parquet.field.id), so
    // names and positions are irrelevant by design. Then the ALTER that
    // mapping exists for: RENAME COLUMN is ONE metadata commit (file
    // set pinned byte-identical), time travel across it sees each
    // epoch's own name, and a post-rename append through the mapped
    // write path stages id-stamped physical files that resolve too.
    QueryDef("x40b_delta_mapping_id_rename", (s, d) => {
      import org.apache.spark.sql.types._
      val tbl = s"$stage/delta_mapped_id"
      rmTree(tbl)
      new java.io.File(tbl).mkdirs()
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // stage id-stamped physical files, column order REVERSED vs logical
      s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      def fid(id: Long) = new MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      val staging = s"$tbl/.stage"
      o.select(col("o_totalprice").as("p_9z", fid(3)),
          col("o_orderstatus").as("s_5k", fid(2)),
          col("o_orderkey").as("k_2q", fid(1)))
        .coalesce(2).write.parquet(staging)
      val parts = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val moved = parts.zipWithIndex.map { case (f, i) =>
        val dst = new java.io.File(tbl, s"data-$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst
      }
      def m(p: String, id: Int) = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", p)
        .putLong("delta.columnMapping.id", id).build()
      val logical = StructType(Seq(
        StructField("o_orderkey",
          o.schema("o_orderkey").dataType, nullable = true, m("k_2q", 1)),
        StructField("o_orderstatus", StringType, nullable = true, m("s_5k", 2)),
        StructField("o_totalprice",
          o.schema("o_totalprice").dataType, nullable = true, m("p_9z", 3))))
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      val logDir = new java.io.File(tbl, "_delta_log"); logDir.mkdirs()
      graft.sources.DeltaWrite.publish(logDir, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"x40b","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(logical.json)}","partitionColumns":[],""" +
          """"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""") ++
        moved.map(f =>
          s"""{"add":{"path":"${f.getName}","partitionValues":{},""" +
            s""""size":${f.length},"modificationTime":${f.lastModified},""" +
            """"dataChange":true}}"""))
      require(graft.sources.DeltaLog.read(s, tbl).columns.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        "id resolution failed on the scrambled fixture")
      // RENAME WITHOUT REWRITE: one metadata commit, zero data movement
      val before = graft.sources.DeltaLog.liveAdds(s, tbl)
        .map(a => (a.path, new java.io.File(a.path).lastModified)).toSet
      graft.sources.DeltaWrite.renameColumn(s, tbl, "o_totalprice", "price")
      val after = graft.sources.DeltaLog.liveAdds(s, tbl)
        .map(a => (a.path, new java.io.File(a.path).lastModified)).toSet
      require(before == after, "rename moved bytes — it must be metadata-only")
      // time travel ACROSS the rename: each epoch decodes its own name
      require(graft.sources.DeltaLog.read(s, tbl, Some(0L)).columns
        .contains("o_totalprice"), "pre-rename epoch lost its name")
      require(graft.sources.DeltaLog.read(s, tbl).columns.contains("price"),
        "post-rename epoch kept the old name")
      // post-rename append through the MAPPED write path: the batch is
      // authored against the NEW logical name; staging re-stamps field
      // ids + physical names so id resolution covers new files too
      graft.sources.DeltaWrite.append(
        graft.sources.DeltaLog.read(s, tbl, Some(0L))
          .filter(col("o_orderkey") % 10 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"),
            (col("o_totalprice") + 1).as("price")), tbl)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("price").cast("double").as("price"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS price FROM orders
        UNION ALL
        SELECT CAST(o_orderkey + 10000000 AS BIGINT), o_orderstatus,
          CAST(o_totalprice + 1 AS DOUBLE)
        FROM orders WHERE o_orderkey % 10 = 0)
      ORDER BY o_orderkey""")),

    // x41: ICEBERG INCREMENTAL APPEND SCAN — x38's second-format twin
    // (real Iceberg's changes-between read): records appended in
    // snapshots (from, to], dispatched on the spec-required `operation`
    // summary — append snapshots contribute their ADDED files (O(appended
    // bytes), never a table scan), a `replace` compaction in the middle
    // is SKIPPED (rows unchanged by contract — the in-query require pins
    // no rows carry its snapshot id), and a row-removing snapshot
    // REFUSES (pinned too). The oracle recomputes both appended batches
    // with their deterministic snapshot ids.
    QueryDef("x41_iceberg_incremental", (s, d) => {
      val tbl = s"$stage/ice_incr"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val s1 = graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 4 === 0), tbl)
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 4 === 2), tbl) // s2
      val rs = graft.sources.IcebergLog.rewriteDataFiles(s, tbl,
        targetFiles = 2) // s3: replace — must be invisible
      val s4 = graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderkey") % 16 === 0) // s5: row-removing
      // a range crossing the delete refuses loudly...
      val refused =
        try { graft.sources.IcebergLog.appendsBetween(s, tbl, s1); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "incremental scan planned across a delete snapshot")
      // ...a range bounded before it serves the appends, skipping the
      // replace
      val incr = graft.sources.IcebergLog.appendsBetween(s, tbl, s1, Some(s4))
      require(incr.filter(col("_snapshot_id") === rs.snapshotId).isEmpty,
        "compaction snapshot leaked rows into the incremental scan")
      incr
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("_snapshot_id").cast("long").as("_snapshot_id"))
        .orderBy(col("_snapshot_id"), col("o_orderkey"))
    }, Some("""
      SELECT * FROM (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DOUBLE) AS o_totalprice,
          CAST(2 AS BIGINT) AS _snapshot_id
        FROM orders WHERE o_orderkey % 4 = 2
        UNION ALL
        SELECT CAST(o_orderkey AS BIGINT), o_orderstatus,
          CAST(o_totalprice AS DOUBLE), 4
        FROM orders WHERE o_orderkey % 2 = 1
      ) ORDER BY _snapshot_id, o_orderkey""")),

    // x42: ICEBERG PARTITION SPEC EVOLUTION — the lifecycle real tables
    // hit when the partitioning strategy changes: epoch A lands under
    // spec 0 (o_orderstatus), epoch B under spec 1 (o_orderpriority);
    // the metadata records BOTH specs (old files stay interpretable
    // forever) and each manifest carries ITS epoch's exact partition
    // struct — so filtering on the NEW column keeps every old-spec file
    // ("no info", never conflated with a null partition VALUE) and the
    // residual filter makes the read row-exact across epochs. The
    // in-query requires pin the spec history, that pruning still shrank
    // the new epoch, and that old-epoch files survived the filter; the
    // oracle recomputes the slice over ALL rows — a wrongly-pruned
    // old-spec file breaks the hash.
    QueryDef("x42_iceberg_spec_evolution", (s, d) => {
      val tbl = s"$stage/ice_spec_evo"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
      graft.sources.IcebergLog.appendPartitioned(
        o.filter(col("o_orderkey") % 2 === 0), tbl,
        partitionBy = Seq(3 -> "o_orderstatus"))
      graft.sources.IcebergLog.appendPartitioned(
        o.filter(col("o_orderkey") % 2 === 1), tbl,
        partitionBy = Seq(6 -> "o_orderpriority"))
      val (specs, defaultId) = graft.sources.IcebergLog.partitionSpecs(tbl)
      require(specs.map(_._2.map(_._2)) ==
          Seq(Seq("o_orderstatus"), Seq("o_orderpriority")) && defaultId == 1,
        s"spec history not recorded: $specs / $defaultId")
      val (kept, total) = graft.sources.IcebergLog.prunePartitions(tbl,
        Map("o_orderpriority" -> "1-URGENT"))
      require(kept.size < total, "evolution filter pruned nothing")
      // every epoch-A file must survive a new-column filter
      val epochA = graft.sources.IcebergLog.liveEntries(tbl)
        .filter(_.partitionValues.keySet == Set("o_orderstatus"))
      require(epochA.nonEmpty &&
          epochA.map(_.path).toSet.subsetOf(kept.map(_.path).toSet),
        "an old-spec file was wrongly pruned by the new partition column")
      graft.sources.IcebergLog.readPartition(s, tbl,
          Map("o_orderpriority" -> "1-URGENT"))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        o_orderpriority, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderpriority = '1-URGENT'
      ORDER BY o_orderkey""")),

    // x43: ICEBERG SNAPSHOT REFS — the named time-travel surface a
    // training pipeline needs most: tag the exact corpus snapshot a
    // model trained on ("train-v1"), keep mutating the table, and the
    // tag (a) still reads byte-identically and (b) PINS its snapshot
    // through retention — expiry at keep=1 reclaims everything except
    // the head and the tagged snapshot (pinned in-query, along with
    // untagged history refusing post-expiry). Metadata-only: creating
    // the tag writes one metadata version. The oracle recomputes the
    // tagged epoch relationally.
    QueryDef("x43_iceberg_refs", (s, d) => {
      val tbl = s"$stage/ice_refs"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 0), tbl) // s1: the corpus
      graft.sources.IcebergLog.createRef(tbl, "train-v1")
      val s2 = graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderkey") % 8 === 0) // s3: head
      graft.sources.IcebergLog.expireSnapshots(tbl, keep = 1)
      val left = graft.sources.IcebergLog.snapshots(tbl)
        .map(_.snapshotId).sorted
      require(left.size == 2 && !left.contains(s2),
        s"expiry did not keep exactly head + tagged snapshot: $left")
      // untagged history is gone...
      val refused =
        try { graft.sources.IcebergLog.read(s, tbl, Some(s2)).collect(); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "expired untagged snapshot still readable")
      // ...the tag still reads byte-identically (what the oracle checks)
      graft.sources.IcebergLog.readRef(s, tbl, "train-v1")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      ORDER BY o_orderkey""")),

    // x44: CONVERT TO DELTA — zero-copy, in-place adoption of an
    // existing parquet directory (the 100 TB onboarding path: a corpus
    // that already exists must never be rewritten just to gain ACID
    // commits and pruning). The SQL verb writes ONE version-0 commit
    // whose adds point at the files where they are; the in-query
    // requires pin that not a byte moved (file set identical before and
    // after), that footer stats landed in the adds (metadata-only count
    // + data skipping work immediately), and that the adopted table is
    // first-class (a normal append lands on top). The oracle recomputes
    // both slices relationally.
    QueryDef("x44_convert_delta", (s, d) => {
      val tbl = s"$stage/conv_delta"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      o.filter(col("o_orderkey") % 3 === 0)
        .repartitionByRange(4, col("o_orderkey"))
        .write.parquet(tbl)
      def files(): Set[String] =
        Option(new java.io.File(tbl).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = files()
      val ctx = new ExecutionContext(s)
      ctx.runScript(s"CONVERT TO DELTA '$tbl'")
      require(files() == before && before.nonEmpty,
        "conversion moved, rewrote, or added data files")
      require(graft.sources.DeltaLog.countFromStats(s, tbl).isDefined,
        "adopted add actions carry no footer stats")
      // scale-free probe: a single-key range admits only the file whose
      // [min,max] straddles it — at ANY SF the range-partitioned layout
      // leaves the other files prunable
      val (kept, total) = graft.sources.DeltaLog.pruneByStats(s, tbl,
        "o_orderkey", Some(0d), Some(1d))
      require(kept.size < total,
        s"adopted stats pruned nothing: ${kept.size} of $total kept")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 3 === 1), tbl)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 2
      ORDER BY o_orderkey"""), headline = true),

    // x45: ICEBERG ADD_FILES — the second format's zero-copy adoption
    // (real Iceberg's add_files/migrate procedures): manifests record
    // full paths, so the adopted files stay OUTSIDE the table directory
    // entirely — pinned by liveFiles == the raw directory's own files.
    // statsFields folds footer MIN/MAX into manifest bounds at adoption,
    // so metadata-only range pruning works immediately (pinned); a
    // second adoption of the same files refuses (double rows); the
    // incremental scan serves the adoption as a plain append (pinned by
    // row count); and a normal append lands on top. Oracle recomputes
    // both slices.
    QueryDef("x45_iceberg_add_files", (s, d) => {
      val raw = s"$stage/ice_adopt_raw"
      val tbl = s"$stage/ice_adopt"
      rmTree(raw); rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      val slice0 = o.filter(col("o_orderkey") % 3 === 0)
      slice0.repartitionByRange(4, col("o_orderkey")).write.parquet(raw)
      val sid1 = graft.sources.IcebergLog.addFiles(tbl, raw,
        Seq(1 -> "o_orderkey"))
      val rawSet = Option(new java.io.File(raw).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
      val liveSet = graft.sources.IcebergLog.liveFiles(tbl)
        .map(p => new java.io.File(p).getAbsolutePath).toSet
      require(liveSet == rawSet && rawSet.nonEmpty,
        "adoption moved or copied files instead of referencing them")
      val (kept, total) = graft.sources.IcebergLog.pruneByLongBounds(
        tbl, 1, Some(2000L), Some(3999L))
      require(kept.size < total,
        s"adopted bounds pruned nothing: ${kept.size} of $total kept")
      val refused =
        try { graft.sources.IcebergLog.addFiles(tbl, raw); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "double adoption of the same files was accepted")
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 3 === 1), tbl)
      val adopted = graft.sources.IcebergLog.appendsBetween(
        s, tbl, 0L, Some(sid1))
      require(adopted.count() == slice0.count(),
        "incremental scan does not serve the adoption as an append")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 2
      ORDER BY o_orderkey"""), headline = true),

    // x46: UNIFORM — one directory, one copy of the data, BOTH protocol
    // views: Delta is the source of truth, each sync publishes the
    // current Delta snapshot as one Iceberg metadata commit over the
    // very same parquet files (Delta Lake's Universal Format). Pins:
    // first sync adds everything; a re-sync of the same Delta version
    // no-ops (version-keyed idempotence); an appended batch mirrors as
    // an `append` snapshot carrying the prior files as EXISTING; the
    // Iceberg side time-travels to the first mirror; and a Delta DELETE
    // mirrors honestly as `overwrite`, which the Iceberg incremental
    // scan refuses to cross rather than misreport. The oracle pins the
    // final Iceberg-side read — byte-equal to the Delta truth.
    QueryDef("x46_uniform_iceberg", (s, d) => {
      val tbl = s"$stage/uniform_tbl"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .localCheckpoint(true) // staged appends + the batch replay this 2-8x
      val sliceA = o.filter(col("o_orderkey") % 3 === 0)
      graft.sources.DeltaWrite.append(sliceA, tbl)
      val s1 = graft.sources.Uniform.deltaToIceberg(s, tbl,
        Seq(1 -> "o_orderkey"))
      require(s1.snapshotId.isDefined && s1.filesCarried == 0 &&
          s1.filesAdded > 0, s"first sync wrong shape: $s1")
      val aCount = sliceA.count()
      require(graft.sources.IcebergLog.read(s, tbl).count() == aCount,
        "Iceberg view diverges from the Delta truth after first sync")
      require(graft.sources.Uniform.deltaToIceberg(s, tbl)
          .snapshotId.isEmpty,
        "re-sync of an already-mirrored Delta version was not a no-op")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 3 === 1), tbl)
      val s2 = graft.sources.Uniform.deltaToIceberg(s, tbl,
        Seq(1 -> "o_orderkey"))
      require(s2.snapshotId.isDefined && s2.filesCarried > 0 &&
          s2.filesAdded > 0, s"append sync wrong shape: $s2")
      require(graft.sources.IcebergLog.read(s, tbl, s1.snapshotId)
          .count() == aCount,
        "Iceberg-side time travel to the first mirror diverged")
      graft.sources.DeltaWrite.deleteWhere(s, tbl,
        col("o_orderkey") % 9 === 0)
      graft.sources.Uniform.deltaToIceberg(s, tbl, Seq(1 -> "o_orderkey"))
      val refused =
        try {
          graft.sources.IcebergLog.appendsBetween(s, tbl, s1.snapshotId.get)
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused,
        "incremental scan crossed a row-removing mirror snapshot")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 9 <> 0
      ORDER BY o_orderkey"""), headline = true),

    // x46b: UNIFORM FOR PARTITIONED DELTA — the coverage real UniForm
    // ships and r15's mirror refused: a hive-partitioned Delta table
    // keeps partition column DATA in its log (stripped from the files),
    // so the sync translates the log's partitionValues into typed
    // Iceberg identity partition structs + an identity spec. The
    // mirror's reads re-inject the columns from manifests (the Iceberg
    // spec's identity-transform rule) — pinned row-identical including
    // the partition column — and PRUNE partitions from manifests alone
    // (kept < total pinned; prunePartitions never opens a footer by
    // construction). A second partitioned append re-syncs with carried
    // EXISTING entries keeping their structs.
    QueryDef("x46b_uniform_partitioned", (s, d) => {
      val tbl = s"$stage/uniform_part"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 2 === 0), tbl, Seq("o_orderstatus"))
      val s1 = graft.sources.Uniform.deltaToIceberg(s, tbl,
        Seq(1 -> "o_orderkey"))
      require(s1.snapshotId.isDefined && s1.filesAdded > 0,
        s"partitioned sync refused or empty: $s1")
      // manifest-only partition pruning on the MIRROR
      val (kept, total) = graft.sources.IcebergLog.prunePartitions(tbl,
        Map("o_orderstatus" -> "F"))
      require(kept.nonEmpty && kept.size < total,
        s"mirror partition pruning did not shrink: ${kept.size}/$total")
      val fWant = o.filter(col("o_orderkey") % 2 === 0 &&
        col("o_orderstatus") === "F").count()
      require(graft.sources.IcebergLog.readPartition(s, tbl,
          Map("o_orderstatus" -> "F")).count() == fWant,
        "pruned mirror read diverges from the Delta truth")
      // second partitioned append: the re-sync carries the prior files
      // as EXISTING (structs intact) and the spec stays identity-stable
      graft.sources.DeltaWrite.appendPartitioned(
        o.filter(col("o_orderkey") % 2 === 1), tbl, Seq("o_orderstatus"))
      val s2 = graft.sources.Uniform.deltaToIceberg(s, tbl,
        Seq(1 -> "o_orderkey"))
      require(s2.filesCarried > 0 && s2.filesAdded > 0,
        s"re-sync wrong shape: $s2")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x46c: UNIFORM FOR PARTITIONED **COLUMN-MAPPED** DELTA — the
    // translations COMPOSE: an id-mapped table created PARTITIONED
    // (physical hive dirs, physical pv keys), metadata-only renames of
    // both a data column AND the partition column, then one sync. The
    // mirror's partition spec carries the mapping's field ids as
    // source-ids and the renamed LOGICAL names as field names; reads
    // resolve data columns by footer field id, re-inject the partition
    // column from manifests, and prune manifest-only. In-query requires
    // pin the pruning and the pruned-read row count; the oracle pins the
    // full mirror bytes against the pre-rename Delta truth.
    QueryDef("x46c_uniform_partitioned_mapped", (s, d) => {
      val tbl = s"$stage/uniform_part_mapped"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(o, tbl,
        partitionCols = Seq("o_orderstatus"))
      graft.sources.DeltaWrite.renameColumn(s, tbl, "o_totalprice", "price")
      graft.sources.DeltaWrite.renameColumn(s, tbl, "o_orderstatus", "status")
      val st = graft.sources.Uniform.deltaToIceberg(s, tbl,
        Seq(1 -> "o_orderkey"))
      require(st.snapshotId.isDefined && st.filesAdded > 0,
        s"mapped partitioned sync refused or empty: $st")
      val (kept, total) = graft.sources.IcebergLog.prunePartitions(tbl,
        Map("status" -> "F"))
      require(kept.nonEmpty && kept.size < total,
        s"mapped mirror partition pruning did not shrink: ${kept.size}/$total")
      val fWant = o.filter(col("o_orderstatus") === "F").count()
      require(graft.sources.IcebergLog.readPartition(s, tbl,
          Map("status" -> "F")).count() == fWant,
        "pruned mapped mirror read diverges from the Delta truth")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("status"),
          col("price").cast("double").as("price"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        o_orderstatus AS status,
        CAST(o_totalprice AS DOUBLE) AS price
      FROM orders ORDER BY o_orderkey""")),

    // x47: SHALLOW CLONE — zero-copy branch of a Delta table (the
    // 100 TB experimentation pattern: branch a curated corpus for an
    // ablation without paying for a copy). The SQL verb clones the
    // source AS OF version 0 into a new table whose adds reference the
    // source's files by absolute path; pins: the clone root holds a log
    // and NOT ONE data file, per-file stats carried over (metadata-only
    // count works), and full divergence — an append lands only in the
    // clone, a DELETE on the source leaves the clone's frozen branch
    // point untouched (the oracle would break if the source's delete
    // leaked in, since %8==0 keys are a subset of the clone's %4==0
    // slice). Oracle recomputes the branch + its divergent append.
    QueryDef("x47_shallow_clone", (s, d) => {
      val src = s"$stage/clone_src"
      val dst = s"$stage/clone_dst"
      rmTree(src); rmTree(dst)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 0), src) // v0 — the branch point
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 1), src) // v1 — after it
      val ctx = new ExecutionContext(s)
      ctx.runScript(s"CREATE TABLE '$dst' SHALLOW CLONE '$src' VERSION AS OF 0")
      val copied = Option(new java.io.File(dst).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      require(copied.isEmpty, "shallow clone copied data files")
      require(graft.sources.DeltaLog.countFromStats(s, dst).isDefined,
        "clone add actions lost the source's per-file stats")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 2), dst) // divergent append
      graft.sources.DeltaWrite.deleteWhere(s, src,
        col("o_orderkey") % 8 === 0) // source diverges too
      graft.sources.DeltaLog.read(s, dst)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (0, 2)
      ORDER BY o_orderkey""")),

    // x48: DESCRIBE HISTORY — the audit surface over a table's commit
    // log, as the `delta_history('p')` SQL TVF: one row per retained
    // commit with its operation, newest first in the raw surface,
    // ordered here for determinism. The staged lifecycle (CONVERT →
    // WRITE → DELETE → OPTIMIZE) produces a fixed (version, operation)
    // sequence the DuckDB oracle pins as literal VALUES — any mislabeled
    // or missing commit breaks the hash. Timestamps are excluded
    // (wall-clock); the operation log itself is the contract.
    QueryDef("x48_delta_history", (s, d) => {
      val tbl = s"$stage/hist_tbl"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      o.filter(col("o_orderkey") % 5 === 0).write.parquet(tbl)
      val ctx = new ExecutionContext(s)
      ctx.runScript(s"CONVERT TO DELTA '$tbl'") // v0: CONVERT
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 5 === 1), tbl) // v1: WRITE
      graft.sources.DeltaWrite.deleteWhere(s, tbl,
        col("o_orderkey") % 10 === 0) // v2: DELETE
      graft.sources.DeltaWrite.optimize(s, tbl,
        smallFileBytes = 128L * 1024 * 1024) // v3: OPTIMIZE
      ctx.sql(s"""
        SELECT CAST(version AS BIGINT) AS version, operation
        FROM delta_history('$tbl') ORDER BY version""")
    }, Some("""
      SELECT CAST(version AS BIGINT) AS version, operation FROM (VALUES
        (0, 'CONVERT'), (1, 'WRITE'), (2, 'DELETE'), (3, 'OPTIMIZE')
      ) AS t(version, operation) ORDER BY version""")),

    // x49: REVERSE UNIFORM (Iceberg → Delta) — x46's mirror image, the
    // CONVERT-from-Iceberg direction: Iceberg is the source of truth and
    // each sync publishes its current snapshot as ONE Delta commit over
    // the same files — adds for new live files, removes for dropped
    // ones, a txn action recording the mirrored snapshot id. Pins:
    // version 0 on first sync; metadata-only count works on the mirror
    // (numRecords riding the manifest record counts, no footer re-read);
    // re-sync of a mirrored snapshot no-ops; an Iceberg append + CoW
    // delete resyncs as adds AND removes; the two views stay row-equal.
    // The oracle pins the final Delta-side read of the Iceberg truth.
    QueryDef("x49_iceberg_to_delta", (s, d) => {
      val tbl = s"$stage/rev_uniform"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 3 === 0), tbl)
      val r1 = graft.sources.Uniform.icebergToDelta(s, tbl)
      require(r1.version.contains(0L) && r1.filesAdded > 0 &&
          r1.filesRemoved == 0, s"first reverse sync wrong shape: $r1")
      require(graft.sources.DeltaLog.countFromStats(s, tbl).isDefined,
        "mirror adds carry no numRecords stats from the manifests")
      require(graft.sources.Uniform.icebergToDelta(s, tbl).version.isEmpty,
        "re-sync of an already-mirrored snapshot was not a no-op")
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 3 === 1), tbl)
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderkey") % 9 === 0)
      val r2 = graft.sources.Uniform.icebergToDelta(s, tbl)
      require(r2.version.isDefined && r2.filesAdded > 0 &&
          r2.filesRemoved > 0, s"resync after delete wrong shape: $r2")
      require(graft.sources.DeltaLog.read(s, tbl).count() ==
          graft.sources.IcebergLog.read(s, tbl).count(),
        "Delta view diverges from the Iceberg truth after resync")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 9 <> 0
      ORDER BY o_orderkey""")),

    // x50: OPTIMIZE ZORDER BY — the multi-column data-skipping layout
    // lever: a round-robin-scattered table prunes NOTHING on any single
    // column (every file spans the full domain — pinned before); one
    // Morton-curve rewrite later, a selective probe on EITHER z column
    // prunes files (pinned after, both dimensions), in ONE
    // dataChange:false commit (pinned via the history operation +
    // zOrderBy parameter). The oracle pins every row unchanged — a
    // re-clustering may only ever move bytes, never answers.
    QueryDef("x50_zorder_optimize", (s, d) => {
      val tbl = s"$stage/zorder_opt"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.repartition(6), tbl)
      // probe at each column's domain MIDPOINT: every round-robin file's
      // [min,max] straddles it (kept == total before), while the curve
      // layout confines it to a few files (kept < total after) — an edge
      // probe would prune trivially even on the scattered layout
      val mids = o.agg(
        ((min(col("o_orderkey")) + max(col("o_orderkey"))) / 2)
          .cast("double").as("mk"),
        ((min(col("o_custkey")) + max(col("o_custkey"))) / 2)
          .cast("double").as("mc")).head
      def prunes(c: String, mid: Double): Boolean = {
        val (kept, total) = graft.sources.DeltaLog.pruneByStats(s, tbl,
          c, Some(mid), Some(mid + 1))
        kept.size < total
      }
      require(!prunes("o_orderkey", mids.getDouble(0)) &&
          !prunes("o_custkey", mids.getDouble(1)),
        "scattered layout already pruned — fixture broken")
      graft.sources.DeltaWrite.optimizeZOrder(s, tbl,
        Seq("o_orderkey", "o_custkey"), targetFiles = 8)
      require(prunes("o_orderkey", mids.getDouble(0)) &&
          prunes("o_custkey", mids.getDouble(1)),
        "z-order produced no pruning on a z column")
      val head = graft.sources.DeltaLog.history(s, tbl).collect().head
      require(head.getString(2) == "OPTIMIZE" &&
          head.getString(3).contains("zOrderBy"),
        s"zorder commit mislabeled: ${head.getString(2)}/${head.getString(3)}")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        CAST(o_custkey AS BIGINT) AS o_custkey,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x50b: ZORDER ON A COLUMN-MAPPED TABLE — the maintenance verb a
    // mapped corpus cannot do without: at 100 TB, buying rename-without-
    // rewrite (column mapping) must not forfeit re-clustering. The
    // rewrite reads PHYSICAL bytes under the physicalized data schema
    // (id mode: parquet footer field ids resolve the synthetic physical
    // names) and re-stamps the ids on the fresh files — a missed stamp
    // would NULL-decode every row post-rewrite, which the oracle's hash
    // would catch. Same midpoint-probe pin as x50, composed with a
    // pre-rewrite RENAME of one z column: callers cluster by LOGICAL
    // names, stats stay physical-keyed, pruning translates.
    QueryDef("x50b_zorder_mapped", (s, d) => {
      val tbl = s"$stage/zorder_mapped"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.DeltaWrite.createIdMapped(o.repartition(6), tbl)
      graft.sources.DeltaWrite.renameColumn(s, tbl, "o_custkey", "o_buyer")
      val mids = o.agg(
        ((min(col("o_orderkey")) + max(col("o_orderkey"))) / 2)
          .cast("double").as("mk"),
        ((min(col("o_custkey")) + max(col("o_custkey"))) / 2)
          .cast("double").as("mc")).head
      def prunes(c: String, mid: Double): Boolean = {
        val (kept, total) = graft.sources.DeltaLog.pruneByStats(s, tbl,
          c, Some(mid), Some(mid + 1))
        kept.size < total
      }
      require(!prunes("o_orderkey", mids.getDouble(0)) &&
          !prunes("o_buyer", mids.getDouble(1)),
        "scattered mapped layout already pruned — fixture broken")
      graft.sources.DeltaWrite.optimizeZOrder(s, tbl,
        Seq("o_orderkey", "o_buyer"), targetFiles = 8)
      require(prunes("o_orderkey", mids.getDouble(0)) &&
          prunes("o_buyer", mids.getDouble(1)),
        "mapped z-order produced no pruning on a z column")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_buyer").cast("long").as("o_buyer"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        CAST(o_custkey AS BIGINT) AS o_buyer,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x51: ICEBERG ROLLBACK — real Iceberg's rollback_to_snapshot (the
    // Delta RESTORE analog, x21's second-format twin): after an
    // append/append/delete history, ONE metadata-only version moves the
    // current snapshot (and `main`) back over the delete. Pins: the
    // rolled-over head still time-travels with its deletes applied, and
    // a post-rollback append builds on the TARGET's lineage (the head's
    // deleted rows stay gone from the new current). The oracle pins the
    // restored table byte-identically — every order, nothing deleted.
    QueryDef("x51_iceberg_rollback", (s, d) => {
      val tbl = s"$stage/ice_rollback"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 0), tbl) // s1
      val s2 = graft.sources.IcebergLog.append(
        o.filter(col("o_orderkey") % 2 === 1), tbl) // s2: the good state
      graft.sources.IcebergLog.deleteWhere(s, tbl,
        col("o_orderkey") % 8 === 0) // s3: the bad delete
      val head = graft.sources.IcebergLog.snapshots(tbl)
        .map(_.snapshotId).max
      val deletedCount = graft.sources.IcebergLog.read(s, tbl).count()
      graft.sources.IcebergLog.rollbackTo(tbl, s2)
      // the bad head stays in history, deletes applied, until expiry
      require(graft.sources.IcebergLog.read(s, tbl, Some(head)).count()
          == deletedCount, "rolled-over head no longer time-travels")
      // main follows the rollback
      require(graft.sources.IcebergLog.refs(tbl)("main")._1 == s2,
        "main ref did not follow the rollback")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x52: CHECK CONSTRAINTS — the Delta protocol's writer-enforced
    // invariants (`delta.constraints.*`, minWriterVersion 3): once
    // declared, every incoming BATCH is checked in one pass (never a
    // table scan) and a violating batch refuses BEFORE any commit
    // exists — pinned in-query by the version counter not moving and
    // the read not changing. Creation validates existing rows (a
    // constraint cannot be born violated — real Delta's rule); DROP is
    // metadata-only and re-admits what the constraint excluded. The
    // oracle recomputes the final table including the post-drop
    // negative-price batch — an enforcement leak on either side of the
    // lifecycle breaks the hash.
    QueryDef("x52_check_constraints", (s, d) => {
      val tbl = s"$stage/check_tbl"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 3 === 0), tbl)
      val ctx = new ExecutionContext(s)
      ctx.runScript(
        s"ALTER TABLE '$tbl' ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)")
      graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 3 === 1), tbl) // conforming: lands
      val bad = o.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_totalprice", -col("o_totalprice"))
      val vBefore = graft.sources.DeltaLog.latestVersion(tbl)
      val refused =
        try { graft.sources.DeltaWrite.append(bad, tbl); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("price_pos") }
      require(refused, "violating batch was not refused by name")
      require(graft.sources.DeltaLog.latestVersion(tbl) == vBefore,
        "refused batch left a commit behind")
      ctx.runScript(s"ALTER TABLE '$tbl' DROP CONSTRAINT price_pos")
      graft.sources.DeltaWrite.append(bad, tbl) // now admitted
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(CASE WHEN o_orderkey % 3 = 2 THEN -o_totalprice
          ELSE o_totalprice END AS DOUBLE) AS o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // x24: ICEBERG SNAPSHOT EXPIRY + ORPHAN CLEANUP — the retention
    // lifecycle completing the second format (x19/x20's analog): after
    // append/append/delete leave a tombstoned file and three snapshots,
    // expiry keeps only the current snapshot, the next metadata version
    // lists only it, and every unreferenced data file AND manifest is
    // physically deleted (in-query requires pin reclaim happened, the
    // disk equals the live set, and expired time travel fails loudly).
    // The oracle pins the snapshot bytes unchanged — the whole point.
    QueryDef("x24_iceberg_expire", (s, d) => {
      val tbl = s"$stage/ice_expired"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.IcebergLog.append(o.filter(col("o_orderkey") % 2 === 1), tbl)
      graft.sources.IcebergLog.deleteWhere(s, tbl, col("o_orderkey") % 8 === 0)
      val (_, deleted) = graft.sources.IcebergLog.expireSnapshots(tbl, keep = 1)
      require(deleted.exists(_.endsWith(".parquet")),
        "expiry reclaimed no orphaned data files")
      val onDisk = Option(new java.io.File(s"$tbl/data").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val live = graft.sources.IcebergLog.liveFiles(tbl)
      require(onDisk == live.size,
        s"expiry left $onDisk data files on disk for ${live.size} live")
      val expiredTravel =
        try { graft.sources.IcebergLog.read(s, tbl, Some(1L)).count(); false }
        catch { case _: IllegalArgumentException => true }
      require(expiredTravel, "expired snapshot still time-travels silently")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 8 <> 0
      ORDER BY o_orderkey""")),

    // x20: Delta CHECKPOINT + LOG EXPIRY — the log-compaction lifecycle a
    // long-lived table needs: four commits, a parquet checkpoint at the
    // head version, then retention cleanup DELETES every JSON commit the
    // checkpoint covers (pinned in-query), then one MORE append proves
    // the version counter survives cleanup (the checkpoint, not the JSON
    // list, carries it). The final read is seeded from the checkpoint
    // alone plus the one post-cleanup commit — O(1) snapshot resolution
    // where a 10⁴-commit table would otherwise replay every JSON on
    // every read. The oracle re-derives the expected table relationally.
    QueryDef("x20_delta_checkpoint", (s, d) => {
      val tbl = s"$stage/delta_checkpointed"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 to 2).foreach(m =>
        graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 4 === m), tbl))
      graft.sources.DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 8 === 1)
      val cpV = graft.sources.DeltaWrite.checkpoint(s, tbl)
      require(cpV == 3L, s"checkpoint at unexpected version $cpV")
      val expired = graft.sources.DeltaWrite.expireLog(tbl)
      require(expired.size == 4,
        s"log expiry removed ${expired.size} commits, expected 4")
      // the version counter must survive cleanup: next commit is 4, not 0
      val v = graft.sources.DeltaWrite.append(
        o.filter(col("o_orderkey") % 4 === 3), tbl)
      require(v == 4L, s"post-cleanup append landed at version $v, expected 4")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 8 <> 1
      ORDER BY o_orderkey""")),

    // x21: Delta RESTORE — the metadata-only undo: append evens (v0),
    // OVERWRITE with odds (v1, the "bad write"), restore to v0 (v2: one
    // commit re-adding v0's files and removing v1's — no data file read,
    // written or moved, so restoring a 100 TB table costs one log
    // append). The read after restore must equal v0's content (oracle);
    // the in-query require pins that the bad version STAYS time-
    // travelable — restore preserves history, unlike vacuum.
    QueryDef("x21_delta_restore", (s, d) => {
      val tbl = s"$stage/delta_restored"
      rmTree(tbl)
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaWrite.append(o.filter(col("o_orderkey") % 2 === 0), tbl)
      graft.sources.DeltaWrite.overwrite(o.filter(col("o_orderkey") % 2 === 1), tbl)
      val st = graft.sources.DeltaWrite.restoreTo(s, tbl, 0L)
      require(st.version == 2L && st.filesReAdded > 0 && st.filesRemoved > 0,
        s"restore commit looks wrong: $st")
      // history preserved: the overwritten snapshot is still readable
      val badRows = graft.sources.DeltaLog.read(s, tbl, versionAsOf = Some(1L))
        .count()
      require(badRows > 0, "restore destroyed the bad version's history")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      ORDER BY o_orderkey""")),

    // Schema EVOLUTION across parquet files (the long-lived-table reality:
    // a column added mid-stream): one file written before `o_prio_len`
    // existed, one after, read together with mergeSchema — old rows
    // surface NULL for the new column. The oracle reads the same two
    // files with union_by_name, so the merged schema semantics themselves
    // are hash-checked.
    QueryDef("x12_schema_evolution", (s, d) => {
      val dir = s"$stage/orders_evolved"
      val o = Tables.load(s, d, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$dir/gen=old")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          length(col("o_orderpriority")).cast("long").as("o_prio_len"))
        .write.mode("overwrite").parquet(s"$dir/gen=new")
      s.read.option("mergeSchema", "true").parquet(dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"), col("o_prio_len"))
        .orderBy(col("o_orderkey"))
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        o_prio_len
      FROM read_parquet(['$stage/orders_evolved/gen=old/*.parquet',
                         '$stage/orders_evolved/gen=new/*.parquet'],
                        union_by_name = true)
      ORDER BY o_orderkey""")),

    // NESTED struct scan with field-level pruning: events rewritten with a
    // (event_type, value) struct column, then only ONE leaf selected —
    // ScaleSpec pins that the scan's ReadSchema carries just that leaf
    // (nested schema pruning), the columnar win for deeply-structured
    // 100 TB telemetry. The oracle reads the same nested bytes with
    // DuckDB's struct dot access.
    QueryDef("x13_nested_prune", (s, d) => {
      val dir = s"$stage/events_nested"
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"),
          struct(col("event_type"), col("value")).as("meta"))
        .write.mode("overwrite").parquet(dir)
      Tables.read(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("meta.event_type").as("event_type"))
        .orderBy(col("event_id"))
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        meta.event_type AS event_type
      FROM read_parquet('$stage/events_nested/*.parquet')
      ORDER BY event_id""")),

    QueryDef("x01_csv_scan", (s, d) => {
      val dir = s"$stage/nation_csv"
      Tables.load(s, d, "nation")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      val ctx = new ExecutionContext(s)
      ctx.sql("DROP TABLE IF EXISTS x01_nation")
      ctx.runScript(s"CREATE EXTERNAL TABLE x01_nation STORED AS CSV LOCATION '$dir'")
      ctx.sql(
        """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
          |  CAST(n_regionkey AS BIGINT) AS n_regionkey
          |FROM x01_nation ORDER BY n_nationkey""".stripMargin)
    }, Some(s"""
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM read_csv('$stage/nation_csv/*.csv', header=true)
      ORDER BY n_nationkey""")),

    QueryDef("x02_ndjson_scan", (s, d) => {
      val dir = s"$stage/supplier_json"
      Tables.load(s, d, "supplier")
        .coalesce(1).write.mode("overwrite").json(dir)
      val ctx = new ExecutionContext(s)
      ctx.sql("DROP TABLE IF EXISTS x02_supplier")
      ctx.runScript(s"CREATE EXTERNAL TABLE x02_supplier STORED AS NDJSON LOCATION '$dir'")
      ctx.sql(
        """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
          |  CAST(s_nationkey AS BIGINT) AS s_nationkey,
          |  CAST(s_acctbal AS DOUBLE) AS s_acctbal
          |FROM x02_supplier ORDER BY s_suppkey""".stripMargin)
    }, Some(s"""
      SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        CAST(s_nationkey AS BIGINT) AS s_nationkey,
        CAST(s_acctbal AS DOUBLE) AS s_acctbal
      FROM read_ndjson('$stage/supplier_json/*.json')
      ORDER BY s_suppkey""")),

    // Delta snapshot read (reference DELTATABLE factory,
    // `extensions/deltalake.rs:36-52`, test `extension_cases/deltalake.rs:
    // 23-44`): stage a 2-commit Delta table whose log both adds and REMOVES
    // a file — commit 0 adds files A and C, commit 1 adds B and removes C —
    // then scan it through the DDL path. The oracle reads exactly the two
    // files a correct log replay leaves live; if the reader ever served the
    // removed file (or missed an add), rows and hash both break.
    QueryDef("x03_delta_scan", (s, d) => {
      val dir = s"$stage/nation_delta"
      stageDeltaNation(s, d, dir)
      val ctx = new ExecutionContext(s)
      ctx.runScript(s"CREATE EXTERNAL TABLE x03_nation STORED AS DELTATABLE LOCATION '$dir'")
      ctx.sql(
        """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
          |  CAST(n_regionkey AS BIGINT) AS n_regionkey
          |FROM x03_nation ORDER BY n_nationkey""".stripMargin)
    }, Some(s"""
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM read_parquet(['$stage/nation_delta/data-00000.parquet',
                         '$stage/nation_delta/data-00001.parquet'])
      ORDER BY n_nationkey""")),

    // Time travel: the same Delta log replayed to VERSION 0 — before
    // commit 1 added data-00001 and removed data-00002 — so the snapshot
    // is the OTHER two files. The oracle reads exactly those bytes;
    // passing both x03 and x03b means the reader distinguishes snapshots
    // by log replay, not by whatever files sit in the directory.
    QueryDef("x03b_delta_time_travel", (s, d) => {
      val dir = s"$stage/nation_delta_tt"
      stageDeltaNation(s, d, dir)
      graft.sources.DeltaLog.read(s, dir, versionAsOf = Some(0L))
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }, Some(s"""
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM read_parquet(['$stage/nation_delta_tt/data-00000.parquet',
                         '$stage/nation_delta_tt/data-00002.parquet'])
      ORDER BY n_nationkey""")),

    // Avro round-trip (reference registers Avro in the same db-dir walk as
    // CSV/NDJSON via DataFusion's avro feature): Spark writes orders as
    // Avro container files through the avro-mapred bridge (no spark-avro
    // offline), reads the BYTES back through the `STORED AS AVRO` DDL path,
    // and the oracle computes the same projection from the original parquet
    // — any value corruption in either direction of the Row↔GenericRecord
    // conversion (including the timestamp-micros logical type) breaks the
    // hash.
    QueryDef("x05_avro_scan", (s, d) => {
      val dir = s"$stage/orders_avro"
      // delete via the Hadoop FileSystem (not java.io.File): AvroIO.write
      // has no overwrite mode, and the stage dir override may point at a
      // non-local filesystem where a local-file rm silently no-ops and
      // every re-run dies with FileAlreadyExistsException
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.AvroIO.write(
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate")),
        dir)
      val ctx = new ExecutionContext(s)
      ctx.runScript(s"CREATE EXTERNAL TABLE x05_orders STORED AS AVRO LOCATION '$dir'")
      ctx.sql(
        """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
          |  CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
          |FROM x05_orders ORDER BY o_orderkey""".stripMargin)
    }, Some(s"""
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
      FROM orders ORDER BY o_orderkey""")),

    // Compaction round-trip: fragment events into 32 small files, compact
    // with the AQE-rebalanced rewrite, and scan the COMPACTED output —
    // the oracle reads the same rewritten bytes, so value preservation
    // through the whole rewrite (not just file counts) is hash-checked.
    QueryDef("x04_compacted_scan", (s, d) => {
      val in = s"$stage/events_small"
      val out = s"$stage/events_compacted"
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(32).write.mode("overwrite").parquet(in)
      val res = graft.operators.Compaction.compact(s, in, out,
        targetBytes = 64L * 1024 * 1024)
      require(res.filesAfter < res.filesBefore,
        s"compaction did not reduce files: ${res.filesBefore} -> ${res.filesAfter}")
      Tables.read(s, out)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type
      FROM read_parquet('$stage/events_compacted/*.parquet')
      ORDER BY event_id""")),

    // Cluster-compaction: the data-skipping layout rewrite (range-partition
    // + sort by user_id, so row-group min/max stats prune key scans — the
    // SourcesSpec recordsRead probe proves the skip). The oracle re-reads
    // the CLUSTERED bytes: content must be byte-identical to the input
    // whatever the new layout.
    QueryDef("x06_clustered_scan", (s, d) => {
      val in = s"$stage/events_cluster_in"
      val out = s"$stage/events_clustered"
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(16).write.mode("overwrite").parquet(in)
      val res = graft.operators.Compaction.compactClustered(s, in, out,
        clusterCols = Seq("user_id"), targetBytes = 64L * 1024 * 1024)
      require(res.rows > 0, "clustered compaction lost rows")
      Tables.read(s, out)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type, value
      FROM read_parquet('$stage/events_clustered/*.parquet')
      ORDER BY event_id""")),

    // Z-order compaction: the MULTI-column data-skipping rewrite (Morton
    // curve over (user_id, value); x06 is its 1-D special case). The
    // scan applies a 2-D box predicate to the REWRITTEN bytes and the
    // oracle applies the same box to the same bytes — layout + curve
    // arithmetic must not change content. ScaleSpec/SourcesSpec prove the
    // skip itself with recordsRead on both box dimensions.
    QueryDef("x10_zorder_scan", (s, d) => {
      val in = s"$stage/events_zorder_in"
      val out = s"$stage/events_zordered"
      Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(16).write.mode("overwrite").parquet(in)
      val res = graft.operators.Compaction.compactZOrder(s, in, out,
        zCols = Seq("user_id", "value"), bits = 8,
        targetBytes = 64L * 1024 * 1024)
      require(res.rows > 0, "z-order compaction lost rows")
      Tables.read(s, out)
        .filter(col("user_id").between(100L, 200L) &&
          col("value").between(10.0, 50.0))
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type, value
      FROM read_parquet('$stage/events_zordered/*.parquet')
      WHERE user_id BETWEEN 100 AND 200 AND value BETWEEN 10.0 AND 50.0
      ORDER BY event_id""")),

    // Hive-layout partitioned scan: events written as dt=YYYY-MM-DD
    // directories (how a 100 TB event corpus actually ships) and read back
    // through a partition-column filter that prunes directories at plan
    // time (ScaleSpec's recordsRead probe proves the skip). The oracle
    // reads the same partitioned bytes with DuckDB's hive_partitioning and
    // applies the same predicate — layout + pruning must not change
    // content.
    QueryDef("x08_partitioned_scan", (s, d) => {
      val dir = s"$stage/events_part"
      Tables.load(s, d, "events")
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("dt"))
        .write.mode("overwrite").partitionBy("dt").parquet(dir)
      Tables.read(s, dir)
        .filter(col("dt") >= "2024-01-05" && col("dt") <= "2024-01-10")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value"), col("dt").cast("string").as("dt"))
        .orderBy(col("event_id"))
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type, value,
        CAST(dt AS VARCHAR) AS dt
      FROM read_parquet('$stage/events_part/*/*.parquet',
                        hive_partitioning = true)
      WHERE dt >= '2024-01-05' AND dt <= '2024-01-10'
      ORDER BY event_id""")),

    // Compression-codec round-trip: Spark writes zstd parquet (the codec a
    // 100 TB lake actually stores — ~30% smaller than snappy at similar
    // scan cost) and the oracle reads those exact bytes back with DuckDB's
    // own zstd decoder. The filename suffix requirement pins that the
    // codec option was honored, not silently defaulted.
    QueryDef("x09_zstd_roundtrip", (s, d) => {
      val dir = s"$stage/lineitem_zstd"
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .write.mode("overwrite").option("compression", "zstd").parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(files.nonEmpty && files.forall(_.getName.contains(".zstd.")),
        s"zstd codec not applied: ${files.map(_.getName).mkString(",")}")
      Tables.read(s, dir)
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        CAST(l_linenumber AS BIGINT) AS l_linenumber,
        l_quantity, l_returnflag
      FROM read_parquet('$stage/lineitem_zstd/*.parquet')
      ORDER BY l_orderkey, l_linenumber""")),

    // Bucketed co-located join: both fact and dim are written bucketed on
    // the join key (same bucket count, Spark's Murmur3 bucket hash), so the
    // join reads bucket i against bucket i with NO Exchange on either side
    // — the layout that turns the biggest recurring shuffle of a 100 TB
    // warehouse into a local merge (ScaleSpec pins the no-Exchange plan).
    // The pre-write repartition uses the same hash as the bucket spec, so
    // each bucket lands in exactly one file and the sortBy order survives.
    // The oracle reads the bucketed bytes back: layout must not change
    // content.
    QueryDef("x07_bucketed_join", (s, d) => {
      stageBucketedTables(s, d)
      s.table("x07_customer").join(s.table("x07_orders"),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }, Some(s"""
      SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price
      FROM read_parquet('$stage/x07_customer/*.parquet') c
      JOIN read_parquet('$stage/x07_orders/*.parquet') o
        ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""))
  )

  /** Write customer and orders as parquet tables bucketed (and sorted) on
    * their join key — 8 buckets each side — registered in the session
    * catalog with external data at the staging dir.
    */
  private[graft] def stageBucketedTables(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    s.sql("DROP TABLE IF EXISTS x07_customer")
    s.sql("DROP TABLE IF EXISTS x07_orders")
    Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(8, col("c_custkey"))
      .write.mode("overwrite").option("path", s"$stage/x07_customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .format("parquet").saveAsTable("x07_customer")
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").option("path", s"$stage/x07_orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .format("parquet").saveAsTable("x07_orders")
  }

  /** Deterministic Delta table from the nation parquet: three data files,
    * two commits, one remove action. Rebuilt from scratch on every call so
    * the staged table never drifts from the inputs.
    */
  private def stageDeltaNation(s: org.apache.spark.sql.SparkSession,
      d: String, dir: String): Unit = {
    import java.io.File
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, StandardCopyOption}

    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    val root = new File(dir)
    rm(root)
    val logDir = new File(root, "_delta_log")
    require(logDir.mkdirs(), s"cannot create $logDir")

    val nation = Tables.load(s, d, "nation")
    def writeData(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = new File(root, s"_stage_$name")
      nation.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      Files.move(part.toPath, new File(root, name).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      rm(tmp)
    }
    writeData(col("n_nationkey") < 10, "data-00000.parquet")
    writeData(col("n_nationkey") >= 10 && col("n_nationkey") < 20, "data-00001.parquet")
    writeData(col("n_nationkey") >= 20, "data-00002.parquet")

    def add(p: String) =
      s"""{"add":{"path":"$p","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""
    def remove(p: String) =
      s"""{"remove":{"path":"$p","deletionTimestamp":0,"dataChange":true}}"""
    def writeCommit(version: Long, lines: Seq[String]): Unit =
      Files.write(new File(logDir, f"$version%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    writeCommit(0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"x03-nation","format":{"provider":"parquet","options":{}},"partitionColumns":[]}}""",
      add("data-00000.parquet"),
      add("data-00002.parquet")))
    writeCommit(1, Seq(
      add("data-00001.parquet"),
      remove("data-00002.parquet")))
  }
}
