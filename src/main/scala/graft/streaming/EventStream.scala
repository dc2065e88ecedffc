package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Tables

/** Structured Streaming over the events table. The reference is batch-only
  * (SURVEY §2.10) — this extends the engine for stream-shaped workloads the
  * testdata models: watermarked tumbling-window aggregation with late-data
  * tolerance, runnable over a growing parquet directory.
  */
object EventStream {

  /** Streaming source over a directory of event parquet files, read with
    * the files' own footer schema (`Tables.schema`) and normalized to a
    * TimestampType `ts` whatever the physical encoding (see
    * `Tables.normalizeEventTs`).
    * `maxFilesPerTrigger` = None reads everything in one micro-batch —
    * the mode dedup-parity checks use, where cross-trigger watermark
    * advancement would drop late duplicates instead of deduplicating
    * them.
    */
  def source(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = Some(4)): DataFrame = {
    val r = spark.readStream.schema(Tables.schema(spark, dir))
    maxFilesPerTrigger.foreach(m => r.option("maxFilesPerTrigger", m.toString))
    Tables.normalizeEventTs(r.parquet(dir))
  }

  /** Append one synthetic event to a staged events directory IN THE
    * DIRECTORY'S OWN ts encoding. A streaming source's schema is fixed at
    * start, so a watermark-heartbeat row written in a different physical
    * encoding than the staged files would either fail the read or—worse—
    * be silently misinterpreted. Branching on the probed schema keeps the
    * directory homogeneous under every encoding the table has shipped as.
    */
  def appendSyntheticEvent(spark: SparkSession, dir: String, eventId: Long,
      ts: java.time.Instant, userId: Long, eventType: String,
      value: Double, props: String): Unit = {
    val schema = Tables.schema(spark, dir)
    val micros = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
    val tsCol = schema("ts").dataType match {
      case LongType => lit(micros * 1000L) // nanos-as-long
      case TimestampType => timestamp_micros(lit(micros))
      case TimestampNTZType =>
        timestamp_micros(lit(micros)).cast(TimestampNTZType)
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other")
    }
    spark.range(1).select(
        lit(eventId).as("event_id"), tsCol.as("ts"),
        lit(userId).as("user_id"), lit(eventType).as("event_type"),
        lit(value).as("value"), lit(props).as("props"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.mode("append").parquet(dir)
  }

  /** Stage the three-batch WATERMARK fixture: the full events table as an
    * on-time file, the same events shifted 6 hours INTO THE PAST as a
    * late file, and one far-future heartbeat row. All three are fully
    * written into a holding area up front; the returned ARRIVAL actions
    * each move the next file atomically into `dir`, so the caller
    * controls exactly when the stream can discover it.
    *
    * The stagger matters, not just the order: a watermark advance only
    * takes effect from the batch AFTER the one that observed the data
    * (Spark commits the update at the batch boundary, surfacing it via a
    * zero-data micro-batch) — so a pre-staged backlog drained
    * oldest-first would process the late file while the watermark was
    * still at its pre-on-time value and drop NOTHING (observed, not
    * hypothetical). Arriving each file after the previous
    * `processAllAvailable` gives the semantics a real pipeline sees:
    * the on-time batch sets the watermark, every late row lands with its
    * window expired and is DROPPED, and the heartbeat closes all on-time
    * windows so append mode flushes exactly them (its own never-closed
    * window held back). The emitted result is then the batch hourly
    * aggregate of the ON-TIME file alone — late-drop semantics become
    * oracle-checkable instead of spec-trust.
    */
  def stageLateDataFixture(spark: SparkSession, sfDir: String,
      dir: String): Seq[() => Unit] = {
    val ev = Tables.loadEvents(spark, sfDir)
    val root = new java.io.File(dir)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(root); root.mkdirs()
    val hold = new java.io.File(root, ".holding")
    hold.mkdirs()
    def onePart(df: org.apache.spark.sql.DataFrame,
        name: String): () => Unit = {
      val tmp = new java.io.File(hold, s".stage_$name")
      df.repartition(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).head
      val held = new java.io.File(hold, name)
      java.nio.file.Files.move(part.toPath, held.toPath)
      rm(tmp)
      () => {
        java.nio.file.Files.move(held.toPath,
          new java.io.File(root, name).toPath)
        ()
      }
    }
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val hbTs = java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(6L * 3600))
    Seq(
      onePart(ev, "a_ontime.parquet"),
      onePart(ev.withColumn("ts", col("ts") - expr("INTERVAL 6 HOURS"))
        .withColumn("event_id", col("event_id") + 1000000L),
        "b_late.parquet"),
      onePart(ev.limit(1)
        .withColumn("ts", lit(hbTs))
        .withColumn("event_id", lit(9999999L))
        .withColumn("event_type", lit("heartbeat")), "c_heartbeat.parquet"))
  }

  /** Stream-stream interval join: each left (probe) row pairs with every
    * right (build) row for the same key whose event time falls in
    * `[probe.ts - windowMinutes, probe.ts]` — the attribution-window shape
    * (all views in the hour before a purchase), and the canonical
    * Structured Streaming stream-stream join: BOTH sides are watermarked
    * and the range condition bounds how long either side's rows are
    * state — Spark evicts a build row once the watermark passes
    * `ts + windowMinutes` (it can no longer match any future probe), so
    * state is windowMinutes × arrival-rate regardless of stream length.
    * Contrast [[graft.operators.AsofJoin]]: that is latest-ONE-match
    * point-in-time batch semantics; this is ALL-matches-in-window and
    * runs incrementally.
    *
    * The right side's columns must be pre-renamed by the caller (only the
    * join key and `rightTs` are referenced here) so the joined frame has
    * no ambiguous names.
    *
    * `joinType` "left_outer" adds the unmatched-probe rows (null right
    * payload) — Spark emits an outer result only once the watermark
    * proves no future build row can match (the same eviction bound that
    * keeps state finite decides outer emission), so a drained-directory
    * run needs a watermark push past every probe's window before the
    * outer rows appear.
    */
  def intervalJoin(probe: DataFrame, build: DataFrame, key: String,
      rightKey: String, rightTs: String, windowMinutes: Int,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame =
    probe.withWatermark("ts", watermark)
      .join(build.withWatermark(rightTs, watermark),
        col(key) === col(rightKey) &&
          col(rightTs) >= col("ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col(rightTs) <= col("ts"),
        joinType)

  /** Watermarked hourly windowed aggregation per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window rollup: 1-hour windows advancing every 15 minutes, so
    * each event lands in exactly 4 overlapping windows — the trailing-hour
    * trend view a monitoring surface reads. Same decimal-exact aggregates
    * as [[hourlyAgg]]; window starts stay slide-aligned to the epoch, so a
    * batch replay can reconstruct them with integer arithmetic.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-window top-k over a drained windowed aggregate (the streaming
    * TRENDING-NOW surface): rank event types inside each window by count
    * (ties broken by name, so results are engine-exact) and keep the top
    * `k`. Streaming aggregation can't host a rank window itself (window
    * functions aren't supported on streaming frames in complete mode), so
    * the canonical pattern is exactly this split: the UNBOUNDED work — the
    * per-window counting over the event firehose — runs incrementally
    * with watermarked state, and the rank runs as a batch post-pass over
    * the sink's window×type aggregate, a relation that is SMALL by
    * construction (windows × distinct types, independent of event
    * volume). At 100 TB of events the sink table is still a few thousand
    * rows; the post-pass is one partition-local window.
    */
  def topKPerWindow(agg: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Run the hourly aggregation into an in-memory sink until the directory
    * is drained; returns the finished query (results under `queryName`).
    */
  def runToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery = {
    val q = hourlyAgg(source(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q
  }

  /** Batch-equivalent of [[hourlyAgg]] for result parity checks. */
  def hourlyAggBatch(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables.normalizeEventTs(Tables.read(spark, dir)))

  /** Ordered funnel analysis: for each user, the first time each stage
    * completed STRICTLY AFTER the previous stage (a later view doesn't
    * retroactively count an earlier click), and the furthest stage
    * reached. The per-stage first-completion times are conditional MIN
    * windows over the same user partitioning — Catalyst plans ONE
    * exchange (no per-user sort needed for unordered MIN), and the
    * stage-N condition reads stage N-1's column, so the whole cascade
    * stays in a single pass over the events.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val withT = stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val cond =
        if (i == 0) col("event_type") === stage
        else col("event_type") === stage && col("ts") > col(s"t${i - 1}")
      df.withColumn(s"t$i", min(when(cond, col("ts"))).over(w))
    }
    // ascending fold leaves the HIGHEST completed stage as the outermost
    // branch: when(t_{n-1} set, n) .otherwise(when(t_{n-2} set, n-1) ...)
    val stageExpr = stages.indices.foldLeft(lit(0L)) { (acc, i) =>
      when(col(s"t$i").isNotNull, lit(i + 1L)).otherwise(acc)
    }
    withT.groupBy(col("user_id"))
      .agg(first(stageExpr).as("funnel_stage"),
        stages.indices.map(i => first(col(s"t$i")).as(s"t$i")): _*)
      .select(col("user_id") +: col("funnel_stage") +:
        stages.indices.map(i => col(s"t$i")): _*)
  }

  /** Streaming exact deduplication on event_id, with state bounded by the
    * event-time watermark (`dropDuplicatesWithinWatermark`): duplicates
    * arriving within the tolerance window are dropped, and the dedup
    * state for ids older than the watermark is evicted — the property
    * that makes streaming dedup runnable forever, unlike an unbounded
    * `dropDuplicates`. The streaming counterpart of the batch exact-dedup
    * operator (Dedup.exact).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  // -------------------------------------------------------------------
  // Stateful sessionization: custom per-key state via
  // flatMapGroupsWithState — the Spark primitive for session semantics a
  // windowed aggregation can't express (gap-based sessions close when the
  // event-time watermark passes lastSeen + gap, regardless of wall time).

  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long)

  /** Gap-closed sessions per user over a streaming event frame. Emits one
    * row per closed session; state is dropped on event-time timeout, so
    * memory is bounded by the number of OPEN sessions, not history.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column itself — deriving a new column and
      // dropping ts would strip the watermark the event-time timeout needs
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rowsTs: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          val rows = rowsTs.map { case (u, t) => (u, t.getTime) }
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.lastSeen, s.nEvents))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start, s.lastSeen, s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap after the last
              // event — but never set a timeout at/behind the current
              // watermark: flatMapGroupsWithState does not drop late rows
              // for us, and EventTimeTimeout throws on a stale timestamp,
              // which would crash the whole streaming query. A session fed
              // only by late-but-tolerated events times out on the next
              // watermark advance instead.
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.lastSeen + gapMs, wm + 1))
            }
            closed.reverseIterator
          }
      }
  }

  final case class CdcState(ts: Long, eventId: Long, eventType: String,
      value: Double)
  final case class CdcChange(user_id: Long, ts: Long, event_id: Long,
      event_type: String, value: Double)

  /** CDC-style MATERIALIZED LATEST-PER-KEY over the event stream: per
    * user, track the newest event (by event time, event_id breaking ts
    * ties so the winner is engine-exact) and emit a CHANGE row each time
    * the winner advances — the changelog a downstream table materializes
    * by upserting on user_id, i.e. the streaming half of a CDC pipeline
    * (Debezium-shaped: the last change per key IS the current row).
    *
    * State per key is ONE fixed-size record regardless of history, so
    * memory is bounded by the live key population — the same posture as
    * [[funnelStream]], and the optional `idleTtlMinutes` event-time
    * timeout evicts keys idle past the horizon for unbounded-key
    * deployments (an evicted key's next IN-HORIZON event re-emits
    * unconditionally, which an upsert sink absorbs idempotently).
    *
    * Within a batch, rows apply in (ts, event_id) order; across batches
    * application is monotone (an older row can never displace a newer
    * winner), so out-of-order arrival costs at most suppressed
    * intermediate changes — never a wrong final state. The TTL path
    * needs one extra guard to keep that claim: after a key's state is
    * evicted, a late OUT-OF-HORIZON event (older than the current
    * watermark — flatMapGroupsWithState does not drop late rows itself)
    * would re-install as a fresh winner and regress the downstream upsert
    * to stale data. So when TTL is enabled and a key has NO state, rows
    * at or behind the watermark are discarded instead of installed:
    * combined with eviction requiring `winner.ts + ttl < watermark`, any
    * event old enough to regress an evicted key is by construction behind
    * the watermark, so the final state stays correct for every TTL ≥ 0
    * (keys WITH live state still accept sub-watermark rows — the monotone
    * (ts, event_id) rule already makes those safe).
    *
    * The guard cannot distinguish an evicted key from a NEVER-SEEN one
    * (no tombstone is kept — that would defeat the TTL's point of
    * bounding state), so with TTL enabled a genuinely new key whose
    * FIRST event arrives at or behind the watermark is also discarded
    * rather than installed. That is standard late-data semantics (the
    * same event aimed at a windowed aggregate would be dropped by the
    * watermark itself), but it IS a behavioral difference from the
    * no-TTL mode, which installs first events of any age: deployments
    * that need first-event fidelity for arbitrarily late keys should
    * run without `idleTtlMinutes` and bound state another way.
    */
  def latestPerKey(events: DataFrame,
      idleTtlMinutes: Option[Int] = None): Dataset[CdcChange] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ttlMs = idleTtlMinutes.map(_ * 60L * 1000L)
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CdcState, CdcChange](
        OutputMode.Append(), timeoutConf) {
        (user: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, String, Double)],
            state: GroupState[CdcState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val all = rows.map { case (_, t, id, et, v) =>
              (t.getTime, id, et, v)
            }.toSeq.sortBy(r => (r._1, r._2))
            // TTL regression guard (see scaladoc): a key with no live
            // state must not be re-installed by an event the watermark
            // has already passed — it may be the ghost of an evicted,
            // NEWER winner. Keys with state keep the plain monotone rule.
            val sorted =
              if (ttlMs.isDefined && state.getOption.isEmpty) {
                val wm = state.getCurrentWatermarkMs()
                all.filter(_._1 > wm)
              } else all
            var cur = state.getOption
            val changes = List.newBuilder[CdcChange]
            sorted.foreach { case (ms, id, et, v) =>
              val newer = cur.forall(s =>
                ms > s.ts || (ms == s.ts && id > s.eventId))
              if (newer) {
                cur = Some(CdcState(ms, id, et, v))
                changes += CdcChange(user, ms, id, et, v)
              }
            }
            cur.foreach { s =>
              state.update(s)
              ttlMs.foreach { ttl =>
                // same stale-timestamp guard as sessionize/funnelStream
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(s.ts + ttl, wm + 1))
              }
            }
            changes.result().iterator
          }
      }
  }

  final case class FunnelProgress(stage: Int, stageTs: Long)
  final case class FunnelAdvance(user_id: Long, funnel_stage: Long, ts: Long)

  /** Streaming counterpart of [[funnel]]: per-user stage progression with
    * the same strictly-after rule, emitting one row per stage ADVANCE as
    * it happens (the batch form reports the final standing; a stream
    * reports transitions). State per user is two numbers — current stage
    * and its completion time — regardless of history length.
    *
    * State lifetime: by default no timeout is set (funnel state is
    * meaningful for the user's whole lifetime, and the no-TTL form is the
    * batch-parity one), so state grows with the TOTAL user population.
    * For a 100 TB / unbounded-user deployment pass `idleTtlMinutes`: an
    * event-time timeout evicts users idle (no events at all, funnel or
    * otherwise) past the horizon, bounding state by ACTIVE users — a
    * re-entering evicted user starts from stage 0, the standard tradeoff
    * of TTL'd funnel state.
    *
    * Within a micro-batch, events are applied in event-time order;
    * ACROSS batches, an event older than the recorded stage time cannot
    * regress the stage (the strictly-after rule makes application
    * monotone), so out-of-order arrival across batches costs at most a
    * missed advance that a truly-ordered replay would also have missed.
    */
  def funnelStream(events: DataFrame, stages: Seq[String],
      idleTtlMinutes: Option[Int] = None): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stageOf = stages.zipWithIndex.toMap
    val ttlMs = idleTtlMinutes.map(_ * 60L * 1000L)
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), col("event_type"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelProgress, FunnelAdvance](
        OutputMode.Append(), timeoutConf) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            // idle past the TTL horizon: evict. Nothing to emit — the
            // funnel reports advances, and eviction is not one.
            state.remove()
            Iterator.empty
          } else {
            // ANY event counts as activity for the idle clock, not just
            // funnel-stage events — a user browsing without converting is
            // active, not evictable
            var lastActivity = Long.MinValue
            val relevant = rows
              .map { case (_, et, t) =>
                val ms = t.getTime
                if (ms > lastActivity) lastActivity = ms
                (et, ms)
              }
              .collect { case (et, ms) if stageOf.contains(et) =>
                (stageOf(et), ms) }
              .toSeq.sortBy(_._2)
            var cur = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue))
            val advances = List.newBuilder[FunnelAdvance]
            relevant.foreach { case (stageIdx, t) =>
              if (stageIdx == cur.stage && t > cur.stageTs) {
                cur = FunnelProgress(cur.stage + 1, t)
                advances += FunnelAdvance(user, cur.stage.toLong, t)
              }
            }
            if (cur.stage > 0) {
              state.update(cur)
              ttlMs.foreach { ttl =>
                // never set a timeout at/behind the current watermark —
                // EventTimeTimeout throws on a stale timestamp (same guard
                // as sessionize)
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(lastActivity + ttl, wm + 1))
              }
            }
            advances.result().iterator
          }
      }
  }
}
