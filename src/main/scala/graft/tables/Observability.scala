package graft.tables

import java.lang.ref.WeakReference
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicLong, AtomicReference, AtomicReferenceArray}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._

import graft.server.PrometheusText

/** Observability requests table (reference
  * `crates/datafusion-app/src/observability/mod.rs:42-158`): one row appended
  * per executed request. Schema mirrors the reference with unsigned types
  * widened (UInt64 rows -> LongType, UInt16 status -> IntegerType).
  *
  * Recording is O(1) and lock-free: the row takes one slot of a fixed ring
  * of the last [[Observability.Capacity]] requests, and the `/metrics`
  * counters are bumped. No Spark plan is built; the table's scan copies
  * the ring when a query over it is planned.
  */
class Observability(spark: SparkSession) {
  import Observability._

  private val ring = new Ring

  /** Running `/metrics` counters: cumulative over every request recorded,
    * including those the ring has since dropped.
    */
  val counters = new PrometheusText.Counters

  private val relation = new RingRelation(spark.sqlContext, ring)
  private val self = new WeakReference(this)
  private val sessionRecorder = recorderOf(spark)

  def record(requestId: Option[String], path: String, sql: Option[String],
      timestamp: Timestamp, durationMs: Long, rows: Option[Long],
      status: Int): Unit = {
    ring.add(Row(requestId.orNull, path, sql.orNull, timestamp, durationMs,
      rows.map(Long.box).orNull, status))
    counters.add(path, status, durationMs, rows)
    // every observed request also lands in the TUI's log ring
    graft.core.LogRing.add(
      s"$path status=$status ${durationMs}ms" +
        sql.map(q => s" :: ${q.replace('\n', ' ').take(80)}").getOrElse(""))
    if (sessionRecorder.get ne self) register()
  }

  /** The live table: each query over it reads the ring as of its planning. */
  def toDF: DataFrame = spark.baseRelationToDataFrame(relation)

  /** Snapshot of the recorded rows, oldest first (driver-side; the same
    * bounded ring the temp view serves).
    */
  def records: Seq[Row] = ring.snapshot

  /** Expose as `observability_requests` (Spark temp views are single-level;
    * the reference name is `dft.observability.requests`) and make this the
    * session's recorder. The view serves the context that recorded last, so
    * [[record]] calls this only when another context recorded in between.
    */
  def register(): Unit = sessionRecorder.synchronized {
    toDF.createOrReplaceTempView("observability_requests")
    sessionRecorder.set(self)
  }

  /** Route streaming micro-batches into the same spine (round-7 directive:
    * the reference records per-request rows from every frontend, and the
    * streaming queries otherwise bypass observability): one row per
    * micro-batch — request_id `<queryId>#<batchId>`, path
    * `stream:<queryName>`, rows = the batch's input rows, duration = the
    * trigger's execution wall. Opt-in (call once per session owner, e.g.
    * the TUI): the listener sees every streaming query of the session, so
    * an always-on listener per context would record each batch once per
    * context and hand the shared temp view to whichever context heard it
    * last. Returns the listener for detach.
    */
  def attachStreaming(): org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        graft.core.LogRing.add(
          s"stream ${Option(e.name).getOrElse(e.id.toString)} started")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        record(
          Some(s"${p.id}#${p.batchId}"),
          s"stream:${Option(p.name).getOrElse("unnamed")}",
          None,
          new Timestamp(java.time.Instant.parse(p.timestamp).toEpochMilli),
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(-1L),
          Some(p.numInputRows),
          200)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        graft.core.LogRing.add(s"stream ${e.id} terminated" +
          e.exception.map(x => s" with error: ${x.take(80)}").getOrElse(""))
    }
    spark.streams.addListener(l)
    l
  }
}

object Observability {
  /** Rows the request log keeps; older rows are dropped. */
  val Capacity = 10000

  val schema: StructType = StructType(Seq(
    StructField("request_id", StringType, nullable = true),
    StructField("path", StringType, nullable = false),
    StructField("sql", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("status", IntegerType, nullable = false)))

  private final class Slot(val seq: Long, val row: Row)

  /** The last [[Capacity]] rows. A writer claims a sequence number and
    * writes the one slot it maps to; a reader keeps each slot whose row
    * carries the sequence number the reader expects there, so a claimed but
    * unwritten slot, or one already overwritten, is skipped.
    */
  private final class Ring {
    private val slots = new AtomicReferenceArray[Slot](Capacity)
    private val next = new AtomicLong

    def add(row: Row): Unit = {
      val seq = next.getAndIncrement()
      // a writer stalled for a whole lap must not overwrite a newer row
      slots.accumulateAndGet((seq % Capacity).toInt, new Slot(seq, row),
        (old, slot) => if (old != null && old.seq > seq) old else slot)
    }

    def snapshot: Vector[Row] = {
      val hi = next.get
      (math.max(0L, hi - Capacity) until hi).iterator.flatMap { seq =>
        val s = slots.get((seq % Capacity).toInt)
        if (s != null && s.seq == seq) Some(s.row) else None
      }.toVector
    }
  }

  /** Scan over a ring. Holds the ring, not its context, so the temp view
    * pins no dropped context.
    */
  private final class RingRelation(override val sqlContext: SQLContext,
      ring: Ring) extends BaseRelation with TableScan {
    override def schema: StructType = Observability.schema
    override def buildScan(): RDD[Row] =
      sqlContext.sparkContext.parallelize(ring.snapshot, 1)
  }

  // per session, the context whose ring `observability_requests` serves;
  // weak both ways, so neither a dropped session nor a dropped context is
  // pinned
  private val recorders = new java.util.WeakHashMap[SparkSession,
    AtomicReference[WeakReference[Observability]]]

  private def recorderOf(spark: SparkSession) = recorders.synchronized {
    recorders.computeIfAbsent(spark,
      _ => new AtomicReference[WeakReference[Observability]]())
  }
}
