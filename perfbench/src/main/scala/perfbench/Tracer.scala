package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds. `parent` and `op`
  * are 0 when the recorder cannot know them (listener events arrive on
  * Spark's bus thread); the report attributes those spans by time on the
  * serial workloads and by `tag` (the serving protocol) on `serve_sql`.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long, tag: String, attrs: Map[String, Double])

/** In-memory span store for the traced run, plus the Spark listeners that
  * turn jobs and query-planning phases into spans. Nothing is written
  * until [[spans]] is read at the end of the run.
  */
final class Tracer {
  private val store = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  // epoch-aligned monotonic clock: nanoTime plus a fixed offset
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowUs: Long = (System.nanoTime() + offsetNs) / 1000L
  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, start: Long, end: Long, parent: Long = 0L, op: Long = 0L,
      tag: String = "", attrs: Map[String, Double] = Map.empty,
      id: Long = nextId()): Long = {
    store.add(Span(id, name, start, end, parent, op, tag, attrs))
    id
  }

  /** Time `body` as a span; returns its result. */
  def timed[T](name: String, parent: Long = 0L, op: Long = 0L, tag: String = "")(
      body: Long => T): T = {
    val id = nextId()
    val t0 = nowUs
    try body(id) finally add(name, t0, nowUs, parent, op, tag, id = id)
  }

  def spans: Seq[Span] = store.asScala.toSeq

  // ---- Spark listeners ---------------------------------------------------

  private final class StageAcc {
    var submitted = 0L
    var tasks = 0L
    var taskMs = 0L
    var waitMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var failed = 0L
  }

  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  private val execCallSites = new ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a SQL job carries its execution's call site; others their stages'
      val execSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execCallSites.get(id.toLong)))
      val site = (execSite.toSeq ++ e.stageInfos.map(s => s.name + "\n" + s.details)).mkString("\n")
      e.stageIds.foreach(id => stages.putIfAbsent(id, new StageAcc))
      jobs.put(e.jobId, (e.time, e.stageIds, site))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val acc = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      val m = e.taskMetrics
      acc.synchronized {
        acc.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) acc.failed += 1
        if (acc.submitted > 0) acc.waitMs += math.max(0L, e.taskInfo.launchTime - acc.submitted)
        if (m != null) {
          acc.taskMs += m.executorRunTime
          acc.inputBytes += m.inputMetrics.bytesRead
          acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          acc.spillBytes += m.diskBytesSpilled
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach {
      case (start, stageIds, site) =>
        val accs = stageIds.flatMap(id => Option(stages.remove(id)))
        def sum(f: StageAcc => Long): Double = accs.map(a => a.synchronized(f(a))).sum.toDouble
        add("spark.job", start * 1000L, e.time * 1000L, tag = Tracer.protocol(site),
          attrs = Map(
            "stages" -> accs.count(_.tasks > 0).toDouble,
            "tasks" -> sum(_.tasks),
            "task_ms" -> sum(_.taskMs),
            "task_wait_ms" -> sum(_.waitMs),
            "input_bytes" -> sum(_.inputBytes),
            "shuffle_bytes" -> sum(_.shuffleBytes),
            "spill_bytes" -> sum(_.spillBytes),
            "failed_tasks" -> sum(_.failed),
            "read" -> (if (Tracer.isParquetRead(site)) 1.0 else 0.0)))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execCallSites.put(s.executionId, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        val tag = Option(execCallSites.remove(s.executionId)).map(Tracer.protocol).getOrElse("")
        pending.foreach { case (name, start, end) => add(name, start, end, tag = tag) }
        pending = Nil
      case _ =>
    }
  }

  // Phases of the execution whose end event is being delivered. Spark
  // calls query execution listeners from that same event, on the same
  // shared listener queue, and [[install]] registers them first, so the
  // plan listener always runs just before `onOtherEvent` above sees the
  // end event and can tag the phases with the execution's call site.
  @volatile private var pending: Seq[(String, Long, Long)] = Nil

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pending = phases(qe)
  }

  /** One span per planning phase of an executed query, plus a zero-length
    * `spark.plan` marker that counts executed plans.
    */
  private def phases(qe: QueryExecution): Seq[(String, Long, Long)] = {
    val ph = qe.tracker.phases
    val spans = Seq("analysis", "optimization", "planning").flatMap { p =>
      ph.get(p).map(s => (s"spark.$p", s.startTimeMs * 1000L, s.endTimeMs * 1000L))
    }
    if (ph.isEmpty) spans
    else {
      val t = ph.values.map(_.startTimeMs).min * 1000L
      spans :+ (("spark.plan", t, t))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  /** The serving protocol whose code is on a call site or stack; work the
    * request log does for itself is the `tables` layer's, not the server's.
    */
  def protocol(site: String): String =
    if (site.contains("graft.tables.Observability")) "tables"
    else if (site.contains("graft.server.HttpServer")) "http"
    else if (site.contains("graft.server.flight.FlightSqlServer")) "flight"
    else ""

  def isParquetRead(site: String): Boolean = site.linesIterator.exists(_.startsWith("parquet at "))

  /** The serving protocol of the calling thread, from its stack. */
  def callerProtocol(): String = {
    val frames = StackWalker.getInstance().walk(s =>
      s.map[String](_.getClassName).filter(_.startsWith("graft.server"))
        .collect(java.util.stream.Collectors.joining("\n")))
    protocol(frames)
  }
}
