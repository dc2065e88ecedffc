package graft.exec

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one measurement capture behind `graft.Bench`, `graft.PerfProbe`,
  * `graft.Soak` and the CLI's `--bench` (reference `local_benchmarks.rs`
  * phase stats): time a phase of a query — building the DataFrame,
  * planning it, executing it — and report what that phase cost.
  *
  * [[QueryProfile.jvm]] reads only this JVM's counters (wall, process CPU,
  * JIT, GC, codegen compilations) and registers nothing with Spark, so a
  * graded run measures exactly what it did before. A `QueryProfile`
  * instance also listens on its session and attributes to the phase the
  * Spark jobs it started, their completed stages, tasks and executor run
  * time. A phase tags its
  * jobs with the local property [[QueryProfile.PhaseProperty]] on the
  * measuring thread, so phases measured concurrently on other threads
  * never count each other's jobs.
  */
final class QueryProfile(spark: SparkSession) extends AutoCloseable {
  import QueryProfile._

  private val sc = spark.sparkContext
  private final class Acc {
    val jobs = new ConcurrentLinkedQueue[Job]
    val stages = new ConcurrentLinkedQueue[Stage]
  }
  private val open = new ConcurrentHashMap[String, Acc]
  private val stageOwner = new ConcurrentHashMap[Int, Acc]

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(PhaseProperty)))
        .flatMap(t => Option(open.get(t))).foreach { acc =>
          val result = j.stageInfos.lastOption
          acc.jobs.add(Job(j.jobId, j.stageIds.length,
            result.fold("?")(_.name.takeWhile(_ != '\n')),
            result.fold("")(_.details)))
          j.stageIds.foreach(stageOwner.put(_, acc))
        }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val si = s.stageInfo
      Option(stageOwner.remove(si.stageId)).foreach { acc =>
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        acc.stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'),
          si.details, wall, si.taskMetrics.executorRunTime,
          si.taskMetrics.jvmGCTime, si.numTasks))
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as one phase on this thread; its jobs are the ones the
    * thread started while `body` ran. Waits for the session's listener
    * events to be delivered after the timed region, so the stages of
    * those jobs are complete in the result.
    */
  def phase[A](body: => A): (Phase, A) = {
    val tag = nextTag.incrementAndGet().toString
    val acc = new Acc
    open.put(tag, acc)
    val outer = sc.getLocalProperty(PhaseProperty)
    sc.setLocalProperty(PhaseProperty, tag)
    try {
      val (p, a) = jvm(body)
      drainListenerBus(spark)
      (p.copy(jobs = acc.jobs.asScala.toSeq.sortBy(_.id),
        stages = acc.stages.asScala.toSeq.sortBy(_.id)), a)
    } finally {
      sc.setLocalProperty(PhaseProperty, outer)
      open.remove(tag)
      // stages of this phase's jobs that were skipped never complete
      stageOwner.values.removeIf(_ eq acc)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object QueryProfile {

  /** Spark local property that tags a job with the phase that started it. */
  val PhaseProperty = "graft.profile.phase"
  private val nextTag = new AtomicLong

  /** A job started inside a phase; `name`/`details` are its result
    * stage's call site (short form, then the stack it was created from).
    */
  final case class Job(id: Int, stages: Int, name: String, details: String)

  final case class Stage(id: Int, name: String, details: String,
      wallMs: Long, runMs: Long, gcMs: Long, tasks: Int)

  /** What one phase cost. CPU is the whole process's, and so are
    * `compiles`, the Janino compilations of generated code started while
    * the phase ran (a statement whose class is already cached counts 0);
    * `jobs` and `stages` are empty when the phase was measured by JVM
    * counters only.
    */
  final case class Phase(wallNanos: Long, cpuNanos: Long, jitMs: Long,
      gcMs: Long, compiles: Long, jobs: Seq[Job] = Nil, stages: Seq[Stage] = Nil) {
    def secs: Double = wallNanos / 1e9
    def ms: Double = wallNanos / 1e6
    def cpuSecs: Double = cpuNanos / 1e9
    def tasks: Int = stages.map(_.tasks).sum
    def taskRunMs: Long = stages.map(_.runMs).sum
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def jitTotalMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcTotalMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Janino compilations in this JVM so far: Spark's codegen metric,
    * which counts every compile and no cache hit.
    */
  private def compilesTotal(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time `body` by this JVM's counters alone: wall, process CPU, JIT, GC
    * and codegen compilations. Registers nothing with Spark.
    */
  def jvm[A](body: => A): (Phase, A) = {
    val cpu0 = os.getProcessCpuTime
    val jit0 = jitTotalMs()
    val gc0 = gcTotalMs()
    val compiles0 = compilesTotal()
    val t0 = System.nanoTime()
    val a = body
    val wall = System.nanoTime() - t0
    (Phase(wall, os.getProcessCpuTime - cpu0, jitTotalMs() - jit0,
      gcTotalMs() - gc0, compilesTotal() - compiles0), a)
  }

  /** Block until the session's listener bus has delivered every event
    * posted so far. `listenerBus` is private[spark] (public in bytecode),
    * so the call goes through reflection; if that surface moves, fall
    * back to a short sleep.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(300) }
}
