package graft.exec

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext => EC, Future}
import scala.concurrent.duration.Duration

import graft.exec.QueryProfile.Phase

/** `--bench` instrumentation (reference `local.rs:365-504`,
  * `local_benchmarks.rs:76-214`): N iterations (default 10), serial or
  * concurrent (`min(iterations, cores)` workers), per-phase duration stats
  * (min/max/mean/median/percent-of-total), row-count consistency check, and
  * CSV export matching the reference's header shape.
  *
  * Phase mapping on Spark's lazy QueryExecution (SURVEY §7.4):
  *   logical planning  = parse + analyze + optimize (`df.queryExecution.optimizedPlan`)
  *   physical planning = `executedPlan`
  *   execution         = action (collect-to-count via noop materialization)
  */
object BenchmarkRunner {

  /** Duration stats of one phase in ms, plus the mean count per run of
    * Spark jobs started and of generated classes compiled in it (neither is
    * part of the reference's CSV).
    */
  final case class PhaseStats(min: Double, max: Double, mean: Double,
      median: Double, percentOfTotal: Double, jobs: Double, compiles: Double) {
    def csvFields: String = f"$min%.3f,$max%.3f,$mean%.3f,$median%.3f,$percentOfTotal%.1f"
  }

  final case class BenchResult(query: String, runs: Int, mode: String,
      logical: PhaseStats, physical: PhaseStats, execution: PhaseStats,
      total: PhaseStats, rowCounts: Seq[Long]) {
    def rowCountsConsistent: Boolean = rowCounts.distinct.size <= 1

    /** CSV row; header shape mirrors the reference
      * (`src/cli/mod.rs:59-60`). The statement is quoted as RFC 4180 does
      * when it holds a comma, a quote or a line break.
      */
    def csvRow: String = {
      val q =
        if (query.exists(",\"\r\n".contains(_))) "\"" + query.replace("\"", "\"\"") + "\""
        else query
      s"$q,$runs,${logical.csvFields},${physical.csvFields}," +
        s"${execution.csvFields},${total.csvFields},$mode"
    }

    def summary: String = {
      def line(n: String, p: PhaseStats) =
        f"  $n%-18s min ${p.min}%9.3fms  max ${p.max}%9.3fms  mean ${p.mean}%9.3fms  median ${p.median}%9.3fms  ${p.percentOfTotal}%5.1f%%  jobs ${p.jobs}%.1f  compiles ${p.compiles}%.1f"
      s"""Benchmark Stats ($runs runs, $mode)
         |${line("logical planning", logical)}
         |${line("physical planning", physical)}
         |${line("execution", execution)}
         |${line("total", total)}
         |  row counts: ${if (rowCountsConsistent) s"consistent (${rowCounts.headOption.getOrElse(0L)})" else s"INCONSISTENT ${rowCounts.mkString(",")}"}""".stripMargin
    }
  }

  val csvHeader: String = {
    val phases = Seq("logical_planning", "physical_planning", "execution", "total")
    "query,runs," + phases.map(p =>
      s"${p}_min,${p}_max,${p}_mean,${p}_median,${p}_percent_of_total")
      .mkString(",") + ",concurrency_mode"
  }

  private def stats(runs: Seq[Seq[Phase]], totalMean: Double): PhaseStats = {
    val sorted = runs.map(_.map(_.ms).sum).sorted
    val mean = sorted.sum / sorted.size
    val median =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    PhaseStats(sorted.head, sorted.last, mean, median,
      if (totalMean == 0) 0 else mean / totalMean * 100.0,
      runs.map(_.map(_.jobs.size).sum).sum.toDouble / runs.size,
      runs.map(_.map(_.compiles).sum).sum.toDouble / runs.size)
  }

  /** One run as three phases of the capture; the statement goes through
    * the context, so its URL-table rewrite and result limit apply as in a
    * plain `-c` run.
    */
  private def timeOnce(ctx: ExecutionContext, profile: QueryProfile,
      sql: String): (Seq[Phase], Long) = {
    val (logical, qe) = profile.phase {
      val qe = ctx.sql(sql).queryExecution // parse + analyze
      qe.optimizedPlan // optimize
      qe
    }
    val (physical, _) = profile.phase(qe.executedPlan)
    // Full materialization: toRdd.count() executes the physical plan with
    // every output column computed (df.count() would let Catalyst prune the
    // projections and under-measure execution).
    val (execution, rows) = profile.phase(qe.toRdd.count())
    (Seq(logical, physical, execution), rows)
  }

  /** Run the benchmark. `runBefore` is the optional warm-up statement
    * (reference `--run-before`).
    */
  def run(ctx: ExecutionContext, sql: String, iterations: Int = 10,
      concurrent: Boolean = false, runBefore: Option[String] = None): BenchResult = {
    runBefore.foreach(s => ctx.sql(s).queryExecution.toRdd.count())
    val profile = new QueryProfile(ctx.spark)
    val results =
      try {
        if (!concurrent) (1 to iterations).map(_ => timeOnce(ctx, profile, sql))
        else {
          val workers = math.min(iterations, Runtime.getRuntime.availableProcessors)
          val pool = Executors.newFixedThreadPool(workers)
          implicit val ec: EC = EC.fromExecutor(pool)
          try Await.result(
            Future.sequence((1 to iterations).map(_ =>
              Future(timeOnce(ctx, profile, sql)))),
            Duration.Inf)
          finally pool.shutdown()
        }
      } finally profile.close()
    val phases = results.map(_._1)
    val totalMean = phases.map(_.map(_.ms).sum).sum / phases.size
    def phase(i: Int) = stats(phases.map(p => Seq(p(i))), totalMean)
    BenchResult(sql.replace('\n', ' ').take(80), iterations,
      if (concurrent) "concurrent" else "serial",
      phase(0), phase(1), phase(2), stats(phases, totalMean),
      results.map(_._2))
  }
}
