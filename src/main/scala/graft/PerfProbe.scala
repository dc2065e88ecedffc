package graft

import graft.core.SessionFactory
import graft.exec.QueryProfile
import graft.queries.Registry

/** Dev utility: profile individual registry queries (noop-materialized,
  * same session config as Bench) — `runMain graft.PerfProbe
  * d02_ngram_jaccard [more...]`. Each query runs twice (the first includes
  * plan/codegen warmup). Per run it prints the wall/CPU/JIT/compiles/job
  * line, the build/execute split, the eight slowest stages and the job list
  * with the driver call site that started each job. `graft.PlanDump`
  * writes plans.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionFactory.plain(s"local[$cpus]", cpus,
      Seq("spark.sql.adaptive.enabled" -> "true"))
    val profile = new QueryProfile(spark)
    // a stack's first graft frame outside the measuring code localizes the
    // operator that built a stage or started a job
    def where(details: String): String =
      details.linesIterator.find(l => l.contains("graft.") &&
        !l.contains("PerfProbe") && !l.contains("QueryProfile"))
        .map(_.trim).getOrElse("")
    args.foreach { name =>
      val fn = Registry.byName(name)
      (1 to 2).foreach { i =>
        spark.catalog.clearCache() // measure the full pipeline every run
        // also drop leaked localCheckpoint blocks (not catalog-tracked)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val (build, df) = profile.phase(fn.run(spark, sfDir))
        val (execute, _) = profile.phase(
          df.write.mode("overwrite").format("noop").save())
        val phases = Seq("build" -> build, "execute" -> execute)
        val stages = phases.flatMap(_._2.stages)
        val jobs = phases.flatMap(_._2.jobs)
        println(f"[probe] $name run$i: ${build.secs + execute.secs}%.3f s  procCpu=${(build.cpuNanos + execute.cpuNanos) / 1e9}%.1f s  jit=${build.jitMs + execute.jitMs}ms  compiles=${build.compiles + execute.compiles}  jobs=${jobs.size}  stages=${stages.size}")
        phases.foreach { case (n, p) =>
          println(f"[probe]   $n%-7s ${p.secs}%.3f s  jobs=${p.jobs.size}%3d  stages=${p.stages.size}%3d  tasks=${p.tasks}%5d  taskRun=${p.taskRunMs}%7dms  jit=${p.jitMs}%5dms  gc=${p.gcMs}%5dms  compiles=${p.compiles}%3d")
        }
        stages.sortBy(-_.wallMs).take(8).foreach { s =>
          // keep the call site up to the first ')' when present
          val w = where(s.details)
          val site = w.indexOf(')') match { case -1 => w; case c => w.substring(0, c + 1) }
          println(f"[probe]   stage ${s.id}%4d wall=${s.wallMs}%6dms taskRun=${s.runMs}%7dms gc=${s.gcMs}%5dms tasks=${s.tasks}%3d  ${s.name.take(40)} ${site.take(70)}")
        }
        jobs.foreach { j =>
          println(f"[probe]   job ${j.id}%3d stages=${j.stages}  ${j.name.take(44)}  ${where(j.details).take(90)}")
        }
      }
    }
    profile.close()
    spark.stop()
  }
}
