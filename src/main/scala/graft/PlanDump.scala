package graft

import graft.core.SessionFactory

import graft.queries.Registry

/** Dev utility: write `.explain("formatted")` output for registry queries
  * to files — `runMain graft.PlanDump <outDir> <suffix> [query...]` (no
  * query args = all headline queries). Session config matches Bench so the
  * captured plan is the one the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args.headOption.getOrElse("plans/r20")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Registry.all.filter(_.headline).map(_.name)
    new java.io.File(outDir).mkdirs()
    val spark = SessionFactory.plain(s"local[$cpus]", cpus,
      Seq("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true"),
      logLevel = "ERROR")
    names.foreach { name =>
      Registry.byName.get(name) match {
        case None => println(s"[plandump] unknown query: $name")
        case Some(q) =>
          try {
            val df = q.run(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.FileWriter(s"$outDir/${name}_$suffix.txt")
            try w.write(txt) finally w.close()
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
