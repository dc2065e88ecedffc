// sbt "runMain graft.Smoke" — driver-style smoke: entry() on sf0.001 rows>0.
package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = core.SessionFactory.plain("local[4]", "4")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"SMOKE entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"SMOKE row: $r"))
    spark.stop()
  }
}
