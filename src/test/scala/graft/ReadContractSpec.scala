package graft

import java.io.File
import java.nio.file.Files

import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.exec.QueryProfile

/** The parquet read contract of `core/Tables`: a read takes its schema
  * from one footer on the driver, so it runs no Spark job, yet it answers
  * the same schema and physical plan as Spark's own inferring read; and
  * no other module opens a footer or reads parquet without a schema.
  */
class ReadContractSpec extends SparkSpec {

  /** Physical plan text without expression ids. */
  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  /** `read` runs no job and matches `spark.read.parquet` on `path`. */
  private def assertSameAsInference(path: String)(read: => DataFrame,
      inferred: DataFrame => DataFrame): Unit = {
    val profile = new QueryProfile(spark)
    val (phase, df) = try profile.phase(read) finally profile.close()
    assert(phase.jobs.isEmpty, s"$path: ${phase.jobs.map(_.name).mkString(" | ")}")
    val expected = inferred(spark.read.parquet(path))
    assert(df.schema === expected.schema, path)
    assert(planText(df) === planText(expected), path)
  }

  test("Tables.load reads every table without a job, as spark.read.parquet does") {
    Tables.names.foreach { n =>
      val inferred: DataFrame => DataFrame =
        if (n == "events") Tables.normalizeEventTs else identity
      assertSameAsInference(Tables.path(sf0001, n))(
        Tables.load(spark, sf0001, n), inferred)
    }
  }

  test("Tables.read of a partitioned directory discovers partitions without a job") {
    val dir = Files.createTempDirectory("graft-read-contract").toString + "/t"
    spark.range(40).select(col("id"), (col("id") % 2).as("dt"),
        (col("id") % 3).as("n"), concat(lit("v"), col("id")).as("v"))
      .write.partitionBy("dt", "n").parquet(dir)
    assert(new File(dir, "_SUCCESS").isFile)
    assertSameAsInference(dir)(Tables.read(spark, dir), identity)
    assert(Tables.read(spark, dir).filter(col("dt") === 1 && col("n") === 2)
      .count() === spark.range(40).filter("id % 2 = 1 AND id % 3 = 2").count())
  }

  test("Tables.read of a directory with no data file fails naming it") {
    val empty = Files.createTempDirectory("graft-read-empty").toString
    Files.createFile(new File(empty, "_SUCCESS").toPath)
    val err = intercept[IllegalArgumentException](Tables.read(spark, empty))
    assert(err.getMessage.contains(empty), err.getMessage)
  }

  test("a Delta read over a checkpoint runs only its checkpoint collects") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = Files.createTempDirectory("graft-read-cp").toString + "/t"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    DeltaWrite.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    DeltaWrite.checkpoint(spark, tbl)
    val profile = new QueryProfile(spark)
    val (phase, df) = try profile.phase(DeltaLog.read(spark, tbl))
      finally profile.close()
    // the checkpoint's protocol, add and metaData collects; its schema
    // comes from the footer, not an inference job per read
    assert(phase.jobs.size === 3, phase.jobs.map(_.name).mkString(" | "))
    assert(df.count() === 3L)
  }

  test("only core/Tables opens parquet footers or reads parquet without a schema") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val forbidden = Seq("""\.read\.parquet\(""", """ParquetFileReader\.open""",
      """ParquetFooterReader\.readFooter""",
      """new (org\.apache\.hadoop\.conf\.)?Configuration\(\)""").map(_.r)
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
        .flatMap(f => if (f.isDirectory) scalaFiles(f)
          else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty)
    val hits = for {
      f <- scalaFiles(root)
      if f.getPath.replace('\\', '/') != "src/main/scala/graft/core/Tables.scala"
      (line, i) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      if forbidden.exists(_.findFirstIn(line).isDefined)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
