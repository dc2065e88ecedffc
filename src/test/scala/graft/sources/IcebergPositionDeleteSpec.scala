package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

/** Pins for [[IcebergLog.stagePositionDelete]], the one writer of
  * position-delete files: every staged row names the full path of a live
  * data file, and a row naming any other file fails the write instead of
  * staging a null `file_path`.
  */
class IcebergPositionDeleteSpec extends SparkSpec {

  private def root() = Files.createTempDirectory("graft-posdel").toFile

  private val live = Seq(IcebergLog.LiveEntry(
    "/warehouse/t/data/live-0.parquet", Map.empty, Map.empty))

  test("staged position deletes name the full path of the live file") {
    val s = spark
    import s.implicits._
    val r = root()
    val marked = Seq(("live-0.parquet", 3L), ("live-0.parquet", 1L))
      .toDF("__graft_file", "__graft_pos")
    val staged = IcebergLog.stagePositionDelete(spark, r, live, marked)
    assert(staged.size === 1)
    val rows = spark.read.parquet(staged.head.getPath).collect()
      .map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(rows === Seq(
      ("/warehouse/t/data/live-0.parquet", 1L),
      ("/warehouse/t/data/live-0.parquet", 3L)))
  }

  test("a marked row whose file is not live fails the staged write") {
    val s = spark
    import s.implicits._
    val r = root()
    val marked = Seq(("live-0.parquet", 0L), ("gone-1.parquet", 2L))
      .toDF("__graft_file", "__graft_pos")
    val e = intercept[Exception](
      IcebergLog.stagePositionDelete(spark, r, live, marked))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains(
      "position delete names a data file that is not live: gone-1.parquet")),
      messages.mkString(" | "))
    // nothing was staged into the table's data directory
    assert(Option(new File(r, "data").listFiles()).forall(_.isEmpty))
  }
}
