package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

/** Pins for the metadata JSON [[IcebergLog]] writes (escaped by the
  * package's one [[DeltaWrite.jsonEscape]]) and reads back through
  * [[IcebergLog.parseMeta]].
  */
class IcebergMetadataSpec extends SparkSpec {

  test("a snapshot property with a newline and a tab round-trips through parseMeta") {
    val s = spark
    import s.implicits._
    val tbl = Files.createTempDirectory("graft-ice-meta").toString + "/t"
    IcebergLog.append(Seq(1L, 2L).toDF("id").repartition(1), tbl)
    val value = "line one\nline two\tafter a tab\r\"quoted\" \\ \u0001"
    IcebergLog.commitSnapshot(tbl, IcebergLog.headVersion(tbl),
      IcebergLog.liveEntries(tbl).map(IcebergLog.existingEntry),
      summary = Map("note" -> value))
    val file = IcebergLog.currentMetadataFile(tbl)
    assert(IcebergLog.parseMeta(file).snapshots.last.summary("note") === value)
    val text = new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8)
    // two-character escapes for newline, return and tab; six-character
    // escapes for the other control characters
    assert(text.contains(
      "line one\\nline two\\tafter a tab\\r\\\"quoted\\\" \\\\ \\u0001"))
    assert(IcebergLog.read(spark, tbl).count() === 2L)
  }
}
