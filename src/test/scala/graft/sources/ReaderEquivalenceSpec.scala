package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** Pins the pruned-reader contract of both table formats: a pruned
  * reader is `read()` over fewer files, so it answers exactly
  * `read().filter(predicate)` — the same column names, order and types
  * and the same rows. One case per layout where a pruned reader once
  * decoded differently from `read()`; the generated-table property over
  * all layouts lives in PropertySpec.
  */
class ReaderEquivalenceSpec extends SparkSpec {

  private lazy val tmp =
    Files.createTempDirectory("graft-readers").toFile.getAbsolutePath

  /** Names, order, types and rows of `pruned` equal `full.filter(pred)`. */
  private def assertReadEquals(pruned: DataFrame, full: DataFrame,
      pred: Column): Unit = {
    val expected = full.filter(pred)
    assert(pruned.schema.map(f => (f.name, f.dataType)) ===
      expected.schema.map(f => (f.name, f.dataType)))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf))
      .map(_.mkString("|")).sorted.toSeq
    val want = rows(expected)
    assert(want.nonEmpty, "predicate selects no rows: the case pins nothing")
    assert(rows(pruned) === want)
  }

  /** (id, cat, v) partitioned by cat over three partitions. */
  private def partitioned(name: String): String = {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/$name"
    DeltaWrite.appendPartitioned(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L), (4L, "c", 40L))
        .toDF("id", "cat", "v"), tbl, Seq("cat"))
    tbl
  }

  /** [[partitioned]], name-mapped, both a data and the partition column
    * renamed (`v` → `val`, `cat` → `category`), mirrored to Iceberg with
    * manifest bounds on `id`. Returns (path, Iceberg field id of `id`).
    */
  private def mappedMirror(name: String): (String, Int) = {
    val tbl = partitioned(name)
    DeltaWrite.enableColumnMapping(spark, tbl)
    DeltaWrite.renameColumn(spark, tbl, "v", "val")
    DeltaWrite.renameColumn(spark, tbl, "cat", "category")
    val idField = DeltaLog.metaSchema(spark, tbl).get("id")
      .metadata.getLong(DeltaLog.FieldIdKey).toInt
    assert(Uniform.deltaToIceberg(spark, tbl, Seq(idField -> "id"))
      .snapshotId.isDefined)
    (tbl, idField)
  }

  test("Delta readPartition keeps a column added by schema evolution") {
    val s = spark
    import s.implicits._
    val tbl = partitioned("evolved")
    DeltaWrite.merge(tbl,
      Seq((5L, "a", 50L, "n5")).toDF("id", "cat", "v", "note"), Seq("id"),
      mergeSchema = true)
    assert(DeltaLog.read(spark, tbl).columns.contains("note"))
    // partition b holds only files written before the evolution
    val pruned = DeltaLog.readPartition(spark, tbl, Map("cat" -> "b"))
    assert(pruned.columns.contains("note"))
    assertReadEquals(pruned, DeltaLog.read(spark, tbl), col("cat") === "b")
  }

  test("Delta readPartition types a bigint partition column as bigint") {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/bigint_part"
    DeltaWrite.appendPartitioned(
      Seq((1L, 7L, "x"), (2L, 8L, "y")).toDF("id", "bucket", "v"), tbl,
      Seq("bucket"))
    val pruned = DeltaLog.readPartition(spark, tbl, Map("bucket" -> "7"))
    assert(pruned.schema("bucket").dataType === LongType)
    assertReadEquals(pruned, DeltaLog.read(spark, tbl), col("bucket") === 7L)
  }

  test("Delta readPartition on a name-mapped table answers logical names") {
    val tbl = partitioned("name_mapped")
    DeltaWrite.enableColumnMapping(spark, tbl)
    DeltaWrite.renameColumn(spark, tbl, "v", "val")
    val pruned = DeltaLog.readPartition(spark, tbl, Map("cat" -> "a"))
    assert(pruned.columns.toSeq === Seq("id", "cat", "val"))
    assertReadEquals(pruned, DeltaLog.read(spark, tbl), col("cat") === "a")
  }

  test("Delta readRange on a partitioned table keeps the partition column") {
    val tbl = partitioned("range_part")
    val pruned = DeltaLog.readRange(spark, tbl, "id", Some(2L), Some(3L))
    assert(pruned.columns.contains("cat"))
    assertReadEquals(pruned, DeltaLog.read(spark, tbl),
      col("id").between(2L, 3L))
  }

  test("Delta livePartitionAdds prunes by a renamed partition column's logical name") {
    val tbl = partitioned("renamed_part")
    DeltaWrite.enableColumnMapping(spark, tbl)
    DeltaWrite.renameColumn(spark, tbl, "cat", "category")
    val (kept, total) =
      DeltaLog.livePartitionAdds(spark, tbl, Map("category" -> "a"))
    // pv stay keyed by the physical name `cat`
    assert(kept.nonEmpty && kept.size < total &&
      kept.forall(_.partitionValues.get("cat").contains("a")),
      s"kept ${kept.size} of $total files")
    assertReadEquals(DeltaLog.readPartition(spark, tbl, Map("category" -> "a")),
      DeltaLog.read(spark, tbl), col("category") === "a")
  }

  test("Iceberg readRange on a name-mapped mirror answers logical names") {
    val (tbl, idField) = mappedMirror("mirror_range")
    val pruned = IcebergLog.readRange(spark, tbl, "id", idField, Some(2L),
      Some(3L))
    assert(pruned.columns.toSeq === Seq("id", "category", "val"))
    assertReadEquals(pruned, IcebergLog.read(spark, tbl),
      col("id").between(2L, 3L))
  }

  test("Iceberg readPartitionRange on a partitioned mirror resolves the partition column") {
    val (tbl, idField) = mappedMirror("mirror_part_range")
    assertReadEquals(
      IcebergLog.readPartitionRange(spark, tbl, Map("category" -> "a"), "id",
        idField, Some(1L), Some(2L)),
      IcebergLog.read(spark, tbl),
      col("category") === "a" && col("id").between(1L, 2L))
  }

  test("Iceberg readPartition on a mirror orders columns like read") {
    val (tbl, _) = mappedMirror("mirror_part")
    val pruned = IcebergLog.readPartition(spark, tbl, Map("category" -> "a"))
    assert(pruned.columns.toSeq === IcebergLog.read(spark, tbl).columns.toSeq)
    assertReadEquals(pruned, IcebergLog.read(spark, tbl),
      col("category") === "a")
  }
}
