package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the scan-schema contract of both table formats: every verb reads
  * a table's data files through the schema its decoder uses, so a
  * rewrite over files written before a schema evolution keeps the
  * evolved columns, and an incremental read answers the logical names
  * `read()` answers. The mirror cases also pin that the rewriting
  * Iceberg verbs refuse a physically name-mapped UniForm mirror.
  */
class ScanSchemaSpec extends SparkSpec {

  private lazy val tmp =
    Files.createTempDirectory("graft-scan-schema").toFile.getAbsolutePath

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Columns and rows of `df` equal `want`'s. */
  private def assertSame(df: DataFrame, want: DataFrame): Unit = {
    assert(df.columns.toSeq === want.columns.toSeq)
    assert(rows(df) === rows(want))
  }

  /** Delta (id, v) — with a `cat` partition column when `partitioned` —
    * in two appends, then a merge that adds column `w`: it updates id 1
    * and inserts id 9 into the rewrite of the file of ids 1–2, leaving
    * the second append's files (ids 3–6) physically without `w`.
    */
  private def evolvedDelta(name: String, partitioned: Boolean): String = {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/$name"
    def add(df: DataFrame): Unit =
      if (partitioned) DeltaWrite.appendPartitioned(df, tbl, Seq("cat"))
      else DeltaWrite.append(df.drop("cat"), tbl)
    add(Seq((1L, "a", "p"), (2L, "b", "p")).toDF("id", "v", "cat")
      .repartition(1))
    add(Seq((3L, "c", "p"), (4L, "d", "p"), (5L, "e", "q"), (6L, "f", "q"))
      .toDF("id", "v", "cat").repartition(1))
    val batch = Seq((1L, "a2", "p", 10L), (9L, "i", "p", 90L))
      .toDF("id", "v", "cat", "w").repartition(1)
    DeltaWrite.merge(tbl, if (partitioned) batch else batch.drop("cat"),
      Seq("id"), mergeSchema = true)
    val evolved = DeltaLog.read(spark, tbl)
    assert(evolved.columns.contains("w"))
    assert(rows(evolved.filter(col("id") === 9L).select("w")) === Seq("90"))
    tbl
  }

  test("Delta optimize keeps a column added by schema evolution") {
    val tbl = evolvedDelta("optimize", partitioned = false)
    val before = DeltaLog.read(spark, tbl)
    val want = rows(before)
    val st = DeltaWrite.optimize(spark, tbl, smallFileBytes = Long.MaxValue)
    assert(st.filesCompacted >= 2)
    val after = DeltaLog.read(spark, tbl)
    assert(after.columns.toSeq === before.columns.toSeq)
    assert(rows(after) === want)
  }

  test("Delta optimizeZOrder keeps an evolved column, unpartitioned and partitioned") {
    Seq(false, true).foreach { partitioned =>
      val tbl = evolvedDelta(s"zorder_$partitioned", partitioned)
      val before = DeltaLog.read(spark, tbl)
      val want = rows(before)
      DeltaWrite.optimizeZOrder(spark, tbl, Seq("id", "w"))
      val after = DeltaLog.read(spark, tbl)
      assert(after.columns.toSeq === before.columns.toSeq)
      assert(rows(after) === want, s"partitioned=$partitioned")
    }
  }

  test("Delta purgeDeletionVectors keeps an evolved column") {
    Seq(false, true).foreach { partitioned =>
      val tbl = evolvedDelta(s"purge_$partitioned", partitioned)
      // deletion vectors on a file without `w` (id 3) and on the merge's
      // batch file (id 9; id 1 survives in it with w = 10)
      DeltaWrite.deleteWhereDv(spark, tbl, col("id").isin(3L, 9L))
      val dvs = DeltaLog.liveAdds(spark, tbl).count(_.dv.isDefined)
      assert(dvs >= 1)
      val before = DeltaLog.read(spark, tbl)
      val want = rows(before)
      assert(DeltaWrite.purgeDeletionVectors(spark, tbl).filesPurged === dvs)
      assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty))
      val after = DeltaLog.read(spark, tbl)
      assert(after.columns.toSeq === before.columns.toSeq)
      assert(rows(after) === want, s"partitioned=$partitioned")
    }
  }

  /** Iceberg (id, v) in two single-file appends, then a CoW merge that
    * adds `w`: updates id 1, inserts id 9. Returns the path and the
    * model rows (id -> (v, w)).
    */
  private def evolvedIceberg(name: String)
      : (String, Map[Long, (String, Option[Long])]) = {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/$name"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.merge(spark, tbl,
      Seq((1L, "a2", 10L), (9L, "i", 90L)).toDF("id", "v", "w"), Seq("id"),
      mergeSchema = true)
    (tbl, Map(1L -> ("a2", Some(10L)), 2L -> ("b", None),
      3L -> ("c", None), 4L -> ("d", None), 9L -> ("i", Some(90L))))
  }

  private def assertModel(tbl: String,
      model: Map[Long, (String, Option[Long])]): Unit = {
    val got = IcebergLog.read(spark, tbl)
    assert(got.columns.toSeq === Seq("id", "v", "w"))
    assert(rows(got) === model.toSeq.map { case (id, (v, w)) =>
      s"$id|$v|${w.map(_.toString).getOrElse("null")}" }.sorted)
  }

  test("Iceberg rewriting verbs on an evolved table equal the model") {
    val s = spark
    import s.implicits._
    val (tbl, m0) = evolvedIceberg("ice_evolved")
    assertModel(tbl, m0)
    // deleteWhere touches the old two-column file: its survivor keeps
    // reading w as NULL, the merge-written rows keep their w
    val ds = IcebergLog.deleteWhere(spark, tbl, col("id") === 3L,
      Seq(1 -> "id"))
    assert(ds.rowsDeleted === 1L)
    val m1 = m0 - 3L
    assertModel(tbl, m1)
    val rs = IcebergLog.replaceWhere(spark, tbl, col("id").between(1L, 2L),
      Seq((2L, "b2", 20L)).toDF("id", "v", "w"), Seq(1 -> "id"))
    assert(rs.rowsDeleted === 2L && rs.rowsInserted === 1L)
    val m2 = m1 - 1L + (2L -> ("b2", Some(20L)))
    assertModel(tbl, m2)
    IcebergLog.mergeMoR(spark, tbl,
      Seq((4L, "d2", 40L), (5L, "e", 50L)).toDF("id", "v", "w"), Seq("id"))
    val m3 = m2 + (4L -> ("d2", Some(40L))) + (5L -> ("e", Some(50L)))
    assertModel(tbl, m3)
    assert(IcebergLog.rewriteDataFiles(spark, tbl).deleteFilesRemoved === 1)
    assertModel(tbl, m3)
  }

  /** Unpartitioned Delta (id, v), name-mapped, synced to Iceberg, then
    * `v` renamed to `val` and one more append synced: two `append`
    * snapshots under two schema records.
    */
  private def renamedMirror(name: String): String = {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/$name"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    DeltaWrite.enableColumnMapping(spark, tbl)
    assert(Uniform.deltaToIceberg(spark, tbl).snapshotId.isDefined)
    DeltaWrite.renameColumn(spark, tbl, "v", "val")
    DeltaWrite.append(Seq((3L, "c")).toDF("id", "val"), tbl)
    assert(Uniform.deltaToIceberg(spark, tbl).snapshotId.isDefined)
    assert(IcebergLog.snapshots(tbl).map(_.summary("operation")) ===
      Seq("append", "append"))
    tbl
  }

  /** [[renamedMirror]]'s partitioned twin: (id, cat, v) by `cat`, both
    * `v` and `cat` renamed before the one sync.
    */
  private def partitionedMirror(name: String): String = {
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/$name"
    DeltaWrite.appendPartitioned(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "cat", "v"), tbl,
      Seq("cat"))
    DeltaWrite.enableColumnMapping(spark, tbl)
    DeltaWrite.renameColumn(spark, tbl, "v", "val")
    DeltaWrite.renameColumn(spark, tbl, "cat", "category")
    assert(Uniform.deltaToIceberg(spark, tbl).snapshotId.isDefined)
    tbl
  }

  test("incremental reads of a renamed mirror answer read()'s column names") {
    Seq(renamedMirror("mirror_incr"), partitionedMirror("mirror_incr_part"))
      .foreach { tbl =>
        val full = IcebergLog.read(spark, tbl)
        assert(full.columns.contains("val"))
        assertSame(
          IcebergLog.appendsBetween(spark, tbl, 0L).drop("_snapshot_id"),
          full)
        val changes = IcebergLog.changesBetween(spark, tbl, 0L)
        assert(rows(changes.select("_change_type").distinct()) ===
          Seq("insert"))
        assertSame(changes.drop("_change_type", "_snapshot_id"), full)
      }
  }

  test("rewriting verbs refuse a physically name-mapped mirror") {
    val s = spark
    import s.implicits._
    val tbl = partitionedMirror("mirror_refuse")
    val head = IcebergLog.snapshots(tbl).last.snapshotId
    val batch = Seq((1L, "a", 11L)).toDF("id", "category", "val")
    val verbs: Seq[(String, () => Any)] = Seq(
      "deleteWhere" -> (() =>
        IcebergLog.deleteWhere(spark, tbl, col("id") === 1L)),
      "replaceWhere" -> (() =>
        IcebergLog.replaceWhere(spark, tbl, col("id") === 1L, batch)),
      "merge" -> (() => IcebergLog.merge(spark, tbl, batch, Seq("id"))),
      "MoR merge" -> (() => IcebergLog.mergeMoR(spark, tbl, batch, Seq("id"))),
      "rewriteDataFiles" -> (() => IcebergLog.rewriteDataFiles(spark, tbl)))
    verbs.foreach { case (verb, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.startsWith(s"requirement failed: $verb on a " +
        "physically name-mapped Iceberg table"), e.getMessage)
      assert(IcebergLog.snapshots(tbl).last.snapshotId === head, verb)
    }
  }
}
