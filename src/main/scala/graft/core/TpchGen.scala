package graft.core

import org.apache.spark.sql.SparkSession

/** `generate-tpch` analog (reference `src/tpch.rs:201-339`: writes the 8
  * TPC-H tables at a scale factor into the db dir as parquet, under
  * `tables/<catalog>/tpch/<table>/`). Data generation itself is out of
  * scope offline — the driver ships deterministic TPC-H-ish parquet
  * (TESTDATA.md), so this materializes those tables into the reference's
  * db-dir layout, after which CatalogBootstrap registers them like any
  * other db-dir table.
  */
object TpchGen {

  /** The 8 TPC-H tables the reference generates (`src/tpch.rs:214-230`). */
  val tpchTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "partsupp",
    "orders", "lineitem")

  /** Copy available TPC-H tables from a testdata sf dir into
    * `dbDir/tables/<catalog>/tpch/<table>/`, returning the written tables.
    * (The testdata has no partsupp; absent sources are skipped like the
    * reference skips nothing it can't build.)
    */
  def generate(spark: SparkSession, sfDir: String, dbDir: String,
      catalog: String = "dft"): Seq[String] = {
    val written = tpchTables.filter(t =>
      new java.io.File(Tables.path(sfDir, t)).exists())
    written.foreach { t =>
      Tables.read(spark, Tables.path(sfDir, t))
        .write.mode("overwrite")
        .parquet(s"$dbDir/tables/$catalog/tpch/$t")
    }
    written
  }
}
