package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthesized `information_schema` (reference always enables DataFusion's
  * information_schema: `crates/datafusion-app/src/extensions/builder.rs:82,
  * 100-102`; FlightSQL catalog endpoints query it,
  * `src/server/flightsql/service.rs:251-485`). Spark has no native
  * information_schema, so the views the reference's surface depends on —
  * tables, columns, schemata, df_settings — are synthesized from the
  * session catalog and conf. [[graft.plans.AppRelations]] resolves
  * `information_schema.<view>` in SQL to a fresh snapshot of that one view.
  */
object InformationSchema {

  /** 3-level (catalog, schema, table, type) entries contributed by
    * CatalogBootstrap's db-dir walk. The db-dir model is genuinely
    * three-level (reference `src/db.rs`); the session catalog flattens it to
    * `catalog_schema`.`table`, so the overlay restores the reference
    * identity in listings and the flattened duplicates are hidden.
    */
  private val overlays =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Seq[(String, String, String, String)]]

  def setOverlay(spark: SparkSession,
      entries: Seq[(String, String, String, String)]): Unit =
    overlays.put(spark, entries): Unit

  val tablesSchema: StructType = StructType(Seq(
    StructField("table_catalog", StringType),
    StructField("table_schema", StringType),
    StructField("table_name", StringType),
    StructField("table_type", StringType)))

  val columnsSchema: StructType = StructType(Seq(
    StructField("table_catalog", StringType),
    StructField("table_schema", StringType),
    StructField("table_name", StringType),
    StructField("column_name", StringType),
    StructField("ordinal_position", LongType),
    StructField("data_type", StringType),
    StructField("is_nullable", StringType)))

  val schemataSchema: StructType = StructType(Seq(
    StructField("catalog_name", StringType),
    StructField("schema_name", StringType)))

  private def tableEntries(spark: SparkSession) = {
    val overlay = overlays.getOrElse(spark, Seq.empty)
    val flattenedDbs = overlay.map { case (c, s, t, _) => (s"${c}_$s", t) }.toSet
    val flatViews = overlay.map { case (c, s, t, _) => s"${c}_${s}_$t" }.toSet
    val fromCatalog = spark.catalog.listTables().collect().toSeq.map { t =>
      val catalog = Option(t.catalog).getOrElse("spark_catalog")
      val schema =
        Option(t.namespace).map(_.mkString(".")).filter(_.nonEmpty)
          .getOrElse(if (t.isTemporary) "session" else "default")
      (catalog, schema, t.name, t.tableType)
    }.filterNot { case (_, s, n, _) =>
      flattenedDbs((s, n)) || (s == "session" && flatViews(n))
    }
    fromCatalog ++ overlay
  }

  def tablesDF(spark: SparkSession): DataFrame = {
    val rows = tableEntries(spark).map { case (c, s, n, tt) => Row(c, s, n, tt) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), tablesSchema)
  }

  def columnsDF(spark: SparkSession): DataFrame = {
    val rows = tableEntries(spark).flatMap { case (c, s, n, _) =>
      val resolvable = // overlay tables resolve via their flattened db name
        if (spark.catalog.tableExists(n)) Some(n)
        else if (spark.catalog.tableExists(s"${c}_$s.$n")) Some(s"${c}_$s.$n")
        else None
      resolvable.toSeq.flatMap { ref =>
        spark.catalog.listColumns(ref).collect().toSeq.zipWithIndex.map {
          case (col, i) =>
            Row(c, s, n, col.name, (i + 1).toLong, col.dataType,
              if (col.nullable) "YES" else "NO")
        }
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), columnsSchema)
  }

  def schemataDF(spark: SparkSession): DataFrame = {
    val rows = spark.catalog.listDatabases().collect().toSeq
      .map(db => Row(Option(db.catalog).getOrElse("spark_catalog"), db.name)) :+
      Row("spark_catalog", "session") // temp views live here in our model
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schemataSchema)
  }

  /** Session settings as the reference's `information_schema.df_settings`
    * view (datafusion always exposes it; the reference's HTTP tests scrape
    * `/table/datafusion/information_schema/df_settings`,
    * `src/server/http/router.rs:357`). Spark's SQL conf plays the role of
    * DataFusion's settings: (name, value) sorted by name.
    */
  def dfSettingsDF(spark: SparkSession): DataFrame = {
    val rows = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("value", StringType, nullable = true))))
  }

  /** The views by name, each built on demand as a snapshot. */
  val views: Map[String, SparkSession => DataFrame] = Map(
    "tables" -> tablesDF, "columns" -> columnsDF,
    "schemata" -> schemataDF, "df_settings" -> dfSettingsDF)
}
