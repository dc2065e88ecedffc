package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{InformationSchema, Tables}
import graft.functions.ParquetMetadataTable
import graft.tables.MapTable

/** Metadata/introspection queries. The parquet_metadata oracle uses
  * DuckDB's built-in parquet_metadata() (the reference's 24-column schema
  * mirrors it); only representation-stable columns are compared — stats
  * rendering, logical-type names and encoding lists are engine-specific
  * strings.
  *
  * The oracle's file path is the `__SF_DIR__` placeholder, substituted with
  * the actual scale-factor directory at dump time (Verify) so Spark and
  * DuckDB always describe the same physical file.
  */
object MetaQueries {

  val queries: Seq[QueryDef] = Seq(
    QueryDef("p01_parquet_metadata", (s, d) =>
      ParquetMetadataTable(s, s"$d/region.parquet")
        .select(
          element_at(split(col("filename"), "/"), -1).as("file_name"),
          col("row_group_id"), col("row_group_num_rows"),
          col("row_group_num_columns"), col("column_id"),
          col("path_in_schema"), col("num_values"),
          col("stats_null_count"), col("total_compressed_size"),
          col("total_uncompressed_size"))
        .orderBy(col("row_group_id"), col("column_id")),
      Some("""
      SELECT regexp_extract(file_name, '([^/]+)$', 1) AS file_name,
        row_group_id, row_group_num_rows, row_group_num_columns, column_id,
        path_in_schema, num_values, stats_null_count,
        total_compressed_size, total_uncompressed_size
      FROM parquet_metadata('__SF_DIR__/region.parquet')
      ORDER BY row_group_id, column_id""")),

    // p02: metadata-only COUNT(*) — the FooterCountRule answers the
    // unfiltered count from parquet footers; the require proves the scan
    // was ELIMINATED (optimized plan collapses to a LocalRelation), and
    // the oracle proves the metadata answer equals the true row count.
    QueryDef("p02_footer_count", (s, d) => {
      graft.plans.FooterCount.enable(s)
      val df = Tables.read(s, Tables.path(d, "lineitem"))
        .agg(count(lit(1)).as("n"))
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"footer-count rule did not fire:\n${df.queryExecution.optimizedPlan}")
      df
    }, Some("SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem")),

    // p03: metadata-only MIN/MAX (+COUNT) — the FooterStatsRule folds the
    // per-row-group column statistics parquet writers already store, across
    // timestamp, double, string and bigint columns in one aggregate; the
    // require proves the scan was ELIMINATED and the oracle proves the
    // footer fold equals the true aggregate over the data pages.
    QueryDef("p03_footer_minmax", (s, d) => {
      graft.plans.FooterStats.enable(s)
      val df = Tables.read(s, Tables.path(d, "lineitem")).agg(
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        max(col("l_returnflag")).as("max_rflag"),
        min(col("l_orderkey")).as("min_okey"),
        count(lit(1)).as("n"))
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"footer-stats rule did not fire:\n${df.queryExecution.optimizedPlan}")
      df
    }, Some("""
      SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        max(l_returnflag) AS max_rflag,
        CAST(min(l_orderkey) AS BIGINT) AS min_okey,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem""")),

    // synthesized information_schema (reference always enables it; the
    // FlightSQL catalog endpoints are SQL over these views) — listing
    // restricted to the testdata tables so the snapshot is deterministic.
    QueryDef("i01_information_schema", (s, d) => {
      Tables.registerAll(s, d)
      InformationSchema.tablesDF(s)
        .filter(col("table_name").isin(Tables.names: _*))
        .select(col("table_name"), col("table_type"))
        .orderBy(col("table_name"))
    }, Some(
      "SELECT * FROM (VALUES " +
        Tables.names.sorted.map(n => s"('$n','TEMPORARY')").mkString(",") +
        ") t(table_name, table_type) ORDER BY table_name")),

    // information_schema.columns: the per-column synthesis (name, ordinal,
    // data type, nullability) the reference's catalog surface exposes —
    // pinned against the known documents schema as a literal oracle.
    QueryDef("i02_information_schema_columns", (s, d) => {
      Tables.registerAll(s, d)
      InformationSchema.columnsDF(s)
        .filter(col("table_name") === "documents")
        .select(col("table_name"), col("column_name"),
          col("ordinal_position"), col("data_type"), col("is_nullable"))
        .orderBy(col("ordinal_position"))
    }, Some("""
      SELECT table_name, column_name,
        CAST(ordinal_position AS BIGINT) AS ordinal_position,
        data_type, is_nullable
      FROM (VALUES
        ('documents', 'doc_id',  1, 'bigint', 'YES'),
        ('documents', 'text',    2, 'string', 'YES'),
        ('documents', 'lang',    3, 'string', 'YES'),
        ('documents', 'source',  4, 'string', 'YES'),
        ('documents', 'n_chars', 5, 'bigint', 'YES'))
        t(table_name, column_name, ordinal_position, data_type, is_nullable)
      ORDER BY ordinal_position""")),

    // MapTable (reference's custom PK-keyed in-memory table,
    // `tables/map_table.rs`): upsert + delete semantics through a SQL scan.
    QueryDef("map01_map_table", (s, _) => {
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("val", StringType)))
      val mt = new MapTable(s, "map01_src", schema, "id")
      mt.insertAll(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
      mt.insert(Row(2L, "b2")) // PK upsert
      mt.delete(3L)
      s.table("map01_src").orderBy(col("id"))
    }, Some("""
      SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, 'b2')) t(id, val)
      ORDER BY id""")),

    // Observability requests table (reference `observability/mod.rs:42-158`):
    // a fresh context records one row per executed statement — including the
    // 500 row for a failing one — and the table is queryable as SQL. Only
    // the deterministic columns are compared (timestamp/duration vary).
    QueryDef("o01_observability", (s, _) => {
      val ctx = new graft.exec.ExecutionContext(s)
      ctx.sqlObserved("SELECT 1 AS one", "obs_a")
      ctx.sqlObserved("SELECT 2 AS two", "obs_b")
      try { ctx.sqlObserved("SELECT * FROM no_such_table_o01", "obs_c"); () }
      catch { case _: Exception => () }
      ctx.sql(
        """SELECT path, sql AS stmt, CAST(status AS BIGINT) AS status
          |FROM observability_requests ORDER BY path""".stripMargin)
    }, Some("""
      SELECT * FROM (VALUES
        ('obs_a', 'SELECT 1 AS one', CAST(200 AS BIGINT)),
        ('obs_b', 'SELECT 2 AS two', 200),
        ('obs_c', 'SELECT * FROM no_such_table_o01', 500))
        t(path, stmt, status)
      ORDER BY path"""))
  )
}
