package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Window functions, set operations, scalar-function coverage, JSON
  * functions, and event-stream analytics. These pin the SQL surface the
  * reference inherits from its engine (SURVEY §2.6, §2.8, §2.9) plus the
  * `events` table workloads.
  *
  * Event timestamps are nanosecond-precision in the parquet; Spark reads
  * them at microsecond precision, so queries never output a raw `ts` —
  * only string-formatted buckets or event_id-ordered derivations.
  */
object Analytics {

  /** Unique memory-sink names per streaming-query run (a stopped query's
    * name cannot be reused within a session).
    */
  private val sinkRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stage the events parquet into `dirName` under the staging root with
    * each file copied `copies` times (copies = 2 doubles every event —
    * the dedup-check input; 1 is a plain streaming-source staging).
    */
  private def stageEvents(s: SparkSession, d: String, dirName: String,
      copies: Int): String = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dir = s"${SourceQueries.stage}/$dirName"
    val conf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$d/events.parquet")
    val fs = src.getFileSystem(conf)
    val dst = new Path(dir)
    fs.delete(dst, true)
    fs.mkdirs(dst)
    val parts =
      if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(src)
    parts.zipWithIndex.foreach { case (p, i) =>
      (0 until copies).foreach { c =>
        FileUtil.copy(fs, p, fs, new Path(dst, s"c${c}_$i.parquet"), false, conf)
      }
    }
    dir
  }

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** Shared CDC→lakehouse upsert harness behind e24 (Delta) and e27
    * (Iceberg): stage the events feed as time-sliced files, stream the
    * latest-per-key changelog, and sink each micro-batch — append on
    * the first, MERGE (file-level copy-on-write) after. The fold logic
    * lives ONCE so the two protocols can never silently diverge; only
    * the exists-probe and the three verb closures differ. Across
    * batches the CDC monotone rule makes application order-independent,
    * so whatever order the file source discovers the slices in, the
    * FINAL table is the global argmax — exactly what the shared oracle
    * checks. At scale each merge rewrites only the files containing
    * touched keys, so sink cost tracks the batch's key spread, not
    * table size.
    */
  private def cdcUpsertSink(name: String, feedName: String, tblName: String,
      exists: String => Boolean,
      appendFn: (DataFrame, String) => Unit,
      mergeFn: (DataFrame, String) => Unit,
      readFn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, (s, d) => {
      // time-sliced staging (e06b's shape): 3 files = 3 micro-batches
      val raw = Tables.read(s, s"$d/events.parquet")
      val rawCols = raw.schema.fieldNames.map(col).toSeq
      val nSlices = 3
      val sliced = raw.withColumn("slice",
          ntile(nSlices).over(Window.orderBy(col("ts"), col("event_id"))))
        .localCheckpoint(true)
      val dir = s"${SourceQueries.stage}/$feedName"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      (1 to nSlices).foreach { k =>
        sliced.filter(col("slice") === k).select(rawCols: _*)
          .repartition(1).write.mode("append").parquet(dir)
      }
      val tbl = s"${SourceQueries.stage}/$tblName"
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tbl))
      val q = graft.streaming.EventStream
        .latestPerKey(graft.streaming.EventStream.source(s, dir, Some(1)))
        .toDF()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            // one winner per key per batch (merge refuses ambiguity)
            val w = Window.partitionBy(col("user_id"))
              .orderBy(col("ts").desc, col("event_id").desc)
            val upserts = batch.withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
            if (exists(tbl)) mergeFn(upserts, tbl)
            else appendFn(upserts, tbl)
            ()
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      readFn(s, tbl)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms, event_id,
              event_type, value FROM events)
      SELECT user_id, ms AS ts, event_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ms DESC, event_id DESC) AS rn
        FROM ev)
      WHERE rn = 1
      ORDER BY user_id"""))

  /** Memory-sink tables are driver-resident for the session's lifetime, so
    * repeated soak/bench iterations would accumulate one full result copy
    * per run (round-7 ADVICE). Evaluate the post-processing over the sink,
    * materialize the (small, already-aggregated) result into a local
    * relation, and DROP the sink view before returning.
    */
  private def materializeAndDropSink(s: SparkSession, sink: String)(
      post: DataFrame => DataFrame): DataFrame =
    try {
      val out = post(s.table(sink))
      val rows = java.util.Arrays.asList(out.collect(): _*)
      s.createDataFrame(rows, out.schema)
    } finally s.catalog.dropTempView(sink)

  val queries: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // rank / row_number / lag over partitions: top-3 suppliers per nation.
    QueryDef("w01_window_rank", (s, d) => {
      val sup = t(s, d, "supplier")
      val n = t(s, d, "nation")
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_bal", lag(col("s_acctbal"), 1).over(w))
        .filter(col("rn") <= 3)
        .select(col("n_name"), col("s_name"), col("s_acctbal"),
          col("rnk"), col("rn"), col("prev_bal"))
        .orderBy(col("n_name"), col("rn"))
    }, Some("""
      SELECT n_name, s_name, s_acctbal, CAST(rnk AS BIGINT) AS rnk,
        CAST(rn AS BIGINT) AS rn, prev_bal
      FROM (
        SELECT n_name, s_name, s_acctbal,
          RANK() OVER w AS rnk,
          ROW_NUMBER() OVER w AS rn,
          LAG(s_acctbal, 1) OVER w AS prev_bal
        FROM supplier, nation
        WHERE s_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey)
      ) ranked
      WHERE rn <= 3 ORDER BY n_name, rn""")),

    // ------------------------------------------------------------------
    // Running frames: cumulative value and count per user over the event
    // stream (decimal-exact running sum).
    QueryDef("w02_running_totals", (s, d) => {
      val e = t(s, d, "events").filter(col("user_id") < 20)
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("running_value",
          sum(col("value").cast("decimal(12,2)")).over(w).cast("double"))
        .withColumn("running_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("running_value"), col("running_n"))
        .orderBy(col("user_id"), col("event_id"))
    }, Some("""
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value,
        COUNT(*) OVER w AS running_n
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""), headline = true),

    // ------------------------------------------------------------------
    // UNION ALL / INTERSECT / EXCEPT in one labeled result.
    QueryDef("s01_set_operations", (s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").cast("long").as("nk"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").cast("long").as("nk"))
      val both = cn.intersect(sn).withColumn("tag", lit("both"))
      val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
      val suppOnly = sn.except(cn).withColumn("tag", lit("supp_only"))
      both.unionAll(custOnly).unionAll(suppOnly)
        .select(col("tag"), col("nk"))
        .orderBy(col("tag"), col("nk"))
    }, Some("""
      SELECT 'both' AS tag, nk FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      UNION ALL
      SELECT 'cust_only', nk FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      UNION ALL
      SELECT 'supp_only', nk FROM (
        SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
        EXCEPT SELECT CAST(c_nationkey AS BIGINT) FROM customer)
      ORDER BY tag, nk""")),

    // ALL-variants: multiset semantics (duplicates preserved), the set
    // operators Spark plans as IntersectAll/ExceptAll rather than the
    // dedup forms s01 covers.
    QueryDef("s02_set_operations_all", (s, d) => {
      val cn = t(s, d, "customer").select(col("c_nationkey").cast("long").as("nk"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").cast("long").as("nk"))
      val ia = cn.intersectAll(sn).groupBy(col("nk"))
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("intersect_all"))
      val ea = cn.exceptAll(sn).groupBy(col("nk"))
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("except_all"))
      ia.unionAll(ea).select(col("tag"), col("nk"), col("n"))
        .orderBy(col("tag"), col("nk"))
    }, Some("""
      SELECT 'intersect_all' AS tag, nk, COUNT(*) AS n FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        INTERSECT ALL SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      GROUP BY nk
      UNION ALL
      SELECT 'except_all', nk, COUNT(*) FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        EXCEPT ALL SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      GROUP BY nk
      ORDER BY tag, nk""")),

    // ------------------------------------------------------------------
    // Approximate aggregates (DataFusion ships approx_distinct /
    // approx_percentile_cont / approx_median as first-class built-ins):
    // HLL++ distinct and quantile sketches. Sketch internals differ across
    // engines, so raw sketch outputs can't be value-matched — instead the
    // query emits EXACT companions (COUNT(DISTINCT), interpolated
    // percentiles) that DuckDB hash-checks, plus boolean in-bound columns
    // asserting each sketch lands within 5% of its exact answer (the
    // oracle emits TRUE literals). The full row is hash-green AND the
    // sketch property is still exercised end to end; OperatorsSpec bounds
    // the raw relative error independently.
    QueryDef("f02_approx_aggregates", (s, d) => {
      val li = t(s, d, "lineitem")
      li.agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_orderkey")).as("ao"),
          approx_count_distinct(col("l_partkey")).as("ap"),
          expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("ep50"),
          expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.95)").as("ep95"),
          expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 1000)")
            .as("qp50"),
          expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.95, 1000)")
            .as("qp95"))
        .select(
          col("exact_orders"), col("exact_parts"),
          round(col("ep50"), 4).as("p50_price"),
          round(col("ep95"), 4).as("p95_price"),
          (abs(col("ao") - col("exact_orders")) / col("exact_orders") < 0.05)
            .as("approx_orders_ok"),
          (abs(col("ap") - col("exact_parts")) / col("exact_parts") < 0.05)
            .as("approx_parts_ok"),
          (abs(col("qp50") - col("ep50")) / col("ep50") < 0.05).as("p50_ok"),
          (abs(col("qp95") - col("ep95")) / col("ep95") < 0.05).as("p95_ok"))
    }, Some("""
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50_price,
        ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4) AS p95_price,
        TRUE AS approx_orders_ok, TRUE AS approx_parts_ok,
        TRUE AS p50_ok, TRUE AS p95_ok
      FROM lineitem""")),

    // ------------------------------------------------------------------
    // MERGEABLE distinct sketches (f02 bounds one-shot estimates; this is
    // the composition story): one DataSketches HLL sketch per source
    // shard, then the corpus estimate from hll_union_agg over the TINY
    // per-shard sketch relation — never a second corpus pass. That union
    // is how 100 TB dedup-cardinality dashboards actually work: shard
    // sketches persist with the data; cross-shard rollups merge bytes.
    // Duplicate fingerprints planted ACROSS sources make the merged
    // distinct < the per-source sum, so the union is genuinely exercised.
    // Exact companions hash-check; sketch estimates pin within 5 %.
    QueryDef("f06_hll_sketches", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("source"),
          graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      val per = docs.groupBy(col("source")).agg(
        expr("hll_sketch_agg(fp)").as("sk"),
        countDistinct(col("fp")).as("exact"))
      val perOut = per.select(col("source").as("scope"), col("exact"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact")) /
          col("exact") <= 0.05).as("est_ok"))
      val merged = per.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val allOut = docs.agg(countDistinct(col("fp")).as("exact"))
        .crossJoin(merged)
        .select(lit("ALL").as("scope"), col("exact"),
          (abs(col("est") - col("exact")) / col("exact") <= 0.05)
            .as("est_ok"))
      perOut.union(allOut).orderBy(col("scope"))
    }, Some(raw"""
      WITH fps AS (SELECT source,
          MD5(LOWER(REGEXP_REPLACE(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents)
      SELECT source AS scope, CAST(COUNT(DISTINCT fp) AS BIGINT) AS exact,
        TRUE AS est_ok
      FROM fps GROUP BY source
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT fp) AS BIGINT), TRUE FROM fps
      ORDER BY scope""")),

    // ------------------------------------------------------------------
    // Scalar-function sampler: string / math / conditional / date parts.
    QueryDef("f01_scalar_functions", (s, d) => {
      val p = t(s, d, "part")
      p.select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          substring(col("p_type"), 1, 3).as("type3"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("btype"),
          trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
          regexp_replace(col("p_name"), " ", "_").as("underscored"),
          abs(col("p_size") - 25).cast("long").as("size_dev"),
          (col("p_size") % 7).cast("long").as("size_mod"),
          round(sqrt(col("p_size").cast("double")), 6).as("size_sqrt"),
          ceil(col("p_retailprice")).cast("long").as("price_ceil"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          greatest(col("p_size"), lit(10)).cast("long").as("size_floor10"),
          when(col("p_size") < 10, "small")
            .when(col("p_size") < 30, "mid")
            .otherwise("big").as("size_class"),
          coalesce(nullif(col("p_type"), lit("PROMO")), lit("none")).as("type_or_none"))
        .orderBy(col("p_partkey"))
        .limit(500)
    }, Some("""
      SELECT p_partkey,
        UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
        SUBSTRING(p_type, 1, 3) AS type3,
        CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        p_brand || ':' || p_type AS btype,
        TRIM(' ' || p_name || ' ') AS trimmed,
        REGEXP_REPLACE(p_name, ' ', '_', 'g') AS underscored,
        CAST(ABS(p_size - 25) AS BIGINT) AS size_dev,
        CAST(p_size % 7 AS BIGINT) AS size_mod,
        ROUND(SQRT(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
        CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        CAST(GREATEST(p_size, 10) AS BIGINT) AS size_floor10,
        CASE WHEN p_size < 10 THEN 'small'
             WHEN p_size < 30 THEN 'mid' ELSE 'big' END AS size_class,
        COALESCE(NULLIF(p_type, 'PROMO'), 'none') AS type_or_none
      FROM part ORDER BY p_partkey LIMIT 500""")),

    // ------------------------------------------------------------------
    // Datetime scalar family (SURVEY §2.38's temporal side): extraction,
    // truncation, interval arithmetic with month-end clamping, day
    // differences and formatting. Engine convention traps are normalized
    // explicitly (Spark DAYOFWEEK is 1=Sunday, DuckDB's is 0=Sunday).
    // f05: fuzzy entity matching — supplier-name pairs within edit
    // distance 2 via the length-banded blocked generator (Fuzzy
    // .editDistancePairs: candidates by length equi-join, levenshtein with
    // early-exit only inside blocks). The oracle replays the same pair
    // semantics with DuckDB's levenshtein under the identical |len diff|
    // ≤ 2 blocking bound; distances are exact integers, so the compare is
    // bit-stable.
    QueryDef("f05_edit_distance", (s, d) =>
      graft.operators.Fuzzy.editDistancePairs(
          t(s, d, "supplier"), "s_name", maxDist = 2)
        .orderBy(col("a"), col("b")),
      Some("""
      WITH vals AS (SELECT DISTINCT s_name AS v FROM supplier
                    WHERE s_name IS NOT NULL),
      pairs AS (SELECT x.v AS a, y.v AS b, levenshtein(x.v, y.v) AS dist
                FROM vals x JOIN vals y
                  ON x.v < y.v AND abs(length(x.v) - length(y.v)) <= 2)
      SELECT a, b, CAST(dist AS BIGINT) AS dist
      FROM pairs WHERE dist <= 2 ORDER BY a, b""")),

    QueryDef("f03_datetime_functions", (s, d) => {
      // o_orderdate is physically timestamp[us]; both engines normalize to
      // DATE first so interval/day arithmetic has one well-defined type
      val o = t(s, d, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      o.select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          month(col("o_orderdate")).cast("long").as("mon"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          weekofyear(col("o_orderdate")).cast("long").as("woy"),
          // dates ship as strings (QueryDef determinism rules)
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd")
            .as("plus30d"),
          date_format(add_months(col("o_orderdate"), 2), "yyyy-MM-dd")
            .as("plus2m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
            .as("month_end"),
          date_format(trunc(col("o_orderdate"), "MM"), "yyyy-MM-dd")
            .as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_95"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    }, Some("""
      SELECT o_orderkey,
        CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
        CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
        CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom,
        CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
        strftime(o_orderdate + 30, '%Y-%m-%d') AS plus30d,
        strftime(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE), '%Y-%m-%d')
          AS plus2m,
        strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d')
          AS month_start,
        CAST(o_orderdate - DATE '1995-01-01' AS BIGINT) AS days_since_95,
        strftime(o_orderdate, '%Y-%m') AS ym
      FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
            FROM orders) o
      ORDER BY o_orderkey LIMIT 1000""")),

    // ------------------------------------------------------------------
    // JSON functions over the events props column (reference registers
    // datafusion-functions-json; Spark's get_json_object is the analog —
    // reference tests/extension_cases/functions_json.rs:22-76).
    QueryDef("j01_json_extract", (s, d) => {
      val e = t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      e.groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"), col("k_mod"))
    }, Some("""
      SELECT event_type, k % 10 AS k_mod, COUNT(*) AS n,
        CAST(SUM(k) AS BIGINT) AS sum_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events) t
      GROUP BY event_type, k % 10
      ORDER BY event_type, k_mod""")),

    // ------------------------------------------------------------------
    // Hourly event rollup (string time buckets; decimal-exact sums).
    QueryDef("e01_events_hourly", (s, d) => {
      val e = t(s, d, "events")
      e.groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("hour_bucket"), col("event_type"))
    }, Some("""
      -- make_timestamp(epoch_ns // 1000) truncates the parquet's ns
      -- timestamps to microseconds exactly as the Spark side does
      -- (Tables.loadEvents: ts div 1000), so both engines bucket the
      -- identical value.
      SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        COUNT(DISTINCT user_id) AS n_users
      FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type,
              value, user_id FROM events) e
      GROUP BY strftime(ts, '%Y-%m-%d %H'), event_type
      ORDER BY hour_bucket, event_type"""), headline = true),

    // ------------------------------------------------------------------
    // Sessionization: a >30-minute gap starts a new session (lag + windowed
    // flag-sum — the scalable pattern for session assignment).
    QueryDef("e02_sessionization", (s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val flagged = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            (col("ts") - col("prev_ts")) > expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
      flagged.groupBy(col("user_id"))
        .agg(sum(col("is_new")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .withColumn("events_per_session",
          col("n_events").cast("double") / col("n_sessions").cast("double"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
        COUNT(*) AS n_events,
        CAST(COUNT(*) AS DOUBLE) / CAST(SUM(is_new) AS DOUBLE) AS events_per_session
      FROM (
        SELECT user_id,
          CASE WHEN LAG(ts, 1) OVER w IS NULL
                 OR ts - LAG(ts, 1) OVER w > INTERVAL 30 MINUTE THEN 1
               ELSE 0 END AS is_new
        -- truncate ns -> us like the Spark side (Tables.loadEvents) so a
        -- gap differing only in sub-microsecond digits can't flip the
        -- 30-minute boundary test between engines
        FROM (SELECT user_id, event_id,
                make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events) e
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      ) flagged
      GROUP BY user_id ORDER BY user_id"""), headline = true),

    // ------------------------------------------------------------------
    // Salted join: the manual skew guard for a known heavy-hitter join
    // key. Salting never changes join semantics, so the oracle is the
    // PLAIN join — the strongest possible check that the rewrite is sound.
    QueryDef("e05_salted_join", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(o, c, "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // Ordered funnel (view -> click -> purchase, each stage strictly after
    // the previous): conditional-MIN window cascade, one exchange on
    // user_id. The oracle replays the same strictly-after chain with
    // sequential per-stage joins.
    // e21: USER GROWTH — daily new / active / cumulative / returning
    // users, the product-analytics daily rollup. First-seen is one
    // user-keyed aggregate, the dailies are day-keyed, and the running
    // cumulative window folds ~30 day rows (single-partition by
    // construction, days not events).
    QueryDef("e21_user_growth", (s, d) => {
      val e = t(s, d, "events")
      val newu = e.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .groupBy(date_format(col("first_ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val dau = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(countDistinct(col("user_id")).as("active_users"))
      dau.join(newu, Seq("day"), "left")
        .select(col("day"), col("active_users"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users",
          sum(col("new_users")).over(Window.orderBy(col("day"))))
        .withColumn("returning", col("active_users") - col("new_users"))
        .orderBy(col("day"))
    }, Some("""
      WITH ev AS (SELECT user_id,
              make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
      fu AS (SELECT user_id, MIN(ts) AS first_ts FROM ev GROUP BY user_id),
      nu AS (SELECT strftime(first_ts, '%Y-%m-%d') AS day,
               COUNT(*) AS new_users FROM fu GROUP BY 1),
      da AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
               COUNT(DISTINCT user_id) AS active_users FROM ev GROUP BY 1)
      SELECT da.day, CAST(da.active_users AS BIGINT) AS active_users,
        CAST(COALESCE(nu.new_users, 0) AS BIGINT) AS new_users,
        CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY da.day)
          AS BIGINT) AS cum_users,
        CAST(da.active_users - COALESCE(nu.new_users, 0) AS BIGINT)
          AS returning
      FROM da LEFT JOIN nu ON nu.day = da.day ORDER BY da.day""")),

    // e20: event-TRANSITION matrix (Markov path analysis): per-user
    // consecutive event-type bigrams → corpus transition counts and
    // conditional probabilities. One window over the per-user exchange
    // (ties broken by event_id), then a types²-sized aggregate; the
    // probability divides exact integer counts (integers are exactly
    // representable doubles, so the per-from window sum is
    // order-independent without the decimal detour).
    QueryDef("e20_event_transitions", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      tr.withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type")))
            .cast("double"))
        .orderBy(col("from_type"), col("to_type"))
    }, Some("""
      WITH seq AS (SELECT user_id, event_type,
          LEAD(event_type) OVER (PARTITION BY user_id
            ORDER BY make_timestamp(epoch_ns(ts) // 1000), event_id)
            AS to_type
        FROM events),
      tr AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n
             FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        CAST(n AS DOUBLE) /
          CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM tr ORDER BY from_type, to_type""")),

    QueryDef("e04_funnel", (s, d) => {
      val stages = Seq("view", "click", "purchase")
      graft.streaming.EventStream.funnel(t(s, d, "events"), stages)
        .select(col("user_id"), col("funnel_stage"),
          unix_micros(col("t0")).as("t_view"),
          unix_micros(col("t1")).as("t_click"),
          unix_micros(col("t2")).as("t_purchase"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH ev AS (SELECT user_id, event_type,
              make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
      s0 AS (SELECT user_id, MIN(ts) AS t0 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM ev e
             JOIN s0 ON s0.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts > s0.t0
             GROUP BY e.user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
             JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s1.t1
             GROUP BY e.user_id)
      SELECT u.user_id,
        CAST(CASE WHEN s2.t2 IS NOT NULL THEN 3
             WHEN s1.t1 IS NOT NULL THEN 2
             WHEN s0.t0 IS NOT NULL THEN 1
             ELSE 0 END AS BIGINT) AS funnel_stage,
        epoch_us(s0.t0) AS t_view,
        epoch_us(s1.t1) AS t_click,
        epoch_us(s2.t2) AS t_purchase
      FROM (SELECT DISTINCT user_id FROM ev) u
      LEFT JOIN s0 ON s0.user_id = u.user_id
      LEFT JOIN s1 ON s1.user_id = u.user_id
      LEFT JOIN s2 ON s2.user_id = u.user_id
      ORDER BY u.user_id""")),

    // ------------------------------------------------------------------
    // Skew-safe exact distinct count (two-stage (key,value) spread): the
    // rewrite that survives a hot key where a plain COUNT(DISTINCT) per
    // key funnels one reducer. Oracle is the plain form — same results.
    QueryDef("e03_distinct_users", (s, d) =>
      graft.operators.Skew.exactDistinctCount(
          t(s, d, "events"), col("event_type"), col("user_id"))
        .withColumnRenamed("key", "event_type")
        .orderBy(col("event_type")),
      Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // Streaming exact dedup (dropDuplicatesWithinWatermark): the staged
    // input doubles every event (each parquet file copied twice), the
    // STREAMING query dedups on event_id through a real memory-sink run,
    // and the oracle aggregates the ORIGINAL events — so the check only
    // passes if the stream emitted exactly one copy per event. Single
    // micro-batch here = the state-free baseline; the multi-trigger
    // steady state (watermark advancing between micro-batches, duplicates
    // dropped by live state or the late filter) is oracle-checked by
    // e06b below and rule-pinned in StreamingSpec.
    QueryDef("e06_stream_dedup", (s, d) => {
      val dir = stageEvents(s, d, "events_dup", copies = 2)
      val sink = s"e06_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .dedupStream(graft.streaming.EventStream.source(s, dir, None))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      }
    }, Some("""
      SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // Streaming dedup ACROSS MULTIPLE TRIGGERS — the steady-state
    // watermark-retention path e06's single batch can't see. Events are
    // staged as 4 chronological slices, each its own micro-batch with the
    // watermark advancing between triggers. Every event is staged three
    // times: original, a same-batch duplicate, and a NEXT-trigger
    // duplicate. Chronological slicing makes every duplicate's fate
    // deterministic regardless of how the source batches the appends: a
    // duplicate with ts >= watermark still has live dedup state (eviction
    // needs watermark > ts + tolerance, impossible while ts >= watermark),
    // and one with ts < watermark is dropped by the late-input filter —
    // StreamingSpec pins both rules. The oracle aggregates the ORIGINAL
    // events, so the check passes only if the stream emitted exactly one
    // copy per event across all triggers.
    QueryDef("e06b_stream_dedup_triggers", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val es = graft.streaming.EventStream
      // footer-inferred schema, NOT a hard-coded one: slicing and
      // re-writing in the file's own encoding keeps the staged directory
      // homogeneous whatever ts encoding the external writer shipped
      val raw = Tables.read(s, s"$d/events.parquet")
      val rawCols = raw.schema.fieldNames.map(col).toSeq
      val nSlices = 4
      val sliced = raw.withColumn("slice",
          ntile(nSlices).over(Window.orderBy(col("ts"), col("event_id"))))
        .localCheckpoint(true) // 6 consumers of one tiny global-sort window
      def slice(k: Int) = sliced.filter(col("slice") === k).select(rawCols: _*)
      val dir = s"${SourceQueries.stage}/events_dup_triggers"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      def append(df: org.apache.spark.sql.DataFrame): Unit =
        df.repartition(1).write.mode("append").parquet(dir)
      append(slice(1).union(slice(1))) // trigger 1: originals + in-batch dups
      val sink = s"e06b_sink_${sinkRuns.incrementAndGet()}"
      val q = es.dedupStream(es.source(s, dir, None))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        (2 to nSlices).foreach { k =>
          // trigger k: slice k twice + a cross-trigger replay of slice k-1
          append(slice(k).union(slice(k)).union(slice(k - 1)))
          q.processAllAvailable()
        }
        append(slice(nSlices)) // final trigger: replay of the last slice
        q.processAllAvailable()
      } finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      }
    }, Some("""
      SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // Streaming stateful sessionization, oracle-checked end to end: the
    // REAL flatMapGroupsWithState query processes the events in batch 1,
    // then two synthetic far-future heartbeat batches push the event-time
    // watermark past every real session's gap deadline — batch 2 advances
    // the watermark, batch 3's data batch fires every timeout — so ALL
    // real sessions close deterministically. The oracle reconstructs the
    // same per-session rows (start, end, count under the 30-minute gap
    // rule) from the batch table. The heartbeats use negative user_ids
    // and are filtered from the output; their own sessions never close.
    QueryDef("e08_stream_sessions", (s, d) => {
      val dir = stageEvents(s, d, "events_sessions", copies = 1)
      val sink = s"e08_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .sessionize(graft.streaming.EventStream.source(s, dir, None))
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        // two heartbeats, each its own micro-batch: first advances the
        // watermark, second's data batch evaluates every timed-out state
        def heartbeat(n: Int, yearsAhead: Int): Unit = {
          // year 2100/2101: decades past any event, still inside the ns
          // Long range even if the staged encoding is nanos-as-long (year
          // 2500 in nanos overflows and the watermark would silently never
          // advance). Written in the staged directory's own ts encoding.
          graft.streaming.EventStream.appendSyntheticEvent(s, dir,
            eventId = -1L * n,
            ts = java.time.Instant.parse(s"${2100 + yearsAhead}-01-01T00:00:00Z"),
            userId = -1L * n, eventType = "hb", value = 0.0, props = "{}")
          q.processAllAvailable()
        }
        heartbeat(1, 0)
        heartbeat(2, 1)
      } finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("session_start"))
      }
    }, Some("""
      -- the stream's state carries millisecond epochs (java.sql.Timestamp
      -- getTime), so the gap rule compares at ms precision — the oracle
      -- truncates to ms BEFORE the gap test, or borderline sub-ms gaps
      -- split differently between engines
      WITH ev AS (SELECT user_id,
              epoch_ms(make_timestamp(epoch_ns(ts) // 1000)) AS ms
            FROM events),
      flagged AS (SELECT user_id, ms,
          CASE WHEN LAG(ms) OVER w IS NULL
                 OR ms - LAG(ms) OVER w > 1800000 THEN 1
               ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      sess AS (SELECT user_id, ms,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, CAST(MIN(ms) AS BIGINT) AS session_start,
        CAST(MAX(ms) AS BIGINT) AS session_end,
        COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start""")),

    // ------------------------------------------------------------------
    // As-of join (point-in-time lookup): each purchase picks up the
    // LATEST view at-or-before it per user. Spark has no native as-of
    // join; the operator is the tagged-union + running-window form (one
    // exchange on user_id, linear — see AsofJoin's scaladoc), checked
    // against DuckDB's first-class ASOF LEFT JOIN. The right side is
    // pre-aggregated per (user_id, ts) so both engines' equal-ts tie
    // policies are vacuously identical.
    QueryDef("e09_asof_join", (s, d) => {
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.operators.AsofJoin.asofJoin(purchases, views, Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts"), col("purchase_value"),
          col("r_view_value").as("view_value"),
          unix_micros(col("r_ts")).as("view_ts"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH ev AS (SELECT event_id, user_id,
              make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type, value
            FROM events),
      p AS (SELECT event_id, user_id, ts, value AS purchase_value FROM ev
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts, MAX(value) AS view_value FROM ev
            WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
        p.purchase_value, v.view_value, epoch_us(v.ts) AS view_ts
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY p.event_id""")),

    // ------------------------------------------------------------------
    // Tolerance'd as-of join (merge_asof(tolerance) semantics): a match
    // staler than 10 minutes is nulled — the match is still the LATEST
    // view (tolerance filters; it never falls back to an older row), so
    // the oracle is the same ASOF join with a CASE gate on staleness.
    QueryDef("e09b_asof_tolerance", (s, d) => {
      val e = t(s, d, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.operators.AsofJoin.asofJoin(purchases, views, Seq("user_id"),
          toleranceMicros = Some(10L * 60L * 1000000L))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts"),
          col("r_view_value").as("view_value"),
          unix_micros(col("r_ts")).as("view_ts"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH ev AS (SELECT event_id, user_id,
              make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type, value
            FROM events),
      p AS (SELECT event_id, user_id, ts FROM ev
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts, MAX(value) AS view_value FROM ev
            WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
        CASE WHEN p.ts - v.ts <= INTERVAL '10 minutes' THEN v.view_value
             END AS view_value,
        CASE WHEN p.ts - v.ts <= INTERVAL '10 minutes' THEN epoch_us(v.ts)
             END AS view_ts
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY p.event_id""")),

    // ------------------------------------------------------------------
    // Stream-stream interval join (attribution window): every view in the
    // 60 minutes before each purchase, through a REAL watermarked
    // stream-stream join into a memory sink. The range condition is what
    // bounds both sides' join state at scale (a view is evicted once the
    // watermark passes ts + window). Single micro-batch here = the
    // complete-result mode the batch oracle can check exactly;
    // StreamingSpec pins the cross-batch incremental behavior.
    QueryDef("e10_stream_interval_join", (s, d) => {
      val dir = stageEvents(s, d, "events_interval", copies = 1)
      val es = graft.streaming.EventStream
      val purchases = es.source(s, dir, None)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val views = es.source(s, dir, None)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("value").as("view_value"))
      val sink = s"e10_sink_${sinkRuns.incrementAndGet()}"
      val q = es.intervalJoin(purchases, views, "user_id", "v_user", "v_ts",
          windowMinutes = 60)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts"), col("purchase_value"),
          unix_micros(col("v_ts")).as("view_ts"), col("view_value"))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.orderBy(col("event_id"), col("view_ts"), col("view_value"))
      }
    }, Some("""
      WITH ev AS (SELECT event_id, user_id,
              make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type, value
            FROM events),
      p AS (SELECT event_id, user_id, ts, value AS purchase_value FROM ev
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts AS v_ts, value AS view_value FROM ev
            WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
        p.purchase_value, epoch_us(v.v_ts) AS view_ts, v.view_value
      FROM p JOIN v ON p.user_id = v.user_id
        AND v.v_ts >= p.ts - INTERVAL '60 minutes' AND v.v_ts <= p.ts
      ORDER BY p.event_id, view_ts, view_value""")),

    // ------------------------------------------------------------------
    // LEFT-OUTER stream-stream interval join: purchases with NO view in
    // their window must also emit (null view columns). Outer emission is
    // watermark-gated — Spark releases an unmatched probe row only once
    // the watermark proves no future build row can match — so two
    // far-future heartbeats (one per input stream, negative user_ids,
    // written in the staged dir's own encoding) push the min-across-
    // inputs watermark past every real purchase's window. The oracle is
    // the batch LEFT JOIN; NULLS FIRST pinned on both sides (Spark's
    // asc default vs DuckDB's NULLS LAST).
    QueryDef("e10b_interval_left_outer", (s, d) => {
      val dir = stageEvents(s, d, "events_interval_outer", copies = 1)
      val es = graft.streaming.EventStream
      val purchases = es.source(s, dir, None)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"))
      val views = es.source(s, dir, None)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("value").as("view_value"))
      val sink = s"e10b_sink_${sinkRuns.incrementAndGet()}"
      val q = es.intervalJoin(purchases, views, "user_id", "v_user", "v_ts",
          windowMinutes = 60, joinType = "left_outer")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts"), col("purchase_value"),
          unix_micros(col("v_ts")).as("view_ts"), col("view_value"))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        // one heartbeat per INPUT STREAM (the query watermark is the min
        // over both sides' event-time stats; a row filtered out of a side
        // never advances it): a 2100 purchase and a 2100 view, then a
        // second pair so the advanced watermark's eviction pass runs
        Seq(0, 1).foreach { k =>
          es.appendSyntheticEvent(s, dir, eventId = -10L - k,
            ts = java.time.Instant.parse(s"${2100 + k}-01-01T00:00:00Z"),
            userId = -1L, eventType = "purchase", value = 0.0, props = "{}")
          es.appendSyntheticEvent(s, dir, eventId = -20L - k,
            ts = java.time.Instant.parse(s"${2100 + k}-01-01T00:00:00Z"),
            userId = -2L, eventType = "view", value = 0.0, props = "{}")
          q.processAllAvailable()
        }
      } finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.filter(col("user_id") >= 0)
          .orderBy(col("event_id"), col("view_ts").asc_nulls_first,
            col("view_value").asc_nulls_first)
      }
    }, Some("""
      WITH ev AS (SELECT event_id, user_id,
              make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type, value
            FROM events),
      p AS (SELECT event_id, user_id, ts, value AS purchase_value FROM ev
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts AS v_ts, value AS view_value FROM ev
            WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts,
        p.purchase_value, epoch_us(v.v_ts) AS view_ts, v.view_value
      FROM p LEFT JOIN v ON p.user_id = v.user_id
        AND v.v_ts >= p.ts - INTERVAL '60 minutes' AND v.v_ts <= p.ts
      ORDER BY p.event_id, view_ts NULLS FIRST, view_value NULLS FIRST""")),

    // ------------------------------------------------------------------
    // Streaming watermarked hourly aggregation, oracle-checked end to end
    // (previously only spec-checked against its batch twin): the REAL
    // windowed streaming query drains the staged directory into a memory
    // sink and must reproduce the batch GROUP BY hour exactly.
    QueryDef("e11_stream_hourly", (s, d) => {
      val dir = stageEvents(s, d, "events_hourly_stream", copies = 1)
      val sink = s"e11_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream.runToMemory(s, dir, sink)
      q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.select(unix_micros(col("window_start")).as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      }
    }, Some("""
      SELECT epoch_us(date_trunc('hour', ts)) AS window_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type,
              value FROM events) e
      GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // ------------------------------------------------------------------
    // Streaming per-window top-k (trending-now): the unbounded counting
    // runs as the real watermarked streaming aggregation into the memory
    // sink; the rank is a batch post-pass over the drained window×type
    // aggregate — a relation whose size is windows × distinct types,
    // independent of event volume (rank windows aren't supported inside
    // streaming complete mode, and don't need to be: this split IS the
    // canonical pattern). Ties rank by event_type, so rows hash-check.
    QueryDef("e17_stream_topk", (s, d) => {
      val dir = stageEvents(s, d, "events_topk_stream", copies = 1)
      val sink = s"e17_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream.runToMemory(s, dir, sink)
      q.stop()
      materializeAndDropSink(s, sink) { t =>
        graft.streaming.EventStream.topKPerWindow(t, 3)
          .select(unix_micros(col("window_start")).as("window_start"),
            col("event_type"), col("n"), col("rank"))
          .orderBy(col("window_start"), col("rank"))
      }
    }, Some("""
      WITH agg AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start, event_type,
          COUNT(*) AS n
        FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type
              FROM events) e
        GROUP BY 1, 2),
      ranked AS (SELECT window_start, event_type, n,
          ROW_NUMBER() OVER (PARTITION BY window_start
            ORDER BY n DESC, event_type) AS rank
        FROM agg)
      SELECT window_start, event_type, n, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY window_start, rank""")),

    // ------------------------------------------------------------------
    // e18: WATERMARK LATE-DATA DROP, oracle-checked. Three staggered
    // arrivals (on-time events → the same events shifted 6 h into the
    // past → a far-future heartbeat), each landing after the previous
    // drain so the committed watermark is in effect (a pre-staged backlog
    // would process the late file under the PRE-on-time watermark and
    // drop nothing — see stageLateDataFixture): the on-time batch sets
    // the watermark, every late row arrives with its window expired and
    // is DROPPED, and the heartbeat closes all on-time windows so append
    // mode emits exactly them (its own never-closed window held back).
    // Emitted rows must therefore equal the batch hourly aggregate of
    // the events table alone — if the stream failed to drop late data,
    // every shifted window would surface as extra rows and the hash
    // would catch it.
    QueryDef("e18_stream_late_data", (s, d) => {
      val dir = s"${SourceQueries.stage}/events_late"
      val arrive = graft.streaming.EventStream.stageLateDataFixture(s, d, dir)
      arrive(0)() // on-time file present before the stream starts
      val sink = s"e18_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .hourlyAgg(graft.streaming.EventStream.source(s, dir, Some(1)))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        arrive(1)(); q.processAllAvailable() // late file: dropped
        arrive(2)(); q.processAllAvailable() // heartbeat: flush windows
      } finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.select(unix_micros(col("window_start")).as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      }
    }, Some("""
      SELECT epoch_us(date_trunc('hour', ts)) AS window_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM (SELECT make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type,
              value FROM events) e
      GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // ------------------------------------------------------------------
    // SLIDING-window streaming rollup: 1-hour windows every 15 minutes —
    // each event belongs to exactly 4 overlapping windows. The oracle
    // reconstructs the window set arithmetically (floor-to-slide minus
    // k slides), so the stream's window assignment itself is what's
    // hash-checked, not just the aggregate values.
    QueryDef("e14_stream_sliding", (s, d) => {
      val dir = stageEvents(s, d, "events_sliding", copies = 1)
      val sink = s"e14_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .slidingAgg(graft.streaming.EventStream.source(s, dir, None))
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.select(unix_micros(col("window_start")).as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("window_start"), col("event_type"))
      }
    }, Some("""
      SELECT ws AS window_start, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM (SELECT
              ((epoch_ns(ts) // 1000) // 900000000 * 900000000)
                - k.i * 900000000 AS ws,
              event_type, value
            FROM events, (SELECT unnest(range(0, 4)) AS i) k) e
      GROUP BY ws, event_type ORDER BY window_start, event_type""")),

    // ------------------------------------------------------------------
    // Stream-STATIC enrichment join: the most common streaming pattern —
    // a live event stream joined to a broadcast dimension table (here
    // customer, every events.user_id keys into c_custkey) and aggregated
    // per segment in complete mode. The static side plans as a broadcast
    // hash join against the stream (no stream-side shuffle for the join);
    // the oracle is the plain batch join + GROUP BY.
    QueryDef("e12_stream_enrich", (s, d) => {
      val dir = stageEvents(s, d, "events_enrich", copies = 1)
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val sink = s"e12_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream.source(s, dir, None)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .writeStream.outputMode("complete").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.orderBy(col("c_mktsegment"))
      }
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // NATIVE session-window streaming aggregation (session_window):
    // Catalyst's built-in merging-session state machine, complementing
    // e08's hand-rolled flatMapGroupsWithState sessionizer. The two carry
    // DIFFERENT boundary rules — session_window merges an event while its
    // ts is STRICTLY inside the previous window (a gap of exactly 30
    // minutes splits), where e08's gap>30min rule keeps it — so the
    // oracle replays >= on the gap where e08's replays >. Sessions close
    // in append mode once far-future heartbeats advance the watermark.
    QueryDef("e15_session_window", (s, d) => {
      val dir = stageEvents(s, d, "events_swin", copies = 1)
      val sink = s"e15_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream.source(s, dir, None)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        (1 to 2).foreach { n =>
          graft.streaming.EventStream.appendSyntheticEvent(s, dir,
            eventId = -1L * n,
            ts = java.time.Instant.parse(s"${2099 + n}-01-01T00:00:00Z"),
            userId = -1L * n, eventType = "hb", value = 0.0, props = "{}")
          q.processAllAvailable()
        }
      } finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start"),
            col("n_events"), col("sum_value"))
          .orderBy(col("user_id"), col("session_start"))
      }
    }, Some("""
      WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value
            FROM events),
      flagged AS (SELECT user_id, us, value,
          CASE WHEN LAG(us) OVER w IS NULL
                 OR us - LAG(us) OVER w >= 1800000000 THEN 1
               ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      sess AS (SELECT user_id, us, value,
          SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, MIN(us) AS session_start, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start""")),

    // ------------------------------------------------------------------
    // Streaming → DELTA sink: every micro-batch lands as ONE atomic Delta
    // commit (foreachBatch ∘ DeltaWrite.append) — the lakehouse ingestion
    // loop where readers always see whole batches, never torn files. Four
    // input files at maxFilesPerTrigger=1 force ≥2 real commits (require'd)
    // and the log-replayed table must reproduce the source exactly.
    QueryDef("e19_stream_delta_sink", (s, d) => {
      import org.apache.hadoop.fs.Path
      val conf = s.sparkContext.hadoopConfiguration
      val inDir = s"${SourceQueries.stage}/events_delta_in"
      val tbl = s"${SourceQueries.stage}/delta_events_sink"
      val fsys = new Path(tbl).getFileSystem(conf)
      fsys.delete(new Path(inDir), true)
      fsys.delete(new Path(tbl), true)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(4).write.parquet(inDir)
      val schema = Tables.schema(s, inDir)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        // IDEMPOTENT commits via Delta transaction identifiers (x27):
        // a retried epoch is a no-op, so foreachBatch's at-least-once
        // becomes exactly-once at the sink
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          graft.sources.DeltaWrite.appendIdempotent(
            batch, tbl, "e19_sink", epoch)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val commits = Option(new java.io.File(tbl, "_delta_log").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".json"))
      require(commits >= 2, s"expected one commit per micro-batch, got $commits")
      // a manual replay of an already-committed epoch must be a no-op
      val replay = graft.sources.DeltaWrite.appendIdempotent(
        Tables.read(s, inDir).limit(5), tbl, "e19_sink", 0L)
      require(replay.isEmpty, "replayed epoch 0 was double-committed")
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type, value
      FROM events ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // e26: STREAMING INGEST, TWO PROTOCOL VIEWS — e19's sink composed
    // with the UniForm mirror: each micro-batch lands EXACTLY ONCE in
    // the Delta table (txn identifiers) and the same commit is published
    // as one Iceberg snapshot (version-keyed idempotent sync), so at
    // every batch boundary the directory is simultaneously a current
    // Delta table AND a current Iceberg table over ONE copy of the data.
    // Both halves are retry-safe, so foreachBatch's at-least-once stays
    // exactly-once end-to-end. Pins: one Iceberg snapshot per Delta
    // version (mirror never lags), a post-stream re-sync no-ops, both
    // views row-identical. The oracle hash-checks the DERIVED
    // (Iceberg-side) view — the whole point of the mirror.
    QueryDef("e26_stream_uniform", (s, d) => {
      import org.apache.hadoop.fs.Path
      val conf = s.sparkContext.hadoopConfiguration
      val inDir = s"${SourceQueries.stage}/events_uniform_in"
      val tbl = s"${SourceQueries.stage}/uniform_events_sink"
      val fsys = new Path(tbl).getFileSystem(conf)
      fsys.delete(new Path(inDir), true)
      fsys.delete(new Path(tbl), true)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(4).write.parquet(inDir)
      val schema = Tables.schema(s, inDir)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          graft.sources.DeltaWrite.appendIdempotent(
            batch, tbl, "e26_sink", epoch)
          graft.sources.Uniform.deltaToIceberg(s, tbl)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val snaps = graft.sources.IcebergLog.snapshots(tbl)
      require(snaps.size >= 2, s"expected one snapshot per batch: ${snaps.size}")
      require(snaps.last.summary("delta-version").toLong ==
          graft.sources.DeltaLog.latestVersion(tbl),
        "the Iceberg mirror lags the Delta head")
      require(graft.sources.Uniform.deltaToIceberg(s, tbl).snapshotId.isEmpty,
        "post-stream re-sync was not a no-op")
      require(graft.sources.IcebergLog.read(s, tbl).count() ==
          graft.sources.DeltaLog.read(s, tbl).count(),
        "the two protocol views diverge")
      graft.sources.IcebergLog.read(s, tbl)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT CAST(event_id AS BIGINT) AS event_id,
        CAST(user_id AS BIGINT) AS user_id, event_type, value
      FROM events ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // Streaming ingestion dedup: documents arrive as doc_id-ordered slices
    // (one file per micro-batch, arrival order enforced via file mtimes),
    // and every micro-batch runs the incremental dedup against the
    // accepted store via foreachBatch — the continuous-ingestion loop a
    // lakehouse pipeline runs daily, collapsed to one streaming query.
    // Because slices partition the doc_id range in order, first-arrival ==
    // global min doc_id, so the accepted store must converge to exactly
    // the batch keep-first dedup the oracle computes — whether duplicates
    // collide within one micro-batch (groupBy path) or across micro-
    // batches (anti-join path).
    QueryDef("e13_stream_ingest_dedup", (s, d) => {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.expressions.Window
      val conf = s.sparkContext.hadoopConfiguration
      val inDir = s"${SourceQueries.stage}/docs_ingest"
      val accDir = s"${SourceQueries.stage}/docs_accepted"
      val fsys = new Path(inDir).getFileSystem(conf)
      fsys.delete(new Path(inDir), true)
      fsys.delete(new Path(accDir), true)
      // Planted duplicates exercise both dedup paths: the +10000/+20000
      // clones of the first 50 docs land together in the LAST slice (they
      // collide in-batch → the groupBy keep-min path) and their originals
      // arrived in earlier slices (cross-batch → the anti-join path). All
      // clones carry higher doc_ids than their originals, so keep-first
      // over the ingested union equals keep-min over the base table — the
      // oracle below — and can only be reached by dropping every clone.
      val base = t(s, d, "documents")
      val clones = Seq(10000L, 20000L).map(off =>
        base.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + off))
      val ingest = clones.foldLeft(base)(_ unionByName _)
      val nSlices = 3
      val sliced = ingest.withColumn("__slice",
          ntile(nSlices).over(Window.orderBy(col("doc_id"))))
        .localCheckpoint(true) // one tiny global-sort window, 3 consumers
      var seen = Set.empty[String]
      (1 to nSlices).foreach { k =>
        sliced.filter(col("__slice") === k).drop("__slice")
          .coalesce(1).write.mode("append").parquet(inDir)
        val now = fsys.listStatus(new Path(inDir)).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        now.filterNot(p => seen(p.toString)).foreach(p =>
          // spaced mtimes pin the file-source arrival order to slice order
          fsys.setTimes(p, 1000000000000L + k * 60000L, -1))
        seen = now.map(_.toString).toSet
      }
      val schema = Tables.schema(s, inDir)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val accepted =
            if (fsys.exists(new Path(accDir))) Tables.read(s, accDir)
            else batch.limit(0)
          graft.operators.Dedup.incrementalExact(accepted, batch)
            .write.mode("append").parquet(accDir)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      Tables.read(s, accDir)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH keep AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
                    FROM documents GROUP BY md5(text))
      SELECT k.doc_id, d.lang, d.source
      FROM keep k JOIN documents d ON d.doc_id = k.doc_id
      ORDER BY k.doc_id""")),

    // ------------------------------------------------------------------
    // Streaming funnel advances (flatMapGroupsWithState): the REAL
    // stateful streaming query runs through a memory sink and must emit
    // exactly the advances the batch cascade derives — one row per
    // (user, stage reached), stamped with that stage's first strictly-
    // after completion time. Single micro-batch: within a batch the
    // operator applies events in event-time order, which is exactly the
    // ordered replay the SQL cascade computes.
    QueryDef("e07_stream_funnel", (s, d) => {
      val dir = stageEvents(s, d, "events_stream", copies = 1)
      val sink = s"e07_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .funnelStream(graft.streaming.EventStream.source(s, dir, None),
          Seq("view", "click", "purchase"))
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        t.select(col("user_id"), col("funnel_stage"), col("ts"))
          .orderBy(col("user_id"), col("funnel_stage"))
      }
    }, Some("""
      WITH ev AS (SELECT user_id, event_type,
              make_timestamp(epoch_ns(ts) // 1000) AS ts FROM events),
      s0 AS (SELECT user_id, MIN(ts) AS t0 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM ev e
             JOIN s0 ON s0.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts > s0.t0
             GROUP BY e.user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
             JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s1.t1
             GROUP BY e.user_id)
      SELECT user_id, CAST(1 AS BIGINT) AS funnel_stage, epoch_ms(t0) AS ts FROM s0
      UNION ALL
      SELECT user_id, CAST(2 AS BIGINT), epoch_ms(t1) FROM s1
      UNION ALL
      SELECT user_id, CAST(3 AS BIGINT), epoch_ms(t2) FROM s2
      ORDER BY user_id, funnel_stage""")),

    // ------------------------------------------------------------------
    // Streaming CDC materialization: latest-event-per-user changelog via
    // flatMapGroupsWithState (one fixed-size state record per key), the
    // upsert feed a downstream table materializes. The post-pass folds
    // the emitted changelog to its final row per key — exactly what an
    // upsert sink does — and the oracle recomputes the same argmax
    // (ms-truncated ts, event_id tie-break) from the batch table, so the
    // stream's winner rule is hash-checked end to end. Cross-batch
    // change suppression is pinned in StreamingSpec.
    QueryDef("e22_stream_cdc", (s, d) => {
      val dir = stageEvents(s, d, "events_cdc", copies = 1)
      val sink = s"e22_sink_${sinkRuns.incrementAndGet()}"
      val q = graft.streaming.EventStream
        .latestPerKey(graft.streaming.EventStream.source(s, dir, None))
        .toDF()
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      materializeAndDropSink(s, sink) { t =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .orderBy(col("user_id"))
      }
    }, Some("""
      WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ms, event_id,
              event_type, value FROM events)
      SELECT user_id, ms AS ts, event_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ms DESC, event_id DESC) AS rn
        FROM ev)
      WHERE rn = 1
      ORDER BY user_id""")),

    // ------------------------------------------------------------------
    // BINNED RANGE JOIN: per purchase, how many events (any user, any
    // type) occurred platform-wide in the strictly-prior hour. The range
    // predicate has NO equi key, so a naive plan is a nested-loop over
    // every (purchase, event) pair — O(N·M), fatal at scale (the
    // reference's engine plans the same query as a NestedLoopJoin).
    // RangeJoin.countPrior quantizes the time axis into window-wide bins
    // and probes each purchase's two candidate bins through ONE hash
    // equi-join + residual filter; ScaleSpec pins the plan free of
    // BroadcastNestedLoop/Cartesian. The oracle computes the same count
    // with a correlated range subquery.
    QueryDef("e23_range_join_bin", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      graft.operators.RangeJoin.countPrior(
          purchases, ev.select(col("ts")), "ts", "ts",
          windowSec = 3600L, keyCols = Seq("event_id"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH ev AS (SELECT epoch_us(ts) AS us FROM events),
      p AS (SELECT event_id, epoch_us(ts) AS us FROM events
            WHERE event_type = 'purchase')
      SELECT p.event_id,
        (SELECT COUNT(*) FROM ev
         WHERE ev.us >= p.us - 3600000000 AND ev.us < p.us) AS n_prior
      FROM p ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // e23b: HIERARCHICAL binned range count — the dense-stream scale
    // path for e23: the build side pre-aggregates into window/8 fine
    // bins, each probe answers as (pre-counted full bins) + (raw rows in
    // the two EDGE bins only), cutting raw candidate pairs ~4× at this
    // m and ~m/2× in general. Exact by construction (the bin split
    // partitions the window) — same oracle as e23, and OperatorsSpec
    // pins equality with the flat form on alignment edge cases.
    QueryDef("e23b_range_join_hier", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      graft.operators.RangeJoin.countPriorBinned(
          purchases, ev.select(col("ts")), "ts", "ts",
          windowSec = 3600L, m = 8, keyCols = Seq("event_id"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH ev AS (SELECT epoch_us(ts) AS us FROM events),
      p AS (SELECT event_id, epoch_us(ts) AS us FROM events
            WHERE event_type = 'purchase')
      SELECT p.event_id,
        (SELECT COUNT(*) FROM ev
         WHERE ev.us >= p.us - 3600000000 AND ev.us < p.us) AS n_prior
      FROM p ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // e25: SCD TYPE 2 dimension build — the warehouse-history
    // materialization of the e22 changelog: instead of keeping only the
    // latest row per key, EVERY change becomes a validity interval
    // (valid_from = its own ts, valid_to = the next change's ts, open
    // interval + is_current flag on the newest). One window over the
    // per-user exchange (lead() for the closing edge, the same
    // (ms, event_id) ordering as the CDC winner rule) — no self-join,
    // no shuffle beyond the keyed exchange, which is the plan you want
    // when rebuilding a 100 TB dimension's history.
    QueryDef("e25_scd2_history", (s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          col("value"),
          expr("unix_micros(ts) div 1000").as("ms"))
        .withColumn("valid_to", lead(col("ms"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ms").as("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }, Some("""
      WITH ev AS (SELECT user_id, event_id, event_type, value,
              epoch_ns(ts) // 1000000 AS ms FROM events)
      SELECT user_id, event_id, event_type, value,
        ms AS valid_from,
        LEAD(ms) OVER w AS valid_to,
        (LEAD(ms) OVER w IS NULL) AS is_current
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
      ORDER BY user_id, valid_from, event_id""")),

    // ------------------------------------------------------------------
    // Streaming CDC → LAKEHOUSE UPSERT on BOTH protocols (the shared
    // [[cdcUpsertSink]] harness): the e22 latest-per-key changelog
    // streams in time-sliced micro-batches, each MERGEd (file-level
    // copy-on-write upsert — x16 / x54) into a table keyed by user_id —
    // the standard "materialize a CDC feed into the lake" architecture.
    cdcUpsertSink("e24_stream_delta_upsert",
      "events_cdc_delta", "delta_cdc_sink",
      tbl => new java.io.File(s"$tbl/_delta_log").isDirectory,
      (b, tbl) => { graft.sources.DeltaWrite.append(b, tbl); () },
      (b, tbl) => {
        graft.sources.DeltaWrite.merge(tbl, b, Seq("user_id")); ()
      },
      (s, tbl) => graft.sources.DeltaLog.read(s, tbl)),

    cdcUpsertSink("e27_stream_iceberg_upsert",
      "events_cdc_iceberg", "iceberg_cdc_sink",
      tbl => new java.io.File(s"$tbl/metadata").isDirectory,
      (b, tbl) => { graft.sources.IcebergLog.append(b, tbl); () },
      (b, tbl) => {
        graft.sources.IcebergLog.merge(b.sparkSession, tbl, b,
          Seq("user_id")); ()
      },
      (s, tbl) => graft.sources.IcebergLog.read(s, tbl)),

    // ------------------------------------------------------------------
    // Full frame/rank coverage: ntile, first_value, moving frame sum,
    // lag — the OVER-clause surface the reference inherits (SURVEY §2.6).
    QueryDef("w03_window_frames", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_custkey") < 50)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val wf = w.rowsBetween(-2, Window.currentRow)
      o.select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          sum(col("o_totalprice").cast("decimal(14,2)")).over(wf)
            .cast("double").as("mov_sum"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        first_value(o_orderkey) OVER w AS first_ok,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER wf AS DOUBLE) AS mov_sum,
        lag(o_totalprice, 1) OVER w AS prev_price
      FROM orders WHERE o_custkey < 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")),

    // ------------------------------------------------------------------
    // Remaining rank-family coverage: dense_rank, percent_rank,
    // cume_dist. Both ratios are exact small-integer divisions under a
    // total order (o_orderkey unique), so the doubles are bit-identical
    // across engines; single-row partitions define percent_rank = 0 in
    // both.
    QueryDef("w04_rank_variants", (s, d) => {
      val o = t(s, d, "orders").filter(col("o_custkey") < 40)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).cast("long").as("drank"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        PERCENT_RANK() OVER w AS prank,
        CUME_DIST() OVER w AS cdist
      FROM orders WHERE o_custkey < 40
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      ORDER BY o_custkey, o_orderkey""")),

    // ------------------------------------------------------------------
    // Time-RANGE window frame: per-user rolling 1-hour event count/value —
    // the "activity in the trailing hour" shape RANGE frames exist for
    // (ROWS frames can't express it: event density varies). Both engines
    // order by epoch MICROseconds (the events table's precision after the
    // nanos→micros normalization in Tables.loadEvents), so frame bounds
    // and peer groups agree bit-exactly under either physical encoding.
    QueryDef("w05_time_range_window", (s, d) => {
      val e = t(s, d, "events").filter(col("user_id") < 40)
        .withColumn("tus", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(12,2)")).over(w).cast("double")
            .as("sum_1h"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id,
        COUNT(*) OVER w AS n_1h,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_1h
      FROM (SELECT event_id, user_id, value,
              epoch_ns(ts) // 1000 AS tus FROM events WHERE user_id < 40) e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // IGNORE NULLS forward-fill (LOCF gap-fill) — the sensor/time-series
    // repair operator: sparse readings (here: value only on 'purchase'
    // events) carried forward per user along event time. One window over
    // the user exchange; ties on ts break by event_id so the fill order
    // is total. Leading rows before a user's first reading stay NULL —
    // the honest answer, pinned by the oracle.
    QueryDef("w06_gap_fill", (s, d) => {
      val e = t(s, d, "events").filter(col("user_id") < 40)
        .withColumn("reading",
          when(col("event_type") === "purchase", col("value")))
        .withColumn("tus", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("event_id"), col("user_id"), col("event_type"),
          col("reading"),
          last(col("reading"), ignoreNulls = true).over(w).as("filled"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, event_type, reading,
        LAST_VALUE(reading IGNORE NULLS) OVER w AS filled
      FROM (SELECT event_id, user_id, event_type,
              CASE WHEN event_type = 'purchase' THEN value END AS reading,
              epoch_ns(ts) // 1000 AS tus
            FROM events WHERE user_id < 40) e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // Registered JSON function surface (json_get / json_contains — the
    // reference's functions-json names; SURVEY §2.9).
    QueryDef("j02_json_functions", (s, d) => {
      graft.functions.JsonFunctions.register(s)
      t(s, d, "events")
        .select(col("event_id"),
          call_udf("json_get", col("props"), lit("k")).as("k_str"),
          call_udf("json_contains", col("props"), lit("k")).as("has_k"),
          call_udf("json_contains", col("props"), lit("zz")).as("has_zz"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        json_extract(props, '$.k') IS NOT NULL AS has_k,
        json_extract(props, '$.zz') IS NOT NULL AS has_zz
      FROM events ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // Grouping sets (ROLLUP): order counts and value by status and
    // priority with subtotals (SURVEY §2.5 notes cube/rollup support).
    // ------------------------------------------------------------------
    // PIVOT: status × priority matrix via the relational pivot operator
    // (Dataset.pivot with EXPLICIT pivot values — the form that skips the
    // extra distinct-values job and keeps the plan a single hash
    // aggregate; at 100 TB an implicit pivot first scans the corpus just
    // to learn the columns). The oracle states the same rotation as
    // portable conditional aggregation.
    QueryDef("g04_pivot", (s, d) => {
      val o = t(s, d, "orders")
      o.groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"))
        .select(col("o_orderstatus").as("status"),
          col("1-URGENT").as("p1_urgent"), col("2-HIGH").as("p2_high"),
          col("3-MEDIUM").as("p3_medium"),
          col("4-NOT SPECIFIED").as("p4_not_specified"),
          col("5-LOW").as("p5_low"))
        .orderBy(col("status"))
    }, Some("""
      SELECT o_orderstatus AS status,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
          THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS p1_urgent,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
          THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS p2_high,
        CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
          THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS p3_medium,
        CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
          THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS p4_not_specified,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
          THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS p5_low
      FROM orders GROUP BY o_orderstatus ORDER BY status""")),

    // ------------------------------------------------------------------
    // UNPIVOT: the inverse rotation (wide metric columns → long
    // (metric, value) rows) via Dataset.unpivot — a narrow per-row
    // expansion, no shuffle beyond the feeding aggregate. Round-trips
    // g04's matrix back to long form; the oracle uses UNION ALL (the
    // portable statement of UNPIVOT).
    QueryDef("g05_unpivot", (s, d) => {
      val o = t(s, d, "orders")
      val wide = o.groupBy(col("o_orderstatus").as("status"))
        .agg(
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
            .as("total_price"),
          count(lit(1)).cast("double").as("n_orders"),
          countDistinct(col("o_custkey")).cast("double").as("n_customers"))
      wide.unpivot(Array(col("status")),
          Array(col("total_price"), col("n_orders"), col("n_customers")),
          "metric", "value")
        .orderBy(col("status"), col("metric"))
    }, Some("""
      WITH wide AS (SELECT o_orderstatus AS status,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
            AS total_price,
          CAST(COUNT(*) AS DOUBLE) AS n_orders,
          CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers
        FROM orders GROUP BY o_orderstatus)
      SELECT status, metric, value FROM (
        SELECT status, 'total_price' AS metric, total_price AS value FROM wide
        UNION ALL
        SELECT status, 'n_orders' AS metric, n_orders AS value FROM wide
        UNION ALL
        SELECT status, 'n_customers' AS metric, n_customers AS value FROM wide)
      ORDER BY status, metric""")),

    QueryDef("g01_rollup", (s, d) => {
      val o = t(s, d, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")),

    // ------------------------------------------------------------------
    // CUBE: every grouping-set combination including per-priority totals.
    QueryDef("g02_cube", (s, d) => {
      val o = t(s, d, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")),

    // ------------------------------------------------------------------
    // Explicit GROUPING SETS through the SQL surface (per-status,
    // per-priority and grand-total sets — neither a rollup nor a cube).
    QueryDef("g03_grouping_sets", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("g03_orders")
      s.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          COALESCE(o_orderpriority, 'ALL') AS priority,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        FROM g03_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority"""))
  )
}
