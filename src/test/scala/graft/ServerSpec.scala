package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import graft.core.{InformationSchema, S3Config, SessionFactory}
import graft.exec.{ExecutionContext, PlanCache}
import graft.server.HttpServer

/** Server-side surfaces (SURVEY §2.11): HTTP facade, FlightSQL-style
  * plan-once/execute-later cache, auth, information_schema over SQL, and
  * the S3 config mapping.
  */
class ServerSpec extends SparkSpec {

  private def get(port: Int, path: String, auth: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET()
    auth.foreach(a => b.header("Authorization", a))
    val r = HttpClient.newHttpClient().send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("HTTP /sql runs SQL with result limit; errors are 400; requests observed") {
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx, resultLimit = 3)
    server.start()
    try {
      val (st, body) = post(server.boundPort, "/sql",
        """{"sql": "SELECT id FROM RANGE(10) ORDER BY id"}""")
      assert(st === 200)
      assert(body === """[{"id":0},{"id":1},{"id":2}]""") // limit applied
      val (st2, body2) = post(server.boundPort, "/sql", "SELECT 1 AS one") // raw text body
      assert(st2 === 200 && body2 === """[{"one":1}]""")
      val (st3, body3) = post(server.boundPort, "/sql", "SELECT * FROM nope_missing")
      assert(st3 === 400 && body3.contains("error"))
      val obs = ctx.observability.toDF.filter("path = '/sql'").collect()
      val statuses = obs.map(_.getAs[Int]("status")).toSeq
      assert(statuses.count(_ == 200) >= 2 && statuses.contains(400))
      // row counts recorded for successful requests (3 for the limited one)
      assert(obs.filter(_.getAs[Int]("status") == 200)
        .map(_.getAs[Long]("rows")).contains(3L))
    } finally server.stop()
  }

  test("/metrics serves Prometheus text; counters increment across requests") {
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx, resultLimit = 100)
    server.start()
    try {
      post(server.boundPort, "/sql", "SELECT id FROM RANGE(4) ORDER BY id")
      post(server.boundPort, "/sql", "SELECT 1 AS one")
      post(server.boundPort, "/sql", "SELECT * FROM nope_metrics")
      val (st, body) = get(server.boundPort, "/metrics")
      assert(st === 200)
      assert(body.contains("# TYPE graft_requests_total counter"))
      assert(body.contains("""graft_requests_total{path="/sql",status="200"} 2"""))
      assert(body.contains("""graft_requests_total{path="/sql",status="400"} 1"""))
      // histogram: every /sql request lands in some bucket; count totals 3
      assert(body.contains("""graft_request_duration_ms_count{path="/sql"} 3"""))
      assert(body.contains("""graft_request_duration_ms_bucket{path="/sql",le="+Inf"} 3"""))
      // rows served: 4 + 1 from the two successful queries
      assert(body.contains("""graft_rows_served_total{path="/sql"} 5"""))
      // a second scrape sees the first (completed requests only, so the
      // first /metrics request is now itself counted)
      val (_, body2) = get(server.boundPort, "/metrics")
      assert(body2.contains("""graft_requests_total{path="/metrics",status="200"} 1"""))
    } finally server.stop()
  }

  /** The exposition as it reads when derived from the rows themselves: the
    * running counters must render exactly this for the same requests.
    */
  private def expositionOf(records: Seq[org.apache.spark.sql.Row]): String = {
    val buckets = Seq(5L, 10L, 25L, 50L, 100L, 250L, 500L, 1000L, 2500L, 5000L)
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    val byPath = records.groupBy(_.getString(1)).toSeq.sortBy(_._1)
    val sb = new StringBuilder
    sb ++= "# HELP graft_requests_total Requests served, by path and status.\n"
    sb ++= "# TYPE graft_requests_total counter\n"
    records.groupBy(r => (r.getString(1), r.getInt(6))).toSeq.sortBy(_._1)
      .foreach { case ((p, st), rs) =>
        sb ++= s"""graft_requests_total{path="${esc(p)}",status="$st"} ${rs.size}\n"""
      }
    sb ++= "# HELP graft_request_duration_ms Request latency, by path.\n"
    sb ++= "# TYPE graft_request_duration_ms histogram\n"
    byPath.foreach { case (p, rs) =>
      val d = rs.map(_.getLong(4))
      buckets.foreach { le =>
        sb ++= s"""graft_request_duration_ms_bucket{path="${esc(p)}",le="$le"} ${d.count(_ <= le)}\n"""
      }
      sb ++= s"""graft_request_duration_ms_bucket{path="${esc(p)}",le="+Inf"} ${d.size}\n"""
      sb ++= s"""graft_request_duration_ms_sum{path="${esc(p)}"} ${d.sum}\n"""
      sb ++= s"""graft_request_duration_ms_count{path="${esc(p)}"} ${d.size}\n"""
    }
    sb ++= "# HELP graft_rows_served_total Result rows returned, by path.\n"
    sb ++= "# TYPE graft_rows_served_total counter\n"
    byPath.foreach { case (p, rs) =>
      val n = rs.flatMap(r => Option(r.get(5)).map(_.asInstanceOf[Long])).sum
      sb ++= s"""graft_rows_served_total{path="${esc(p)}"} $n\n"""
    }
    sb.result()
  }

  private def recordN(obs: graft.tables.Observability, path: String, n: Int): Unit =
    (0 until n).foreach(i => obs.record(Some(s"$path-$i"), path, Some("SELECT 1"),
      new java.sql.Timestamp(0L), i.toLong, Some(1L), 200))

  test("/metrics text from running counters equals the exposition of the rows") {
    val obs = new ExecutionContext(spark).observability
    val rnd = new scala.util.Random(7)
    val paths = Seq("/sql", "/metrics", "/table/dft/public/t", "stream:q\"x\\y\nz")
    (0 until 400).foreach { i =>
      obs.record(None, paths(rnd.nextInt(paths.size)), None,
        new java.sql.Timestamp(0L),
        // every bucket edge, the gaps between them, past 5000, and -1 (a
        // stream batch without a trigger time)
        Seq(-1L, 0L, 5L, 6L, 10L, 99L, 100L, 2500L, 4999L, 5000L, 5001L, 70000L)(
          rnd.nextInt(12)),
        if (rnd.nextBoolean()) Some(rnd.nextInt(50).toLong) else None,
        Seq(200, 400, 401, 404, 500)(rnd.nextInt(5)))
    }
    assert(graft.server.PrometheusText.render(obs.counters) ===
      expositionOf(obs.records))
  }

  test("/metrics keeps at most MaxPaths path labels and counts the rest as other") {
    val obs = new ExecutionContext(spark).observability
    val perThread = 2500
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until perThread).foreach { i =>
        obs.record(None, s"/execute/$t-$i", None, new java.sql.Timestamp(0L), 1L, None, 200)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val totals = graft.server.PrometheusText.render(obs.counters).linesIterator
      .filter(_.startsWith("graft_requests_total{")).toSeq
    val labels = totals.map(l => l.substring(l.indexOf('"') + 1, l.indexOf("\",status=")))
    assert(labels.distinct.size <= graft.server.PrometheusText.MaxPaths + 1)
    assert(labels.contains(graft.server.PrometheusText.OtherPath))
    assert(totals.map(_.split(' ').last.toLong).sum === 4L * perThread)
    // the request log keeps every raw path
    assert(obs.records.map(_.getString(1)).distinct.size === 4 * perThread)
  }

  test("request log: 100000 records from 4 threads keep the newest Capacity rows") {
    val ctx = new ExecutionContext(spark)
    val obs = ctx.observability
    val perThread = 25000
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until perThread).foreach { i =>
        obs.record(Some(s"$t-$i"), "/load", None, new java.sql.Timestamp(0L),
          1L, Some(1L), if (i % 10 == 0) 500 else 200)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val cap = graft.tables.Observability.Capacity
    val recs = obs.records
    assert(recs.size === cap)
    assert(spark.sql("SELECT count(*) FROM observability_requests")
      .head.getLong(0) === cap.toLong)
    // oldest first: each thread's rows keep their order, and the last row
    // is the final record of the thread that recorded last
    val ids = recs.map(_.getString(0).split('-').map(_.toInt))
    ids.groupBy(_(0)).values.foreach { rs =>
      val is = rs.map(_(1))
      assert(is === is.sorted)
    }
    assert(ids.last(1) === perThread - 1)
    // the counters stay cumulative after the ring wraps
    val server = new HttpServer(ctx)
    server.start()
    try {
      val (st, body) = get(server.boundPort, "/metrics")
      assert(st === 200)
      val counts = body.linesIterator
        .filter(_.startsWith("""graft_requests_total{path="/load","""))
        .map(_.split(' ').last.toLong).toSeq
      assert(counts.sum === 4L * perThread)
    } finally server.stop()
  }

  test("request log: a DataFrame over the view sees records made after it was built") {
    val obs = new ExecutionContext(spark).observability
    recordN(obs, "/early", 1)
    val viaView = spark.table("observability_requests").filter("path = '/late'")
    val viaToDF = obs.toDF.filter("path = '/late'")
    recordN(obs, "/late", 3)
    assert(viaView.collect().length === 3)
    assert(viaToDF.count() === 3L)
  }

  test("request log: the view follows the context that recorded last") {
    val a = new ExecutionContext(spark).observability
    val b = new ExecutionContext(spark).observability
    def viewPaths() = spark.sql("SELECT path FROM observability_requests")
      .collect().map(_.getString(0)).toSeq.sorted
    recordN(a, "/a", 1)
    assert(viewPaths() === Seq("/a"))
    recordN(b, "/b", 2)
    assert(viewPaths() === Seq("/b", "/b"))
    recordN(a, "/a", 1)
    assert(viewPaths() === Seq("/a", "/a"))
  }

  test("serve-http subcommand wires config auth/limit onto a live server") {
    val f = java.nio.file.Files.createTempFile("graft-serve", ".toml")
    java.nio.file.Files.writeString(f,
      """[server]
        |result_limit = "2"
        |[auth]
        |bearer_token = "tok123"
        |""".stripMargin)
    val server = cli.Main.serveHttp(
      Map("--addr" -> "127.0.0.1:0", "--config" -> f.toString,
        "--master" -> "local[*]"))
    try {
      val port = server.boundPort
      assert(get(port, "/catalog")._1 === 401) // auth required
      val (st, body) = get(port, "/metrics", Some("Bearer tok123"))
      assert(st === 200 && body.contains("graft_requests_total"))
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/sql"))
          .header("Authorization", "Bearer tok123")
          .POST(HttpRequest.BodyPublishers.ofString(
            "SELECT id FROM RANGE(9) ORDER BY id", StandardCharsets.UTF_8))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.body() === """[{"id":0},{"id":1}]""") // result_limit = 2
    } finally server.stop()
  }

  test("HTTP /catalog, /table/:c/:s/:t and /tpch/:n endpoints") {
    import spark.implicits._
    Seq((1, "x"), (2, "y")).toDF("id", "s").createOrReplaceTempView("http_t")
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx,
      tpchQuery = Some(n => spark.sql(s"SELECT $n AS q")))
    server.start()
    try {
      val (st, body) = get(server.boundPort, "/catalog")
      assert(st === 200 && body.contains("http_t"))
      val (st2, body2) = get(server.boundPort, "/table/dft/public/http_t")
      assert(st2 === 200 && body2.contains("""{"id":1,"s":"x"}"""))
      val (st3, body3) = get(server.boundPort, "/tpch/7")
      assert(st3 === 200 && body3 === """[{"q":7}]""")
      assert(get(server.boundPort, "/nope")._1 === 404)
    } finally server.stop()
  }

  test("HTTP prepare/execute/close round-trip (plan-once over the wire)") {
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx)
    server.start()
    try {
      val (st, body) = post(server.boundPort, "/prepare",
        """{"sql": "SELECT id * 2 AS dbl FROM RANGE(3) ORDER BY id"}""")
      assert(st === 200 && body.contains("\"handle\"") && body.contains("dbl"))
      val handle = """"handle":"([0-9a-f-]+)"""".r
        .findFirstMatchIn(body).get.group(1)
      val (st2, rows) = get(server.boundPort, s"/execute/$handle")
      assert(st2 === 200 && rows === """[{"dbl":0},{"dbl":2},{"dbl":4}]""")
      val (st3, closed) = get(server.boundPort, s"/close/$handle")
      assert(st3 === 200 && closed === """{"closed":true}""")
      assert(get(server.boundPort, s"/execute/$handle")._1 === 400)
    } finally server.stop()
  }

  test("execute path serves Arrow IPC stream with schema intact") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx)
    server.start()
    try {
      val (st, body) = post(server.boundPort, "/prepare",
        """{"sql": "SELECT id, CAST(id AS STRING) AS s, id * 1.5 AS d, id % 2 = 0 AS b FROM RANGE(10) ORDER BY id"}""")
      assert(st === 200)
      val handle = """"handle":"([0-9a-f-]+)"""".r.findFirstMatchIn(body).get.group(1)
      val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.boundPort}/execute/$handle"))
        .header("Accept", "application/vnd.apache.arrow.stream").GET().build()
      // the encode path must run the plan ONCE: rows are counted inside the
      // Arrow serialization pass, not by a separate count() job
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val resp =
        try {
          val r = HttpClient.newHttpClient()
            .send(req, HttpResponse.BodyHandlers.ofByteArray())
          Thread.sleep(500) // listener events are delivered asynchronously
          r
        } finally spark.sparkContext.removeSparkListener(listener)
      // toLocalIterator runs one job per partition batch (4 for this plan);
      // a separate count() pass for the observability row would add at
      // least one more on top — pin the single-pass behavior
      assert(jobs.get() <= 4, s"Arrow encode ran ${jobs.get()} Spark jobs")
      assert(resp.statusCode() === 200)
      assert(resp.headers().firstValue("Content-Type").orElse("") ===
        "application/vnd.apache.arrow.stream")
      val allocator = new RootAllocator()
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(resp.body()), allocator)
      try {
        val schema = reader.getVectorSchemaRoot.getSchema
        assert(schema.getFields.size === 4)
        assert(schema.getFields.get(0).getName === "id")
        assert(schema.getFields.get(1).getName === "s")
        var rows = 0L
        var ids = Seq.empty[Long]
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          rows += root.getRowCount
          val idVec = root.getVector(0)
            .asInstanceOf[org.apache.arrow.vector.BigIntVector]
          ids ++= (0 until root.getRowCount).map(idVec.get(_))
        }
        assert(rows === 10L)
        assert(ids === (0L until 10L))
      } finally { reader.close(); allocator.close() }
      // the observability row count (tallied during encoding) still matches
      val obsRows = ctx.observability.records
        .filter(_.getString(1).startsWith("/execute/"))
        .flatMap(r => Option(r.get(5)).map(_.asInstanceOf[Long]))
      assert(obsRows.contains(10L), s"observed rows: $obsRows")
      // JSON negotiation still works on the same handle
      val (stJson, rowsJson) = get(server.boundPort, s"/execute/$handle")
      assert(stJson === 200 && rowsJson.startsWith("""[{"id":0"""))
    } finally server.stop()
  }

  test("HTTP requests execute concurrently (reference axum server is concurrent)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx)
    server.start()
    try {
      val results = Await.result(Future.sequence((0 until 8).map { i =>
        Future(post(server.boundPort, "/sql", s"""{"sql": "SELECT $i AS v"}"""))
      }), 60.seconds)
      results.zipWithIndex.foreach { case ((st, body), i) =>
        assert(st === 200 && body === s"""[{"v":$i}]""")
      }
      // all 8 requests observed despite racing appends
      assert(ctx.observability.toDF.filter("path = '/sql'").count() === 8L)
    } finally server.stop()
  }

  test("HTTP auth: bearer and basic accepted, wrong/missing rejected") {
    val ctx = new ExecutionContext(spark)
    val server = new HttpServer(ctx, bearerToken = Some("tok123"),
      basicAuth = Some(("alice", "pw")))
    server.start()
    try {
      assert(get(server.boundPort, "/catalog")._1 === 401)
      assert(get(server.boundPort, "/catalog", Some("Bearer wrong"))._1 === 401)
      assert(get(server.boundPort, "/catalog", Some("Bearer tok123"))._1 === 200)
      val basic = "Basic " + Base64.getEncoder.encodeToString(
        "alice:pw".getBytes(StandardCharsets.UTF_8))
      assert(get(server.boundPort, "/catalog", Some(basic))._1 === 200)
    } finally server.stop()
  }

  test("plan cache: prepare exposes schema, execute runs, close drops") {
    val ctx = new ExecutionContext(spark)
    val cache = new PlanCache(ctx)
    val p = cache.prepare("SELECT id, id * 2 AS dbl FROM RANGE(5)")
    assert(p.schema.fieldNames.toSeq === Seq("id", "dbl"))
    val rows = cache.execute(p.handle).collect()
    assert(rows.length === 5)
    // analysis errors surface at prepare, like the reference's GetFlightInfo
    intercept[Exception](cache.prepare("SELECT * FROM nope_missing"))
    assert(cache.close(p.handle) && !cache.close(p.handle))
    intercept[NoSuchElementException](cache.execute(p.handle))
  }

  test("plan cache: idle handles expire after the TTL") {
    val ctx = new ExecutionContext(spark)
    var now = 0L
    val cache = new PlanCache(ctx, ttlMillis = 1000, clock = () => now)
    val p = cache.prepare("SELECT id FROM RANGE(3)")
    now = 900 // still fresh
    assert(cache.execute(p.handle).count() === 3)
    now = 2000 // idle > ttl since the execute refreshed lastUsed at 900
    intercept[NoSuchElementException](cache.execute(p.handle))
    assert(cache.size === 0)
  }

  test("plan cache: LRU cap evicts the least-recently-used handle") {
    val ctx = new ExecutionContext(spark)
    val cache = new PlanCache(ctx, maxEntries = 2)
    val a = cache.prepare("SELECT id FROM RANGE(1)")
    val b = cache.prepare("SELECT id FROM RANGE(2)")
    cache.execute(a.handle) // refresh a: b is now the LRU entry
    val c = cache.prepare("SELECT id FROM RANGE(3)")
    assert(cache.size === 2)
    intercept[NoSuchElementException](cache.execute(b.handle))
    assert(cache.execute(a.handle).count() === 1)
    assert(cache.execute(c.handle).count() === 3)
  }

  test("information_schema.{tables,columns} queryable through SQL rewrite") {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("is_demo")
    val ctx = new ExecutionContext(spark)
    val tbls = ctx.sql(
      "SELECT table_name FROM information_schema.tables WHERE table_name = 'is_demo'")
      .collect()
    assert(tbls.length === 1)
    val cols = ctx.sql(
      """SELECT column_name, data_type, ordinal_position
        |FROM information_schema.columns WHERE table_name = 'is_demo'
        |ORDER BY ordinal_position""".stripMargin).collect()
    assert(cols.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("k", "int", 1L), ("v", "string", 2L)))
    val schemata = ctx.sql("SELECT * FROM information_schema.schemata").collect()
    assert(schemata.nonEmpty)
    // df_settings (reference serves it at
    // /table/datafusion/information_schema/df_settings): session conf rows
    val settings = ctx.sql(
      """SELECT value FROM information_schema.df_settings
        |WHERE name = 'spark.sql.shuffle.partitions'""".stripMargin).collect()
    assert(settings.map(_.getString(0)).toSeq ===
      Seq(spark.conf.get("spark.sql.shuffle.partitions")))
  }

  test("flightsql catalog commands: shapes, ilike patterns, type filters") {
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("fsql_demo")
    val ctx = new ExecutionContext(spark)
    val cats = graft.server.FlightSqlCatalogs.getCatalogs(ctx)
    assert(cats.columns.toSeq === Seq("catalog_name"))
    assert(cats.collect().nonEmpty)
    val schemas = graft.server.FlightSqlCatalogs.getDbSchemas(ctx,
      schemaPattern = Some("sess%"))
    assert(schemas.columns.toSeq === Seq("catalog_name", "db_schema_name"))
    assert(schemas.collect().map(_.getString(1)).toSeq === Seq("session"))
    val tables = graft.server.FlightSqlCatalogs.getTables(ctx,
      tablePattern = Some("FSQL%"), tableTypes = Seq("TEMPORARY"))
    val names = tables.collect().map(_.getAs[String]("table_name")).toSeq
    assert(names === Seq("fsql_demo")) // ILIKE: case-insensitive pattern
    val types = graft.server.FlightSqlCatalogs.getTableTypes(ctx).collect()
      .map(_.getString(0))
    assert(types.contains("TEMPORARY"))
  }

  test("flightsql GetSqlInfo and GetXdbcTypeInfo match reference shapes") {
    val ctx = new ExecutionContext(spark)
    val info = graft.server.FlightSqlCatalogs.getSqlInfo(ctx)
    assert(info.columns.toSeq ===
      Seq("server_name", "server_version", "arrow_version", "read_only"))
    val row = info.collect().head
    assert(row.getAs[String]("server_name") === "graft")
    assert(row.getAs[Boolean]("read_only") === false)
    val types = graft.server.FlightSqlCatalogs.getXdbcTypeInfo(ctx)
    assert(types.columns.length === 17)
    assert(types.columns.take(3).toSeq ===
      Seq("type_name_num", "type_name_str", "column_size"))
    assert(types.count() === 12L)
    // data_type code filter (reference appends WHERE data_type = n)
    val varchar = graft.server.FlightSqlCatalogs.getXdbcTypeInfo(ctx, Some(12))
      .collect()
    assert(varchar.map(_.getAs[String]("type_name_str")).toSeq === Seq("VARCHAR"))
    assert(varchar.head.getAs[String]("literal_prefix") === "'")
  }

  test("s3 config maps reference object_store keys onto fs.s3a.*") {
    val applied = S3Config(spark, Map(
      "execution.object_store.s3.aws_access_key_id" -> "AK",
      "execution.object_store.s3.aws_secret_access_key" -> "SK",
      "execution.object_store.s3.aws_endpoint" -> "http://localhost:4566",
      "execution.object_store.s3.allow_http" -> "true",
      "unrelated.key" -> "x"))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") === "AK")
    assert(hc.get("fs.s3a.secret.key") === "SK")
    assert(hc.get("fs.s3a.endpoint") === "http://localhost:4566")
    assert(hc.get("fs.s3a.connection.ssl.enabled") === "false")
    assert(hc.get("fs.s3a.path.style.access") === "true")
    assert(!applied.contains("unrelated.key"))
  }

  test("config-driven session passthrough parses TOML-subset files") {
    val f = java.nio.file.Files.createTempFile("graft", ".toml")
    java.nio.file.Files.writeString(f,
      """# comment
        |[execution.spark]
        |"spark.sql.shuffle.partitions" = "7"
        |[server]
        |result_limit = "9"
        |""".stripMargin)
    val conf = SessionFactory.parseConfig(f.toString)
    assert(conf("execution.spark.\"spark.sql.shuffle.partitions\"") == "7" ||
      conf.exists { case (k, v) => k.contains("shuffle.partitions") && v == "7" })
    assert(conf("server.result_limit") === "9")
  }
}
