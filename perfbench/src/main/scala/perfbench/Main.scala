package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{SessionFactory, Tables}
import graft.exec.ExecutionContext
import graft.queries.Registry
import graft.server.HttpServer
import graft.server.flight.FlightSqlServer

/** Benchmark main.
  *
  *   oracles <workload> <sfDir> <out.json>   write the DuckDB oracle SQL of a batch workload's queries
  *   run --workload w --seed n --seconds s --trace 0|1 --sf dir --refs refs.json --out raw.json
  *
  * A run writes raw samples (and, traced, every span) to `--out`; `run.py`
  * turns them into metrics.
  */
object Main {
  val olapQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q06_revenue_forecast", "q09_product_profit", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_waiting_suppliers")
  val lakehouseQueries: Seq[String] = Seq("x16b_delta_merge_partitioned", "x58_iceberg_merge_mor_write")
  val batchQueries: Map[String, Seq[String]] =
    Map("olap_tpch" -> olapQueries, "lakehouse_pipeline" -> lakehouseQueries)
  /** Seconds one measured pass takes on the reference 4-vCPU VM at sf0.01,
    * so that a run measures for about `--seconds` there.
    */
  val passSeconds: Map[String, Double] =
    Map("olap_tpch" -> 10.0, "lakehouse_pipeline" -> 6.0, "serve_sql" -> 3.75)

  /** A generator for `key`. `java.util.Random` seeded with nearby numbers
    * starts with alike draws, so the key is hashed first.
    */
  def rng(key: Long): Random = new Random(new java.util.SplittableRandom(key).nextLong())

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: workload :: sfDir :: out :: Nil =>
      val all = SparkEntry.oracleSqlFor(sfDir)
      val sqls = batchQueries(workload).map(n => n -> all(n))
      Files.write(new File(out).toPath,
        sqls.map { case (n, s) => Json.str(n) + ":" + Json.str(s) }.mkString("{", ",\n", "}").getBytes(UTF_8))
    case "run" :: rest if rest.size % 2 == 0 =>
      val o = rest.grouped(2).map(kv => kv.head.stripPrefix("--") -> kv(1)).toMap
      val code = new BenchRun(o("workload"), o("seed").toLong, o("seconds").toDouble,
        o("trace") == "1", o("sf"), o("refs"), o("out")).run()
      sys.exit(code)
    case _ =>
      System.err.println("usage: oracles <workload> <sfDir> <out> | run --workload w --seed n --seconds s " +
        "--trace 0|1 --sf dir --refs file --out file")
      sys.exit(2)
  }
}

/** Minimal JSON text output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One operation sample. Latencies in milliseconds; the Flight phases are
  * set only on Flight requests.
  */
final case class Op(kind: String, name: String, pass: Int, ms: Double, var ok: Boolean,
    trivial: Boolean = false, info: Double = -1, ttfb: Double = -1, doget: Double = -1) {
  def json: String = Json.obj("kind" -> Json.str(kind), "name" -> Json.str(name),
    "pass" -> pass.toString, "ms" -> Json.num(ms), "ok" -> ok.toString,
    "trivial" -> trivial.toString, "info_ms" -> Json.num(info),
    "ttfb_ms" -> Json.num(ttfb), "doget_ms" -> Json.num(doget))
}

final case class Stmt(kind: String, sql: String)
final case class Response(op: Op, sql: String, http: Option[String], flight: Option[Rows])

final class BenchRun(workload: String, seed: Long, seconds: Double, traced: Boolean,
    sfDir: String, refsPath: String, outPath: String) {

  private val nproc = Runtime.getRuntime.availableProcessors
  private val tracer: Option[Tracer] = if (traced) Some(new Tracer) else None
  private val ops = ArrayBuffer.empty[Op]
  private val probe = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[Double]
  private val failures = ArrayBuffer.empty[String]
  private var window = (0L, 0L)
  private var spark: SparkSession = _

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  private def nowUs: Long = tracer.map(_.nowUs).getOrElse(0L)

  private def fail(msg: String): Unit = failures.synchronized {
    if (failures.size < 50) failures += msg
  }

  private def addOp(op: Op): Op = ops.synchronized { ops += op; op }

  def run(): Int = {
    spark = SessionFactory.build(s"local[$nproc]",
      Map("execution.spark.spark.sql.shuffle.partitions" -> nproc.toString), "perfbench")
    val measure: () => Unit = workload match {
      case "serve_sql" => serve()
      case w if Main.batchQueries.contains(w) => batch(Main.batchQueries(w))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up ends here: JVM start, session, registration, servers, warm-up pass
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    tracer.foreach(_.install(spark))
    val w0 = nowUs
    measure()
    window = (w0, nowUs)
    tracer.foreach(_.uninstall(spark))
    finish(setupS)
    0
  }

  private var loopJitMs = 0.0
  private var loopGcMs = 0.0

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Closed-loop passes, a fixed count per run: `seconds` over the
    * workload's pass time, rounded up. A loop that stopped on the clock
    * would run fewer, less warmed passes whenever the host is slow, and
    * more when a change speeds the program up, so the two sides of an A/B
    * pair would do different work.
    */
  private def loop(onePass: Int => Double): Unit = {
    val (jit0, gc0) = (jitMs, gcMs)
    val n = math.max(1, math.ceil(seconds / Main.passSeconds(workload) - 1e-9).toInt)
    (1 to n).foreach(p => passes += onePass(p))
    loopJitMs = jitMs - jit0
    loopGcMs = gcMs - gc0
  }

  // ---- olap_tpch / lakehouse_pipeline --------------------------------------

  private lazy val refs: Map[String, Digest.Result] = {
    val root = new ObjectMapper().readTree(new File(refsPath))
    root.fields().asScala.map { e =>
      e.getKey -> Digest.Result(e.getValue.get(0).asLong, e.getValue.get(1).asLong)
    }.toMap
  }

  private def stageDir: File = new File(sys.props("graft.stage.dir"))

  /** Returns the measured phase; the warm-up pass runs now, as set-up. */
  private def batch(names: Seq[String]): () => Unit = {
    val defs = names.map(Registry.byName)
    val seen = scala.collection.mutable.Map.empty[String, Digest.Result]
    def order(p: Int) = Main.rng(seed * 1000003L + p).shuffle(defs)
    val server = if (traced) None else Some(new ServingProbe)

    def query(q: graft.queries.QueryDef, p: Int): Double = {
      val b0 = System.nanoTime()
      val before = tracer.map(_ => Sources.walk(stageDir))
      val u0 = nowUs
      val t0 = System.nanoTime()
      var t1 = t0
      val result = try {
        val df = q.run(spark, sfDir)
        t1 = System.nanoTime()
        Right(Digest.sink(df))
      } catch { case e: Throwable => Left(e) }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val u1 = u0 + (t1 - t0) / 1000
      val u2 = u0 + (t2 - t0) / 1000
      val ok = result match {
        case Right(r) =>
          val want = refs.get(q.name).orElse(seen.get(q.name))
          seen.getOrElseUpdate(q.name, r)
          val same = want.forall(_ == r)
          if (!same) fail(s"${q.name}: got $r, want ${want.get}")
          same
        case Left(e) => fail(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
      }
      addOp(Op("query", q.name, p, ms(t0, t2), ok))
      val b1 = System.nanoTime()
      tracer.foreach { tr =>
        val written = Sources.written(spark, stageDir, before.get)
        val opId = tr.nextId()
        tr.add("op", u0, u2, op = opId, attrs = written, id = opId)
        tr.add("queries.build", u0, u1, parent = opId, op = opId)
        tr.add("queries.sink", u1, u2, parent = opId, op = opId)
      }
      val b2 = System.nanoTime()
      // drop cached and checkpointed blocks so each run builds from scratch
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (traced) ms(b0, t0) + ms(b1, b2) else 0.0
    }

    def pass(p: Int): Double = {
      val t0 = System.nanoTime()
      // tracing bookkeeping and the serving probe after each op are not part of the pass
      val excluded = order(p).map { q =>
        val b = query(q, p)
        val s0 = System.nanoTime()
        server.foreach(_.pairs(p))
        b + ms(s0, System.nanoTime())
      }.sum
      (ms(t0, System.nanoTime()) - excluded) / 1e3
    }

    try pass(0)
    catch { case e: Throwable => server.foreach(_.close()); throw e }
    () => try {
      loop(pass)
      heapMb = liveHeapMb() // with the servers up, as on serve_sql
    } finally server.foreach(_.close())
  }

  /** Single-client serving probe for the batch workloads: after every
    * operation, warm-up pass included, `pairsPerOp` pairs of `SELECT 1`,
    * one over HTTP and one over FlightSQL, to servers on a plain (untraced)
    * context. Every workload reports every end-to-end metric, and this
    * gives the batch workloads their `http_*`, `flight_*` and
    * `trivial_p50_ms`: serving latency in a JVM running the analytic load,
    * which no batch-side change should move. The pairs are spread over the
    * whole loop, so a slow spell of the host weighs on them as on `run_s`.
    * Outside `run_s`; untraced runs only.
    */
  private final class ServingProbe extends AutoCloseable {
    private val pairsPerOp = 7
    private val ctx = new ExecutionContext(spark)
    private val http = new HttpServer(ctx)
    private val flight = new FlightSqlServer(ctx)
    http.start()
    flight.start()
    private val client = new ServeClient(http.boundPort, flight.boundPort)
    private val want = Rows.of(spark.sql("SELECT 1")).canonical

    def pairs(p: Int): Unit = (1 to pairsPerOp).foreach { _ =>
      val h = timedHttp(client, "SELECT 1")
      val f = timedFlight(client, "SELECT 1")
      val ops = Seq(Op("http", "select1", p, h._1, h._2.contains(want), trivial = true),
        Op("flight", "select1", p, f._1, f._2.contains(want), trivial = true,
          info = f._3, ttfb = f._4, doget = f._5))
      probe ++= ops
      ops.filterNot(_.ok).foreach(o => fail(s"probe ${o.kind} SELECT 1 wrong or failed"))
    }

    def close(): Unit = {
      client.close()
      http.stop()
      flight.stop()
    }
  }

  private def timedHttp(c: ServeClient, sql: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val (st, body) = c.postSql(sql)
    val t1 = System.nanoTime()
    (ms(t0, t1), if (st == 200) Some(Rows.ofJson(body, Seq("1")).canonical) else None)
  }

  private def timedFlight(c: ServeClient, sql: String): (Double, Option[String], Double, Double, Double) = {
    val t0 = System.nanoTime()
    val (rows, ti, tf, te) = c.flight(sql)
    (ms(t0, te), Some(rows.canonical), ms(t0, ti), ms(ti, tf), ms(ti, te))
  }

  // ---- serve_sql -------------------------------------------------------------

  private val clients = math.min(4, nproc)
  // one /metrics scrape per this many requests, counted across clients
  private val scrapeEvery = 25

  private lazy val q01Sql = SparkEntry.oracleSqlFor(sfDir)("q01_pricing_summary")
  private lazy val q06Sql = SparkEntry.oracleSqlFor(sfDir)("q06_revenue_forecast")

  /** q06 with the shipdate year and discount band drawn from `rnd`. */
  private def q06(rnd: Random): String = {
    val year = 1993 + rnd.nextInt(5)
    val mid = 2 + rnd.nextInt(8) // discount band centre, in percent
    q06Template
      .replace("\u0001", s"$year-01-01").replace("\u0002", s"${year + 1}-01-01")
      .replace("\u0003", f"${(mid - 1.5) / 100}%.3f").replace("\u0004", f"${(mid + 1.5) / 100}%.3f")
  }

  private lazy val q06Template: String = {
    val literals = Seq("1996-01-01", "1997-01-01", "0.045", "0.075")
    require(literals.forall(l => q06Sql.split(java.util.regex.Pattern.quote(l), -1).length == 2),
      "q06 oracle literals changed; update the statement generator")
    literals.zipWithIndex.foldLeft(q06Sql) { case (s, (l, i)) => s.replace(l, (i + 1).toChar.toString) }
  }

  /** The requests of one client in one pass: on each protocol two SELECT 1,
    * two q06 variants and one q01 (40/40/20), in seed-drawn order,
    * alternating HTTP and Flight.
    */
  private def statements(p: Int, client: Int): Seq[(String, Stmt)] = {
    val rnd = Main.rng(seed * 7919L + p * 131L + client)
    def mix = rnd.shuffle(Seq.fill(2)(Stmt("select1", "SELECT 1")) ++
      Seq.fill(2)(Stmt("q06", q06(rnd))) :+ Stmt("q01", q01Sql))
    val (http, flight) = (mix, mix)
    http.zip(flight).flatMap { case (h, f) =>
      if (client % 2 == 0) Seq("http" -> h, "flight" -> f) else Seq("flight" -> f, "http" -> h)
    }
  }

  private def serve(): () => Unit = {
    val ctx = tracer.map(tr => new TracedContext(spark, tr)).getOrElse(new ExecutionContext(spark))
    Tables.registerAll(spark, sfDir)
    val http = new HttpServer(ctx)
    val flight = new FlightSqlServer(ctx)
    http.start()
    flight.start()
    val cs = (0 until clients).map(_ => new ServeClient(http.boundPort, flight.boundPort))
    val pool = Executors.newFixedThreadPool(clients)
    val responses = new java.util.concurrent.ConcurrentLinkedQueue[Response]()
    val served = new java.util.concurrent.atomic.AtomicLong()

    def request(c: ServeClient, proto: String, st: Stmt, p: Int): Unit = {
      val u0 = nowUs
      val t0 = System.nanoTime()
      try {
        if (proto == "http") {
          val (status, body) = c.postSql(st.sql)
          val op = addOp(Op("http", st.kind, p, ms(t0, System.nanoTime()), status == 200,
            trivial = st.kind == "select1"))
          if (status == 200) responses.add(Response(op, st.sql, Some(body), None))
          else fail(s"http ${st.kind} status $status: ${body.take(200)}")
        } else {
          val (rows, ti, tf, te) = c.flight(st.sql)
          val op = addOp(Op("flight", st.kind, p, ms(t0, te), ok = true,
            trivial = st.kind == "select1", info = ms(t0, ti), ttfb = ms(ti, tf), doget = ms(ti, te)))
          responses.add(Response(op, st.sql, None, Some(rows)))
        }
      } catch {
        case e: Exception =>
          addOp(Op(proto, st.kind, p, ms(t0, System.nanoTime()), ok = false,
            trivial = st.kind == "select1"))
          fail(s"$proto ${st.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      tracer.foreach { tr =>
        val id = tr.nextId()
        tr.add(proto, u0, nowUs, op = id, tag = proto, id = id)
      }
      if (served.incrementAndGet() % scrapeEvery == 0) {
        val s0 = System.nanoTime()
        val (status, body) = c.scrape()
        val ok = status == 200 && body.contains("graft_requests_total")
        addOp(Op("scrape", "metrics", p, ms(s0, System.nanoTime()), ok))
        if (!ok) fail(s"/metrics status $status")
      }
    }

    def pass(p: Int): Double = {
      val t0 = System.nanoTime()
      val fs = cs.zipWithIndex.map { case (c, i) =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit = statements(p, i).foreach { case (proto, st) => request(c, proto, st, p) }
        })
      }
      fs.foreach(_.get())
      ms(t0, System.nanoTime()) / 1e3
    }

    def verify(): Unit = {
      val want = scala.collection.mutable.Map.empty[String, Rows]
      responses.asScala.foreach { r =>
        val ref = want.getOrElseUpdate(r.sql, Rows.of(spark.sql(r.sql)))
        val got = try r.http.map(Rows.ofJson(_, ref.columns)).orElse(r.flight).get.canonical
          catch { case e: Exception => s"undecodable: ${e.getMessage}" }
        if (got != ref.canonical) {
          r.op.ok = false
          fail(s"${r.op.kind} ${r.op.name}: rows differ from the in-process result")
        }
      }
    }

    pass(0)
    () => {
      try {
        loop(pass)
        verify()
      } finally {
        pool.shutdown()
        cs.foreach(_.close())
        heapMb = liveHeapMb() // the request log is still reachable here
        http.stop()
        flight.stop()
      }
    }
  }

  // ---- end of run --------------------------------------------------------------

  private var heapMb = -1.0

  /** Used heap after full GCs. Spark frees some memory asynchronously
    * (its cleaner drops broadcast and shuffle blocks once a GC has shown
    * them unreachable; listeners drop finished executions), so the GCs are
    * spaced out to let that finish first.
    */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ =>
      System.gc()
      Thread.sleep(400)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def finish(setupS: Double): Unit = {
    if (heapMb < 0) heapMb = liveHeapMb()
    val rt = ManagementFactory.getRuntimeMXBean
    val spans = tracer.map(_.spans).getOrElse(Nil).filter(s => s.start >= window._1 && s.start <= window._2)
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "nproc" -> nproc.toString,
      "jvm" -> Json.str(s"${rt.getVmName} ${rt.getVmVersion}"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "sf_dir" -> Json.str(sfDir),
      "setup_s" -> Json.num(setupS),
      "passes_s" -> Json.arr(passes.map(Json.num)),
      "window_us" -> Json.arr(Seq(window._1.toString, window._2.toString)),
      "ops" -> Json.arr(ops.map(_.json)),
      "probe" -> Json.arr(probe.map(_.json)),
      "loop_jit_ms" -> Json.num(loopJitMs),
      "loop_gc_ms" -> Json.num(loopGcMs),
      "heap_mb" -> Json.num(heapMb),
      "failures" -> Json.arr(failures.map(Json.str)),
      "spans" -> Json.arr(spans.map { s =>
        Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "start" -> s.start.toString,
          "end" -> s.end.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
          "tag" -> Json.str(s.tag),
          "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
      }))
    Files.write(new File(outPath).toPath, json.getBytes(UTF_8))
    spark.stop()
  }
}
