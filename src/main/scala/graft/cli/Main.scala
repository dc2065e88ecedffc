package graft.cli

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.core.{CatalogBootstrap, SessionFactory}
import graft.exec.{AnalyzeRunner, BenchmarkRunner, ExecutionContext}

/** CLI frontend (reference `src/cli/mod.rs`): execute SQL from -c/-f with
  * pretty-printed output, file writers, timing, bench and analyze modes.
  *
  * Usage:
  *   graft.cli.Main [-c SQL]... [-f FILE]... [-o OUT.{csv,json,parquet}]
  *     [--time] [--bench] [-n N] [--concurrent] [--run-before SQL]
  *     [--save FILE] [--append] [--analyze]
  *     [--db-dir DIR] [--run-ddl [PATH]] [--config PATH] [--master URL]
  */
object Main {

  final case class Args(
      commands: Seq[String] = Seq.empty,
      files: Seq[String] = Seq.empty,
      output: Option[String] = None,
      time: Boolean = false,
      bench: Boolean = false,
      iterations: Int = 10,
      concurrent: Boolean = false,
      runBefore: Option[String] = None,
      save: Option[String] = None,
      append: Boolean = false,
      analyze: Boolean = false,
      dbDir: Option[String] = None,
      ddlPath: Option[String] = None,
      runDdl: Boolean = false,
      config: Option[String] = None,
      master: String = "local[*]",
      interactive: Boolean = false)

  def parseArgs(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil => acc
    case "-c" :: sql :: rest => parseArgs(rest, acc.copy(commands = acc.commands :+ sql))
    case "-f" :: f :: rest => parseArgs(rest, acc.copy(files = acc.files :+ f))
    case "-o" :: out :: rest => parseArgs(rest, acc.copy(output = Some(out)))
    case "--time" :: rest => parseArgs(rest, acc.copy(time = true))
    case "--bench" :: rest => parseArgs(rest, acc.copy(bench = true))
    case "-n" :: n :: rest =>
      val iterations = n.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"-n expects a positive iteration count, got: $n"))
      parseArgs(rest, acc.copy(iterations = iterations))
    case "--concurrent" :: rest => parseArgs(rest, acc.copy(concurrent = true))
    case "--run-before" :: s :: rest => parseArgs(rest, acc.copy(runBefore = Some(s)))
    case "--save" :: f :: rest => parseArgs(rest, acc.copy(save = Some(f)))
    case "--append" :: rest => parseArgs(rest, acc.copy(append = true))
    case "--analyze" :: rest => parseArgs(rest, acc.copy(analyze = true))
    case "--db-dir" :: d :: rest => parseArgs(rest, acc.copy(dbDir = Some(d)))
    case "--run-ddl" :: p :: rest if !p.startsWith("-") =>
      parseArgs(rest, acc.copy(runDdl = true, ddlPath = Some(p)))
    case "--run-ddl" :: rest => parseArgs(rest, acc.copy(runDdl = true))
    case "--config" :: p :: rest => parseArgs(rest, acc.copy(config = Some(p)))
    case "--master" :: m :: rest => parseArgs(rest, acc.copy(master = m))
    case ("-i" | "--interactive") :: rest => parseArgs(rest, acc.copy(interactive = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def main(argv: Array[String]): Unit = {
    // `generate-tpch` subcommand (reference `src/tpch.rs` / `src/args.rs`
    // GenerateTpch { scale_factor, format }): generate the 8-table schema
    // at --scale-factor into the db-dir layout with the deterministic
    // distributed generator; --sf-dir instead copies driver testdata (the
    // bench-correctness source of truth).
    if (argv.headOption.contains("generate-tpch")) {
      val opts = argv.drop(1).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val dbDir = opts.getOrElse("--db-dir",
        sys.props("user.home") + "/.datafusion")
      val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"))
      try {
        val written = opts.get("--sf-dir") match {
          case Some(sfDir) => graft.core.TpchGen.generate(spark, sfDir, dbDir)
          case None =>
            val sf = opts.getOrElse("--scale-factor", "0.001").toDouble
            graft.core.TpchDataGen.generate(spark, sf, dbDir)
        }
        println(s"generated ${written.size} tables into $dbDir: ${written.mkString(", ")}")
      } finally spark.stop()
      return
    }
    // `serve-http` subcommand (reference ServeHttp { config, addr,
    // metrics_addr } — metrics are served from the same listener at
    // /metrics here, not a second port)
    if (argv.headOption.contains("serve-http")) {
      val opts = argv.drop(1).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val server = serveHttp(opts)
      println(s"serving HTTP on port ${server.boundPort} (metrics at /metrics)")
      Thread.currentThread.join() // serve until killed
      return
    }
    // `tui` subcommand — the reference's default frontend (`src/tui/`);
    // tabbed terminal UI over jline3 raw mode
    if (argv.headOption.contains("tui")) {
      val opts = argv.drop(1).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val conf = opts.get("--config").map(SessionFactory.parseConfig)
        .getOrElse(Map.empty)
      val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"), conf)
      val ctx = new ExecutionContext(spark)
      conf.get("db.path").foreach(d => CatalogBootstrap.registerDbDir(spark, d))
      try Tui.run(ctx) finally spark.stop()
      return
    }
    // `delta` subcommand — the Delta-table lifecycle as a CLI verb:
    // checkpoint / expire-log / vacuum / restore / optimize, the
    // maintenance loop a 100 TB table needs on a schedule.
    if (argv.headOption.contains("delta")) {
      val op = argv.lift(1).getOrElse(
        throw new IllegalArgumentException(
          "delta needs an operation: checkpoint|expire-log|vacuum|restore|optimize|count"))
      val opts = argv.drop(2).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"))
      try println(deltaMaintain(spark, op, opts)) finally spark.stop()
      return
    }
    // `optimize` subcommand — the table-maintenance surface over the
    // layout operators: plain small-file compaction by default,
    // 1-D clustering with --cluster-by, multi-column Z-order with
    // --zorder-by (comma-separated). The lakehouse `OPTIMIZE` verb as a
    // CLI, runnable on any parquet/orc directory.
    if (argv.headOption.contains("optimize")) {
      val opts = argv.drop(1).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val in = opts.getOrElse("--in",
        throw new IllegalArgumentException("optimize needs --in <dir>"))
      val out = opts.getOrElse("--out",
        throw new IllegalArgumentException("optimize needs --out <dir>"))
      val target = opts.get("--target-mb").map(_.toLong * 1024 * 1024)
        .getOrElse(128L * 1024 * 1024)
      val format = opts.getOrElse("--format", "parquet")
      val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"))
      try {
        val res = (opts.get("--zorder-by"), opts.get("--cluster-by")) match {
          case (Some(zc), _) =>
            graft.operators.Compaction.compactZOrder(spark, in, out,
              zc.split(",").map(_.trim).toSeq, targetBytes = target,
              format = format)
          case (None, Some(cc)) =>
            graft.operators.Compaction.compactClustered(spark, in, out,
              cc.split(",").map(_.trim).toSeq, targetBytes = target,
              format = format)
          case _ =>
            graft.operators.Compaction.compact(spark, in, out,
              targetBytes = target, format = format)
        }
        println(s"optimized $in -> $out: ${res.rows} rows, " +
          s"${res.filesBefore} -> ${res.filesAfter} files")
      } finally spark.stop()
      return
    }
    // `serve-flight` subcommand (reference ServeFlightSql { config, addr,
    // metrics_addr } — `src/cli/mod.rs` / `src/server/flightsql/mod.rs`):
    // real Arrow Flight SQL over gRPC
    if (argv.headOption.contains("serve-flight")) {
      val opts = argv.drop(1).sliding(2, 2).collect {
        case Array(k, v) => k -> v }.toMap
      val server = serveFlight(opts)
      println(s"serving FlightSQL (gRPC) on port ${server.boundPort}")
      Thread.currentThread.join() // serve until killed
      return
    }
    val args =
      try parseArgs(argv.toList)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(2)
      }
    val conf = args.config.map(SessionFactory.parseConfig).getOrElse(Map.empty)
    val spark = SessionFactory.build(args.master, conf)
    val ctx = new ExecutionContext(spark)
    try {
      args.dbDir.orElse(conf.get("db.path")).foreach { d =>
        CatalogBootstrap.registerDbDir(spark, d)
      }
      if (args.runDdl) {
        val ddl = args.ddlPath.orElse(conf.get("ddl.path"))
          .getOrElse(sys.props("user.home") + "/.config/graft/ddl.sql")
        if (Files.exists(Paths.get(ddl)))
          ctx.runScript(Files.readString(Paths.get(ddl))).foreach(_.count())
      }
      val statements =
        args.commands ++
          args.files.flatMap(f => ctx.splitStatements(Files.readString(Paths.get(f))))
      if (statements.isEmpty && args.interactive) repl(ctx, args)
      else if (statements.isEmpty) {
        System.err.println("nothing to execute: pass -c SQL, -f FILE, or -i")
        sys.exit(2)
      }
      else statements.foreach(s => runStatement(ctx, s, args))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }

  /** Build and start the HTTP server for `serve-http` (started, not
    * joined — main blocks, tests stop it). Config keys mirror the
    * reference's TOML sections flattened: [server] result_limit, [auth]
    * bearer_token, [auth.basic_auth] username/password
    * (`config.rs:276-319`).
    */
  private[graft] def serveHttp(opts: Map[String, String]): graft.server.HttpServer = {
    val conf = opts.get("--config").map(SessionFactory.parseConfig)
      .getOrElse(Map.empty)
    val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"), conf)
    val ctx = new ExecutionContext(spark)
    conf.get("db.path").foreach(d => CatalogBootstrap.registerDbDir(spark, d))
    val port = opts.get("--addr").map(_.split(':').last.toInt).getOrElse(8080)
    val server = new graft.server.HttpServer(ctx, port = port,
      resultLimit = conf.get("server.result_limit").map(_.toInt).getOrElse(1000),
      bearerToken = conf.get("auth.bearer_token"),
      basicAuth = for {
        u <- conf.get("auth.basic_auth.username")
        p <- conf.get("auth.basic_auth.password")
      } yield (u, p))
    server.start()
    server
  }

  /** Build and start the FlightSQL gRPC server for `serve-flight`; same
    * config keys as [[serveHttp]] where they apply.
    */
  private[graft] def serveFlight(opts: Map[String, String]): graft.server.flight.FlightSqlServer = {
    val conf = opts.get("--config").map(SessionFactory.parseConfig)
      .getOrElse(Map.empty)
    val spark = SessionFactory.build(opts.getOrElse("--master", "local[*]"), conf)
    val ctx = new ExecutionContext(spark)
    conf.get("db.path").foreach(d => CatalogBootstrap.registerDbDir(spark, d))
    val port = opts.get("--addr").map(_.split(':').last.toInt).getOrElse(50051)
    val server = new graft.server.flight.FlightSqlServer(ctx, port = port,
      bearerToken = conf.get("auth.bearer_token"),
      basicAuth = for {
        u <- conf.get("auth.basic_auth.username")
        p <- conf.get("auth.basic_auth.password")
      } yield (u, p))
    server.start()
    server
  }

  /** Interactive loop (the reference's TUI frontend reduced to a REPL:
    * statements end at ';', results pretty-print 100 rows per page like
    * `src/tui/pagination.rs`; `\q` quits).
    */
  private def repl(ctx: ExecutionContext, args: Args): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val buf = new StringBuilder
    print("graft> ")
    var line = in.readLine()
    while (line != null && line.trim != "\\q") {
      buf.append(line).append('\n')
      if (line.trim.endsWith(";")) {
        ctx.splitStatements(buf.result()).foreach { s =>
          try println(PrettyPrint.format(ctx.sqlObserved(s, "repl")))
          catch { case NonFatal(e) => System.err.println(s"error: ${e.getMessage}") }
        }
        buf.clear()
      }
      print(if (buf.isEmpty) "graft> " else "    -> ")
      line = in.readLine()
    }
  }

  private[graft] def runStatement(ctx: ExecutionContext, sql: String, args: Args): Unit = {
    if (args.bench) {
      val res = BenchmarkRunner.run(ctx, sql, args.iterations,
        args.concurrent, args.runBefore)
      println(res.summary)
      args.save.foreach { f =>
        val p = Paths.get(f)
        val header = if (args.append && Files.exists(p)) "" else BenchmarkRunner.csvHeader + "\n"
        val row = header + res.csvRow + "\n"
        if (args.append && Files.exists(p)) Files.writeString(p, row,
          java.nio.file.StandardOpenOption.APPEND)
        else Files.writeString(p, row)
      }
    } else if (args.analyze) {
      args.runBefore.foreach(s => ctx.sql(s).count())
      println(AnalyzeRunner.analyze(ctx.sqlObserved(sql)).summary)
    } else {
      args.runBefore.foreach(s => ctx.sql(s).count())
      val t0 = System.nanoTime()
      val df = ctx.sqlObserved(sql)
      args.output match {
        case Some(out) => Writers.write(df, out)
        case None => println(PrettyPrint.format(df))
      }
      if (args.time)
        println(f"elapsed: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }
  }

  /** The `delta <op>` dispatch, factored for direct spec coverage.
    * Returns the human-readable result line the CLI prints.
    */
  private[graft] def deltaMaintain(spark: org.apache.spark.sql.SparkSession,
      op: String, opts: Map[String, String]): String = {
    import graft.sources.{DeltaLog, DeltaWrite}
    val tbl = opts.getOrElse("--table",
      throw new IllegalArgumentException(s"delta $op needs --table <path>"))
    op match {
      case "checkpoint" =>
        val v = DeltaWrite.checkpoint(spark, tbl)
        s"checkpointed $tbl at version $v"
      case "expire-log" =>
        val removed = DeltaWrite.expireLog(tbl)
        s"expired ${removed.size} commits from $tbl: ${removed.mkString(", ")}"
      case "vacuum" =>
        val retention = opts.get("--retention-ms").map(_.toLong)
          .getOrElse(7L * 24 * 3600 * 1000)
        val removed = DeltaWrite.vacuum(spark, tbl, retention)
        s"vacuumed ${removed.size} files from $tbl"
      case "restore" =>
        val v = opts.getOrElse("--version",
          throw new IllegalArgumentException(
            "delta restore needs --version <n>")).toLong
        val st = DeltaWrite.restoreTo(spark, tbl, v)
        s"restored $tbl to version $v as commit ${st.version} " +
          s"(${st.filesReAdded} re-added, ${st.filesRemoved} removed)"
      case "optimize" =>
        val small = opts.get("--small-mb").map(_.toLong * 1024 * 1024)
          .getOrElse(128L * 1024 * 1024)
        val target = opts.get("--target-files").map(_.toInt).getOrElse(1)
        val st = DeltaWrite.optimize(spark, tbl, small, target)
        s"optimized $tbl: ${st.filesCompacted} files packed into " +
          s"${st.filesAdded} at commit ${st.version}"
      case "count" =>
        DeltaLog.countFromStats(spark, tbl) match {
          case Some(n) => s"$n rows (from log stats, zero files opened)"
          case None => s"${DeltaLog.read(spark, tbl).count()} rows (scanned:" +
            " a live file lacks numRecords stats)"
        }
      case "purge" =>
        val st = DeltaWrite.purgeDeletionVectors(spark, tbl)
        s"purged ${st.filesPurged} DV-carrying files into " +
          s"${st.filesAdded} at commit ${st.version}"
      case "enable-cdf" =>
        val v = DeltaWrite.enableChangeDataFeed(spark, tbl)
        s"change data feed enabled on $tbl at version $v"
      case "changes" =>
        val from = opts.getOrElse("--from",
          throw new IllegalArgumentException(
            "delta changes needs --from <version>")).toLong
        val to = opts.get("--to").map(_.toLong)
        val counts = DeltaLog.tableChanges(spark, tbl, from, to)
          .groupBy("_change_type").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
          .sorted.mkString(", ")
        s"changes in $tbl from version $from: " +
          (if (counts.isEmpty) "none" else counts)
      case "history" =>
        val h = DeltaLog.history(spark, tbl).collect()
        val head = h.head
        s"${h.length} commits in $tbl; head: version=${head.getLong(0)} " +
          s"operation=${Option(head.getString(2)).getOrElse("?")}"
      case "convert" =>
        val pcols = opts.get("--partition-by")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val v = DeltaWrite.convertParquet(spark, tbl, pcols)
        s"converted $tbl to Delta at version $v (zero data files copied)"
      case "clone" =>
        val target = opts.getOrElse("--target",
          throw new IllegalArgumentException(
            "delta clone needs --target <path>"))
        val ver = opts.get("--version").map(_.toLong)
        DeltaWrite.cloneShallow(spark, tbl, target, ver)
        s"shallow-cloned $tbl into $target" +
          ver.fold("")(v => s" as of version $v")
      case "uniform" =>
        val st = graft.sources.Uniform.deltaToIceberg(spark, tbl)
        st.snapshotId match {
          case Some(sid) => s"mirrored $tbl delta-version " +
            s"${st.deltaVersion} as Iceberg snapshot $sid " +
            s"(${st.filesAdded} added, ${st.filesCarried} carried)"
          case None =>
            s"already mirrored at delta-version ${st.deltaVersion} (no-op)"
        }
      case "add-constraint" =>
        val name = opts.getOrElse("--name",
          throw new IllegalArgumentException(
            "delta add-constraint needs --name <identifier>"))
        val cond = opts.getOrElse("--check",
          throw new IllegalArgumentException(
            "delta add-constraint needs --check <expr>"))
        val v = DeltaWrite.addCheckConstraint(spark, tbl, name, cond)
        s"constraint $name CHECK ($cond) added to $tbl at version $v"
      case "drop-constraint" =>
        val name = opts.getOrElse("--name",
          throw new IllegalArgumentException(
            "delta drop-constraint needs --name <identifier>"))
        val v = DeltaWrite.dropCheckConstraint(spark, tbl, name)
        s"constraint $name dropped from $tbl at version $v"
      case "convert-from-iceberg" =>
        val st = graft.sources.Uniform.icebergToDelta(spark, tbl)
        st.version match {
          case Some(v) => s"mirrored $tbl Iceberg snapshot " +
            s"${st.snapshotId} as Delta version $v " +
            s"(${st.filesAdded} added, ${st.filesRemoved} removed)"
          case None =>
            s"already mirrored at snapshot ${st.snapshotId} (no-op)"
        }
      case other => throw new IllegalArgumentException(
        s"unknown delta operation: $other " +
          "(checkpoint|expire-log|vacuum|restore|optimize|count|purge|" +
          "enable-cdf|changes|history|convert|clone|uniform|" +
          "convert-from-iceberg|add-constraint|drop-constraint)")
    }
  }
}
