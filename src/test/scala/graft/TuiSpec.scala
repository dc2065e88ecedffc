package graft

import graft.cli.Tui
import graft.cli.Tui._

/** The TUI is a pure state machine (step) plus a pure renderer — driven
  * here entirely without a terminal, including a real-SQL executor pass.
  */
class TuiSpec extends SparkSpec {

  private val stubExec: Exec = sql =>
    if (sql.contains("boom")) Left("analysis error")
    else Right(Grid(Seq("x", "y"),
      Seq(Seq("1", "a"), Seq("2", "b"), Seq("3", "c")), 0.01))

  private def typeIn(st: TuiState, text: String): TuiState =
    text.foldLeft(st)((s, c) => step(s, Ch(c), stubExec))

  test("edit mode: insert, cursor moves, backspace, newline, esc") {
    var st = step(TuiState(), Ch('e'), stubExec)
    assert(st.editing)
    st = typeIn(st, "SELECT 1")
    assert(st.buffer === "SELECT 1" && st.cursor === 8)
    st = step(st, ArrowLeft, stubExec)
    st = step(st, Backspace, stubExec)
    assert(st.buffer === "SELECT1") // deleted the space before the cursor
    st = step(st, ArrowRight, stubExec)
    st = step(st, Enter, stubExec) // newline in edit mode, no execution
    assert(st.buffer === "SELECT1\n" && st.grid.isEmpty)
    st = step(st, Esc, stubExec)
    assert(!st.editing)
  }

  test("normal mode: enter executes, results land in grid + history") {
    var st = typeIn(step(TuiState(), Ch('e'), stubExec), "SELECT x")
    st = step(st, Esc, stubExec)
    st = step(st, Enter, stubExec)
    assert(st.grid.exists(_.rows.size === 3))
    assert(st.history.size === 1 && !st.history.head.error)
    // errors are recorded too, and clear the grid
    st = step(st, Ch('c'), stubExec)
    st = typeIn(step(st, Ch('e'), stubExec), "boom")
    st = step(st, Esc, stubExec)
    st = step(st, Enter, stubExec)
    assert(st.error.contains("analysis error") && st.grid.isEmpty)
    assert(st.history.size === 2 && st.history(1).error)
  }

  test("tabs switch with 1-5; history selection recalls into its own editor") {
    var st = TuiState(history = Vector(
      HistEntry("SELECT a", 0.1, 1, error = false),
      HistEntry("SELECT b", 0.2, 2, error = false, flight = true)))
    st = step(st, Ch('3'), stubExec)
    assert(st.tab === 2)
    st = step(st, Down, stubExec)
    assert(st.historySel === 1)
    // the selected entry ran on the FlightSQL surface -> recalls there
    st = step(st, Enter, stubExec)
    assert(st.tab === 1 && st.fbuffer === "SELECT b")
    st = step(st, Ch('3'), stubExec)
    st = step(st, Up, stubExec)
    st = step(st, Enter, stubExec)
    assert(st.tab === 0 && st.buffer === "SELECT a")
    Seq('2' -> 1, '4' -> 3, '5' -> 4).foreach { case (k, t) =>
      st = step(st, Ch(k), stubExec)
      assert(st.tab === t)
    }
    st = step(st, Ch('q'), stubExec)
    assert(st.quit)
  }

  test("FlightSQL tab has its own editor, grid, and history flag") {
    val flightStub: Exec = sql =>
      if (sql.contains("boom")) Left("flight error")
      else Right(Grid(Seq("f"), Seq(Seq("42")), 0.02))
    var st = step(TuiState(), Ch('2'), stubExec, flightStub)
    assert(st.tab === 1)
    st = step(st, Ch('e'), stubExec, flightStub)
    assert(st.editing)
    st = "SELECT f".foldLeft(st)((s, c) => step(s, Ch(c), stubExec, flightStub))
    assert(st.fbuffer === "SELECT f" && st.buffer.isEmpty)
    st = step(st, Esc, stubExec, flightStub)
    st = step(st, Enter, stubExec, flightStub)
    assert(st.fgrid.exists(_.rows === Seq(Seq("42"))))
    assert(st.grid.isEmpty) // SQL pane untouched
    assert(st.history.size === 1 && st.history.head.flight)
    // flight errors land in the flight pane
    st = step(st, Ch('c'), stubExec, flightStub)
    assert(st.fbuffer.isEmpty && st.fgrid.isEmpty)
    st = step(st, Ch('e'), stubExec, flightStub)
    st = "boom".foldLeft(st)((s, c) => step(s, Ch(c), stubExec, flightStub))
    st = step(st, Esc, stubExec, flightStub)
    st = step(st, Enter, stubExec, flightStub)
    assert(st.ferror.contains("flight error") && st.error.isEmpty)
  }

  test("Logs tab tails the ring, scrolls back with Up") {
    val logs = (1 to 50).map(i => s"line$i")
    val tail = render(TuiState(tab = 3), height = 16, logs = logs)
    assert(tail.contains("line50") && !tail.contains("line1 "))
    val back = render(TuiState(tab = 3, logScroll = 40), height = 16, logs = logs)
    assert(back.contains("line1 ") || back.contains("line1\n") ||
      back.contains("  line1"))
    assert(render(TuiState(tab = 3)).contains("no log lines yet"))
    // Up moves back, Down clamps at 0
    var st = TuiState(tab = 3)
    st = step(st, Up, stubExec)
    assert(st.logScroll === 1)
    st = step(st, Down, stubExec)
    st = step(st, Down, stubExec)
    assert(st.logScroll === 0)
  }

  test("result scrolling is clamped to the grid") {
    var st = typeIn(step(TuiState(), Ch('e'), stubExec), "SELECT x")
    st = step(st, Esc, stubExec)
    st = step(st, Enter, stubExec)
    st = step(st, Up, stubExec)
    assert(st.scroll === 0)
    (1 to 10).foreach(_ => st = step(st, Down, stubExec))
    assert(st.scroll === 2) // 3 rows -> max scroll 2
  }

  test("render shows tabs, editor cursor, results, errors, history marks") {
    val base = TuiState()
    assert(render(base).contains("[SQL (1)]"))
    assert(render(base).contains("press 'e' to edit"))
    val editing = TuiState(editing = true, buffer = "SELECT", cursor = 3)
    assert(render(editing).contains("SEL█ECT"))
    assert(render(editing).contains("EDIT"))
    val withGrid = TuiState(grid = Some(Grid(Seq("col"), Seq(Seq("v1")), 0.5)))
    val frame = render(withGrid)
    assert(frame.contains("col") && frame.contains("v1") && frame.contains("(1 rows"))
    val withErr = TuiState(error = Some("bad sql"))
    assert(render(withErr).contains("ERROR: bad sql"))
    val hist = TuiState(tab = 2, history = Vector(
      HistEntry("SELECT a", 0.1, 1, error = false),
      HistEntry("bad", 0.0, 0, error = true, flight = true)), historySel = 1)
    val hframe = render(hist)
    assert(hframe.contains("[0.10s] [SQL ] SELECT a"))
    assert(hframe.contains("▶ [ERR ] [FSQL] bad"))
    val ctx = TuiState(tab = 4)
    assert(render(ctx, context = "Tables:\ndefault.foo").contains("default.foo"))
    val fl = TuiState(tab = 1)
    assert(render(fl).contains("[FlightSQL (2)]"))
    assert(render(fl).contains("gRPC loopback"))
  }

  test("real flight executor: grid over the gRPC loopback, error mapped") {
    val ctx = new graft.exec.ExecutionContext(spark)
    val server = new graft.server.flight.FlightSqlServer(ctx, port = 0)
    server.start()
    try {
      val exec = Tui.runFlight(server.boundPort)
      val Right(g) = exec("SELECT id FROM RANGE(3) ORDER BY id"): @unchecked
      assert(g.columns === Seq("id"))
      assert(g.rows === Seq(Seq("0"), Seq("1"), Seq("2")))
      val Left(err) = exec("SELECT * FROM not_a_table"): @unchecked
      assert(err.nonEmpty && err != "null")
    } finally server.stop()
  }

  test("keystroke decode handles CSI arrows, enter, backspace, chars") {
    def feed(bytes: Int*): Key = {
      val it = bytes.iterator
      Tui.decode(() => it.next())
    }
    assert(feed(27, '[', 'A') === Up)
    assert(feed(27, '[', 'B') === Down)
    assert(feed(27, '[', 'C') === ArrowRight)
    assert(feed(27, '[', 'D') === ArrowLeft)
    assert(feed(27, 27) === Esc)
    assert(feed(13) === Enter)
    assert(feed(127) === Backspace)
    assert(feed('x') === Ch('x'))
  }

  test("real executor: grid from SQL, error from bad SQL, observability row") {
    val ctx = new graft.exec.ExecutionContext(spark)
    val exec = Tui.runSql(ctx)
    val Right(g) = exec("SELECT id, id * 2 AS dbl FROM RANGE(3) ORDER BY id"): @unchecked
    assert(g.columns === Seq("id", "dbl"))
    assert(g.rows === Seq(Seq("0", "0"), Seq("1", "2"), Seq("2", "4")))
    assert(exec("SELECT * FROM not_a_table").isLeft)
    // execution flows through the observed path (reference logs TUI
    // requests into the observability table like every other surface)
    val obs = ctx.sql(
      "SELECT count(*) FROM observability_requests WHERE path = 'tui'")
      .head.getLong(0)
    assert(obs >= 1L)
  }

  test("log ring: racing adds keep exactly the newest 500 lines, oldest first") {
    val perThread = 2500
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until perThread).foreach(i =>
        graft.core.LogRing.add(s"ring-test $t $i")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    graft.core.LogRing.add("ring-test last")
    val lines = graft.core.LogRing.lines
    assert(lines.size === 500)
    assert(lines.exists(_.endsWith(" ring-test last")))
    // lines carry an `HH:mm:ss.SSS` prefix; each thread's survivors keep
    // the order they were added in
    lines.map(_.split(' ').drop(1)).collect {
      case Array("ring-test", t, i) => (t, i.toInt)
    }.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2) === rs.map(_._2).sorted)
    }
  }
}
