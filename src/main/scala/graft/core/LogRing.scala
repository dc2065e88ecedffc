package graft.core

/** Bounded in-process log ring backing the TUI's Logs tab (the reference
  * tab tails the app's tracing output, `src/tui/ui/mod.rs:29-42` +
  * `src/telemetry.rs`; here the spine is the same observability path every
  * serving surface already reports through, plus any explicit `add`
  * calls). Thread-safe, capped, oldest-first.
  */
object LogRing {
  private val cap = 500
  private val buf = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  // tracks buf's size: the deque's own `size` walks every node
  private val count = new java.util.concurrent.atomic.AtomicInteger
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)

  def add(line: String): Unit = {
    buf.addLast(s"${fmt.format(java.time.Instant.now())} $line")
    // each add past the cap evicts exactly one line, so once all adds
    // return the ring holds min(adds, cap) lines
    if (count.incrementAndGet() > cap && buf.pollFirst() != null)
      count.decrementAndGet()
  }

  /** Oldest-first snapshot. */
  def lines: Seq[String] = {
    val it = buf.iterator()
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += it.next()
    out.result()
  }
}
