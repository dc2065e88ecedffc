package graft.server

import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

/** Prometheus text exposition (version 0.0.4) of the served requests. The
  * reference runs a dedicated metrics server
  * (`src/server/mod.rs` `try_start_metrics_server`) with per-request
  * counters incremented in the FlightSQL service
  * (`src/server/flightsql/service.rs:159,256`); here the same signals —
  * request counts by path/status, a latency histogram, rows served — are
  * running [[Counters]] that the observability recorder bumps on every
  * request, so a scrape costs O(#paths) and needs no dependencies.
  */
object PrometheusText {

  private val latencyBucketsMs: Array[Long] =
    Array(5L, 10L, 25L, 50L, 100L, 250L, 500L, 1000L, 2500L, 5000L)

  /** Most distinct path labels the counters keep. Clients choose request
    * paths (`/execute/<handle>`, 404s, Flight `/do_action/<name>`), so
    * past this many every new path counts under [[OtherPath]]; the request
    * log keeps the raw path.
    */
  val MaxPaths = 128
  val OtherPath = "other"

  /** Cumulative request counters, keyed by path in exposition order, with
    * at most [[MaxPaths]] path labels plus [[OtherPath]]. `add` is O(1)
    * and lock-free.
    */
  final class Counters {
    private[PrometheusText] final class PathStats {
      val byStatus = new ConcurrentSkipListMap[Int, LongAdder]()
      // requests per latency bucket, not cumulative: index i counts
      // durations in (bucket i-1, bucket i]; slower ones are only in count
      val buckets: Array[LongAdder] = Array.fill(latencyBucketsMs.length)(new LongAdder)
      val count, sumMs, rows = new LongAdder
    }

    private[PrometheusText] val paths = new ConcurrentSkipListMap[String, PathStats]()
    // path labels taken, reserved before a new one is inserted, so
    // concurrent first requests never insert more than MaxPaths
    private val labels = new AtomicInteger

    private def statsOf(path: String): PathStats = {
      val known = paths.get(path)
      if (known != null) known
      else if (labels.incrementAndGet() <= MaxPaths) {
        val fresh = new PathStats
        val raced = paths.putIfAbsent(path, fresh)
        if (raced == null) fresh else { labels.decrementAndGet(); raced }
      } else {
        labels.decrementAndGet()
        paths.computeIfAbsent(OtherPath, _ => new PathStats)
      }
    }

    def add(path: String, status: Int, durationMs: Long, rows: Option[Long]): Unit = {
      val p = statsOf(path)
      p.byStatus.computeIfAbsent(status, _ => new LongAdder).increment()
      // count before bucket, and `render` reads them in the other order,
      // so a concurrent scrape never shows a bucket above `+Inf`
      p.count.increment()
      val b = latencyBucketsMs.indexWhere(durationMs <= _)
      if (b >= 0) p.buckets(b).increment()
      p.sumMs.add(durationMs)
      rows.foreach(p.rows.add)
    }
  }

  /** Render the standard families from the running counters. */
  def render(counters: Counters): String = {
    val sb = new StringBuilder

    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

    sb ++= "# HELP graft_requests_total Requests served, by path and status.\n"
    sb ++= "# TYPE graft_requests_total counter\n"
    counters.paths.forEach { (path, p) =>
      p.byStatus.forEach { (status, n) =>
        sb ++= s"""graft_requests_total{path="${esc(path)}",status="$status"} ${n.sum}\n"""
      }
    }

    sb ++= "# HELP graft_request_duration_ms Request latency, by path.\n"
    sb ++= "# TYPE graft_request_duration_ms histogram\n"
    counters.paths.forEach { (path, p) =>
      var cumulative = 0L
      latencyBucketsMs.indices.foreach { i =>
        cumulative += p.buckets(i).sum
        sb ++= s"""graft_request_duration_ms_bucket{path="${esc(path)}",le="${latencyBucketsMs(i)}"} $cumulative\n"""
      }
      val count = p.count.sum
      sb ++= s"""graft_request_duration_ms_bucket{path="${esc(path)}",le="+Inf"} $count\n"""
      sb ++= s"""graft_request_duration_ms_sum{path="${esc(path)}"} ${p.sumMs.sum}\n"""
      sb ++= s"""graft_request_duration_ms_count{path="${esc(path)}"} $count\n"""
    }

    sb ++= "# HELP graft_rows_served_total Result rows returned, by path.\n"
    sb ++= "# TYPE graft_rows_served_total counter\n"
    counters.paths.forEach { (path, p) =>
      sb ++= s"""graft_rows_served_total{path="${esc(path)}"} ${p.rows.sum}\n"""
    }

    sb.result()
  }
}
