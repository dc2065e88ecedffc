package graft.cli

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

/** Result pagination (reference `src/tui/pagination.rs:6-71`: the TUI holds
  * the last statement's stream and serves 100-row pages from buffered
  * batches). Spark analog: `toLocalIterator` pulls partitions incrementally
  * — only the pages viewed are fetched to the driver, which is the whole
  * point at 100 TB result scale.
  */
class Pagination(df: DataFrame, val pageSize: Int = 100) {

  private val it = df.toLocalIterator()
  private val buffered = ArrayBuffer.empty[Row]

  private def ensure(n: Int): Unit =
    while (buffered.size < n && it.hasNext) buffered += it.next()

  /** 0-based page; empty past the end. */
  def page(i: Int): Seq[Row] = {
    ensure((i + 1) * pageSize)
    buffered.slice(i * pageSize, (i + 1) * pageSize).toSeq
  }

  def hasMore: Boolean = it.hasNext

  /** Total row count, exhausting the stream (reference's "last page"). */
  def totalRows: Int = { while (it.hasNext) buffered += it.next(); buffered.size }
}
