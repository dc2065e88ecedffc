package perfbench

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val columns = Seq("b", "a", "c", "d", "e")
  private val rows = Seq(
    Seq[Any](1L, "x", 2.5, new java.math.BigDecimal("1.50"),
      java.sql.Timestamp.from(Instant.parse("2020-01-02T03:04:05.000006Z"))),
    Seq[Any](null, "y", -0.0, new java.math.BigDecimal("0.00"), java.sql.Date.valueOf("1996-01-01")))
  // test_digest.py pins the same value for the same rows through digest.py,
  // the DuckDB side of the result check
  private val pinned = Digest.Result(2, 4907013848059399488L)

  test("digest equals the value digest.py computes for the same rows") {
    assert(Digest.of(columns, rows) === pinned)
    assert(Digest.of(columns, rows.reverse) === pinned)
  }

  test("a result with one altered row is flagged") {
    columns.indices.foreach { i =>
      val altered = rows.head.updated(i, if (rows.head(i) == null) "changed" else null)
      assert(Digest.of(columns, Seq(altered, rows(1))) !== pinned, s"column ${columns(i)}")
    }
    assert(Digest.of(columns, rows.take(1)) !== pinned)
  }
}
