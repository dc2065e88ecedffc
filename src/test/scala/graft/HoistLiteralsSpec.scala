package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.exec.QueryProfile
import graft.plans.HoistedLiteral

/** Literal-independent generated code ([[graft.plans.HoistLiterals]]):
  * statements that differ only in primitive constants reuse one compiled
  * class, while results, explain text and pushed filters stay those of
  * the plain literals.
  */
class HoistLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import HoistLiteralsSpec._

  private def hoisted(plan: SparkPlan): Seq[HoistedLiteral] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case h: HoistedLiteral => h })

  // ---- q06 variants -------------------------------------------------------

  private lazy val q06Template: String = {
    spark.read.parquet(s"$sf001/lineitem.parquet").createOrReplaceTempView("hoist_lineitem")
    SparkEntry.oracleSqlFor(sf001)("q06_revenue_forecast")
      .replace("FROM lineitem", "FROM hoist_lineitem")
  }

  /** q06 over shipdate year `year` and the discount band [lo, hi]. */
  private def q06(year: Int, lo: String, hi: String): String = {
    val literals = Seq("1996-01-01", "1997-01-01", "0.045", "0.075")
    // through placeholders, so a new year never matches the old next year
    val marked = literals.zipWithIndex.foldLeft(q06Template) { case (s, (l, i)) => s.replace(l, s"@$i@") }
    Seq(s"$year-01-01", s"${year + 1}-01-01", lo, hi).zipWithIndex
      .foldLeft(marked) { case (s, (v, i)) => s.replace(s"@$i@", v) }
  }

  /** q06's answer folded on the driver from the raw lineitem rows, with the
    * statement's decimal casts (HALF_UP to 2 places, exact product and sum).
    */
  private lazy val lineitem: Seq[(LocalDateTime, Double, Double, Double)] =
    spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .collect().toSeq.map { r =>
        val shipped = r.get(0) match {
          case t: java.sql.Timestamp => t.toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
          case t: Instant => t.atZone(ZoneOffset.UTC).toLocalDateTime
          case t: LocalDateTime => t
        }
        (shipped, r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }

  private def q06Expected(year: Int, lo: String, hi: String): Option[Double] = {
    def dec2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val (from, until) = (LocalDate.of(year, 1, 1).atStartOfDay, LocalDate.of(year + 1, 1, 1).atStartOfDay)
    val kept = lineitem.filter { case (ship, disc, qty, _) =>
      !ship.isBefore(from) && ship.isBefore(until) &&
        disc >= lo.toDouble && disc <= hi.toDouble && qty < 24
    }
    if (kept.isEmpty) None
    else Some(kept.map { case (_, disc, _, price) => dec2(price) * dec2(disc) }.sum.toDouble)
  }

  test("q06 variants with new dates and discount bands compile no new class") {
    // the first is the registered q06; the data ship from 1995 to 2001
    val variants = Seq((1996, "0.045", "0.075"), (1995, "0.015", "0.045"),
      (1997, "0.055", "0.085"), (1998, "0.005", "0.035"), (1999, "0.065", "0.095"),
      (2000, "0.025", "0.055"), (2001, "0.035", "0.065"))
    val expected = variants.map { case (y, lo, hi) => q06Expected(y, lo, hi) }
    assert(expected.forall(_.isDefined), "a variant selects no rows")
    def run(v: (Int, String, String)): Option[Double] = {
      val r = spark.sql(q06(v._1, v._2, v._3)).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(run(variants.head) === expected.head)
    variants.zip(expected).tail.foreach { case (v, want) =>
      val (phase, got) = QueryProfile.jvm(run(v))
      assert(phase.compiles === 0L, s"variant $v compiled ${phase.compiles} classes")
      assert(got === want, s"variant $v")
    }
  }

  test("q06 explain text and PushedFilters are those of the plain literals") {
    def finalPlan(aqe: Boolean): SparkPlan = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val df = queries.Registry.byName("q06_revenue_forecast").run(spark, sf0001)
        df.queryExecution.toRdd.count()
        df.queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val plan = finalPlan(aqe = false)
    val restored = plan.transformAllExpressions { case h: HoistedLiteral => h.lit }
    // the discount band and the quantity bound are hoisted out of the filter
    assert(Set[Any](0.045, 0.075, 24.0).subsetOf(hoisted(plan).map(_.lit.value).toSet))
    assert(hoisted(restored).isEmpty)
    // exchanges copied by the restore take fresh plan ids
    def text(p: SparkPlan) = p.treeString.replaceAll("plan_id=\\d+", "plan_id=_")
    assert(text(plan) === text(restored))
    def sql(p: SparkPlan) = collect(p) { case n => n.expressions.map(_.sql) }
    assert(sql(plan) === sql(restored))
    def pushed(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed(plan).nonEmpty && pushed(plan) === pushed(restored))
    // under AQE the rule runs on every query stage; the final plan prints
    // the condition exactly as the literals would
    val adaptive = finalPlan(aqe = true)
    assert(hoisted(adaptive).nonEmpty)
    def noIds(s: String) = s.replaceAll("#\\d+", "#")
    val condition = collect(plan) { case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString }
    assert(condition.nonEmpty && condition.map(noIds).forall(noIds(adaptive.toString).contains))
    assert(pushed(adaptive) === pushed(plan))
  }

  // ---- property: rewritten comparisons and arithmetic equal the driver ----

  private val ints = Gen.frequency(3 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1, 1),
    5 -> Gen.chooseNum(-1000, 1000), 2 -> Gen.chooseNum(Int.MinValue, Int.MaxValue))
  private val longs = Gen.frequency(3 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
    5 -> Gen.chooseNum(-1000L, 1000L), 2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue))
  private val doubles = Gen.frequency(4 -> Gen.oneOf(Double.NaN, 0.0, -0.0,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, Double.MinPositiveValue, 1.5),
    4 -> Gen.chooseNum(-100.0, 100.0), 2 -> Gen.chooseNum(-1e300, 1e300))
  private val floats = Gen.frequency(4 -> Gen.oneOf(Float.NaN, 0.0f, -0.0f,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MaxValue, Float.MinPositiveValue, 1.5f),
    6 -> Gen.chooseNum(-100.0f, 100.0f))
  // 0001-01-01, 1900-01-01, the day before the epoch, the epoch
  private val days = Gen.frequency(4 -> Gen.oneOf(-719162, -25567, -1, 0, 18000),
    6 -> Gen.chooseNum(-50000, 50000))
  // microsecond instants, before and after 1970
  private val micros = Gen.frequency(4 -> Gen.oneOf(-62135596800000000L, -1L, 0L, 1L, 1234567L),
    6 -> Gen.chooseNum(-3000000000000000L, 3000000000000000L))

  private def maybe[A](g: Gen[A]): Gen[Option[A]] = Gen.frequency(1 -> Gen.const(None), 7 -> g.map(Some(_)))

  private val lits: Gen[Lits] = for {
    b <- Gen.oneOf(true, false); i <- ints; l <- longs; f <- floats; d <- doubles
    dt <- days; ts <- micros
  } yield Lits(b, i, l, f, d, dt, ts)

  private def dataGen(n: Int, pick: Lits): Gen[Seq[Data]] = {
    // a quarter of each column repeats the literal, so equality cases are hit
    def near[A](g: Gen[A], a: A) = Gen.frequency(3 -> g, 1 -> Gen.const(a))
    Gen.listOfN(n, for {
      b <- maybe(Gen.oneOf(true, false)); i <- maybe(near(ints, pick.i)); l <- maybe(near(longs, pick.l))
      f <- maybe(near(floats, pick.f)); d <- maybe(near(doubles, pick.d))
      dt <- maybe(near(days, pick.dt)); ts <- maybe(near(micros, pick.ts))
    } yield Data(0, b, i, l, f, d, dt, ts)).map(_.zipWithIndex.map { case (r, k) => r.copy(id = k) })
  }

  private val rawSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false), StructField("b", BooleanType),
    StructField("i", IntegerType), StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("days", IntegerType), StructField("us", LongType)))

  /** The rows as an RDD-backed frame (a local relation would be folded by
    * the optimizer, never reaching generated code).
    */
  private def frame(rows: Seq[Data]): DataFrame = {
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows.map { r =>
      Row(r.id, r.b.orNull, r.i.orNull, r.l.orNull, r.f.orNull, r.d.orNull, r.dt.orNull, r.ts.orNull)
    }, 2), rawSchema)
    raw.select(col("id"), col("b"), col("i"), col("l"), col("f"), col("d"),
      date_from_unix_date(col("days")).as("dt"), timestamp_micros(col("us")).as("ts"),
      timestamp_micros(col("us")).cast(TimestampNTZType).as("ntz"))
  }

  private def instant(us: Long) =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** Spark's SQL ordering: NaN equals NaN and sorts above everything,
    * -0.0 equals 0.0.
    */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else java.lang.Boolean.compare(a.isNaN, b.isNaN)

  private type Cmp = Option[Int] // None: the column value is null

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] = Seq(
    ("eq", _ === _, _ == 0), ("lt", _ < _, _ < 0), ("le", _ <= _, _ <= 0),
    ("gt", _ > _, _ > 0), ("ge", _ >= _, _ >= 0))

  /** Per type: its column, its literal and the driver-side comparison. */
  private def comparands(p: Lits): Seq[(String, Column, Column, Data => Cmp)] = Seq(
    ("b", col("b"), lit(p.b), (r: Data) => r.b.map(java.lang.Boolean.compare(_, p.b))),
    ("i", col("i"), lit(p.i), (r: Data) => r.i.map(Integer.compare(_, p.i))),
    ("l", col("l"), lit(p.l), (r: Data) => r.l.map(java.lang.Long.compare(_, p.l))),
    ("f", col("f"), lit(p.f), (r: Data) => r.f.map(v => cmpDouble(v.toDouble, p.f.toDouble))),
    ("d", col("d"), lit(p.d), (r: Data) => r.d.map(cmpDouble(_, p.d))),
    ("dt", col("dt"), lit(LocalDate.ofEpochDay(p.dt.toLong)), (r: Data) => r.dt.map(Integer.compare(_, p.dt))),
    ("ts", col("ts"), lit(instant(p.ts)), (r: Data) => r.ts.map(java.lang.Long.compare(_, p.ts))),
    ("ntz", col("ntz"), lit(LocalDateTime.ofInstant(instant(p.ts), ZoneOffset.UTC)),
      (r: Data) => r.ts.map(java.lang.Long.compare(_, p.ts))))

  /** Arithmetic with a literal operand: the column, the driver's answer.
    * Integral ones use the `try_` forms, whose overflow is null, so one
    * overflowing row does not fail the whole case.
    */
  private def arithmetic(p: Lits): Seq[(Column, Data => Option[Any])] = {
    def exact(f: => Long): Option[Any] = scala.util.Try(f).toOption
    Seq(
      (try_add(col("i"), lit(p.i)), (r: Data) => r.i.flatMap(v => exact(Math.addExact(v, p.i)))),
      (try_subtract(col("i"), lit(p.i)), (r: Data) => r.i.flatMap(v => exact(Math.subtractExact(v, p.i)))),
      (try_multiply(col("i"), lit(p.i)), (r: Data) => r.i.flatMap(v => exact(Math.multiplyExact(v, p.i)))),
      (try_add(col("l"), lit(p.l)), (r: Data) => r.l.flatMap(v => exact(Math.addExact(v, p.l)))),
      (try_multiply(col("l"), lit(p.l)), (r: Data) => r.l.flatMap(v => exact(Math.multiplyExact(v, p.l)))),
      (col("f") + lit(p.f), (r: Data) => r.f.map(_ + p.f)),
      (col("f") * lit(p.f), (r: Data) => r.f.map(_ * p.f)),
      (col("d") + lit(p.d), (r: Data) => r.d.map(_ + p.d)),
      (col("d") - lit(p.d), (r: Data) => r.d.map(_ - p.d)),
      (col("d") * lit(p.d), (r: Data) => r.d.map(_ * p.d)),
      (try_divide(col("d"), lit(p.d)), (r: Data) => r.d.flatMap(v => if (p.d == 0.0) None else Some(v / p.d))))
  }

  /** Exact value equality; a float or double must match bit for bit up to
    * the NaN payload.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Int, y: Long) => x.toLong == y
    case _ => a == b
  }

  private def checkCases(mode: String, cases: Int): Unit =
    (1 to cases).foreach { k =>
      val (p, rows) = lits.flatMap(p => dataGen(24, p).map(p -> _))
        .pureApply(Gen.Parameters.default, Seed(k.toLong))
      val cs = comparands(p)
      val cmps = for ((name, c, l, driver) <- cs; (op, sparkOp, holds) <- ops)
        yield (s"${name}_$op", sparkOp(c, l), (r: Data) => driver(r).map(holds))
      val nullSafe = cs.map { case (name, c, l, driver) =>
        (s"${name}_nse", c <=> l, (r: Data) => Some(driver(r).contains(0)))
      }
      val arith = arithmetic(p).zipWithIndex.map { case ((c, driver), j) => (s"a$j", c, driver) }
      val projected = (cmps ++ nullSafe ++ arith).map { case (n, c, f) => (n, c.as(n), f) }
      // the filter rotates over the 40 comparisons, so in a run of 40 cases
      // every type and operator filters once
      val (fName, fCol, fDriver) = cmps(k % cmps.size)
      val df = frame(rows).filter(fCol).select(col("id") +: projected.map(_._2): _*)
      val got = df.collect().map(r => r.getInt(0) -> r).toMap
      val want = rows.filter(r => fDriver(r).contains(true))
      val ctx = s"$mode case $k (filter $fName, literals $p)"
      assert(got.keySet === want.map(_.id).toSet, ctx)
      want.foreach { r =>
        projected.zipWithIndex.foreach { case ((n, _, driver), j) =>
          val g = Option(got(r.id).get(j + 1))
          val w = driver(r)
          assert(g.size == w.size && g.zip(w).forall { case (x, y) => same(x, y) },
            s"$ctx row ${r.id} column $n: got $g want $w")
        }
      }
      assert(hoisted(df.queryExecution.executedPlan).nonEmpty, ctx)
    }

  test("property: hoisted comparisons and arithmetic equal the driver, generated code") {
    checkCases("codegen", 40)
  }

  test("property: hoisted comparisons and arithmetic equal the driver, per-operator codegen") {
    // no whole-stage code: Filter and Project compile their own predicate
    // and projection classes
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try checkCases("operator codegen", 15)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("property: hoisted comparisons and arithmetic equal the driver, interpreted") {
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try checkCases("interpreted", 40)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

object HoistLiteralsSpec {
  /** One generated row: every value may be null except `id`. Dates are
    * days and timestamps microseconds since the epoch.
    */
  final case class Data(id: Int, b: Option[Boolean], i: Option[Int], l: Option[Long],
      f: Option[Float], d: Option[Double], dt: Option[Int], ts: Option[Long])

  /** The literals of one case. */
  final case class Lits(b: Boolean, i: Int, l: Long, f: Float, d: Double, dt: Int, ts: Long)
}
