package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Tables

/** Metadata-only `MIN`/`MAX` (+`COUNT(*)`): the companion of
  * [[FooterCountRule]] for the other aggregates parquet footers can answer
  * exactly. An unfiltered global `MIN(col)`/`MAX(col)` over a parquet
  * relation is the fold of the per-row-group column statistics every writer
  * already stored — at 100 TB the difference between reading a few KB of
  * footer per file and decoding the column (DataFusion and DuckDB both
  * answer this shape from metadata; Spark scans).
  *
  * Fires ONLY on the exact safe shape: a global aggregate (no grouping)
  * directly over a plain parquet `LogicalRelation` (optionally through the
  * attribute-only `Project` column pruning leaves), where every output is
  * `MIN(attr)`, `MAX(attr)` or literal `COUNT(*)` — no DISTINCT, no filter
  * clause — on a top-level column of a supported type. It bails (leaves the
  * plan untouched) unless EVERY row group of EVERY file carries usable
  * statistics for every requested column, so it can never change a result:
  *   - a chunk with min/max contributes them (parquet stats exclude nulls,
  *     exactly SQL MIN/MAX semantics);
  *   - an all-null chunk (numNulls == valueCount) contributes nothing;
  *   - a chunk with missing/untrusted stats (parquet-mr drops binary stats
  *     written with the pre-PARQUET-251 broken ordering, and omits float
  *     stats when NaN is present) disables the rewrite entirely.
  * String stats compare as unsigned lexicographic bytes on both sides
  * (parquet UTF8 sort order == `UTF8String.compareTo`).
  */
case class FooterStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private type Agg = (String, AttributeReference) // op, column

  /** Decompose one aggregate output into (op, column); None = unsupported. */
  private def supported(e: AggregateExpression): Option[Agg] = e match {
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if FooterStats.supportedType(a.dataType) => Some(("min", a))
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if FooterStats.supportedType(a.dataType) => Some(("max", a))
    case AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _) =>
      Some(("count", null))
    case _ => None
  }

  private def plainParquet(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan match {
      case lr: LogicalRelation if !lr.isStreaming =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs)
          case _ => None
        }
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        plainParquet(child)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate
        if agg.groupingExpressions.isEmpty && agg.aggregateExpressions.nonEmpty =>
      val decomposed = agg.aggregateExpressions.map {
        case Alias(ae: AggregateExpression, _) => supported(ae)
        case _ => None
      }
      val minMaxCols = decomposed.flatten.collect {
        case (op, a) if op != "count" => a
      }
      // Pure COUNT(*) belongs to FooterCountRule; fire only when at least
      // one MIN/MAX is present and every output is supported.
      if (decomposed.exists(_.isEmpty) || minMaxCols.isEmpty) agg
      else plainParquet(agg.child) match {
        case Some(fs) =>
          // The rule's contract is "can never change a result" — which
          // includes never turning a working scan into an error. The fold
          // does real I/O (footers can vanish or corrupt between listing
          // and read) and real arithmetic (a garbage MILLIS stat can
          // overflow multiplyExact): ANY failure keeps the scan, it never
          // propagates out of the optimizer.
          try {
            val files = fs.location.inputFiles.toSeq
            val names = minMaxCols.map(_.name).distinct
            FooterStats.merged(spark, files, names,
                names.map(n => minMaxCols.find(_.name == n).get.dataType)) match {
              case Some((rows, stats)) =>
                val values = decomposed.flatten.map {
                  case ("count", _) => rows
                  case (op, a) =>
                    val (lo, hi) = stats(a.name)
                    if (op == "min") lo.orNull else hi.orNull
                }
                LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))
              case None => agg // stats unusable somewhere: keep the scan
            }
          } catch {
            case scala.util.control.NonFatal(_) => agg
          }
        case None => agg
      }
  }
}

object FooterStats {

  private[graft] def supportedType(t: DataType): Boolean = t match {
    case IntegerType | LongType | FloatType | DoubleType | DateType |
        StringType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true // warehouse numerics are decimal-typed
    case _ => false
  }

  /** One file's footer fold (open it with `Tables.footer`): the row count
    * and, for each requested column, Some((min, max)) as
    * plain serializable values (None, None) when every row group is
    * all-null — or None for the whole file when any chunk's stats are
    * missing/untrusted. Strings travel as Array[Byte].
    *
    * Timestamp columns are UNIT-AWARE: parquet stores the raw INT64 in the
    * file's declared unit (MILLIS for older Hive/arrow writers, MICROS for
    * Spark's default) while Catalyst's internal timestamp value is always
    * MICROS. The file's logical-type annotation is consulted per column:
    * MICROS passes through, MILLIS is scaled ×1000 here, and anything else
    * (NANOS, a missing annotation on a timestamp-read column can't occur —
    * Spark would not have mapped it to TimestampType, and INT96 physical
    * encoding, whose stats parquet-mr doesn't write anyway) bails the whole
    * file so the rule keeps the scan rather than fold a wrong unit.
    */
  private[graft] def readOne(footer: ParquetMetadata, cols: Seq[String])
      : Option[(Long, Seq[(Option[Any], Option[Any])])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = footer.getFileMetaData.getSchema
    // raw-stat → plain-value converter per requested column; an
    // encoding we cannot convert exactly disables the whole file
    // (→ no fold).
    val convs: Seq[Any => Any] = cols.map { name =>
      val desc = schema.getColumns.asScala
        .find(_.getPath.mkString(".") == name).getOrElse(return None)
      val pt = desc.getPrimitiveType
      if (pt.getPrimitiveTypeName == PrimitiveTypeName.INT96) return None
      pt.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            // raw INT64 in the file's unit → Catalyst micros
            case LogicalTypeAnnotation.TimeUnit.MICROS => identity[Any] _
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              (v: Any) => Math.multiplyExact(
                v.asInstanceOf[java.lang.Long].longValue(), 1000L)
            case _ => return None // NANOS / future units: never fold
          }
        case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          // parquet stores decimals as an unscaled INT32/INT64 or a
          // big-endian two's-complement binary (FLBA/BINARY); either
          // way the stat converts exactly to a BigDecimal at the
          // column's declared scale
          (v: Any) => v match {
            case i: java.lang.Integer =>
              java.math.BigDecimal.valueOf(i.longValue(), dec.getScale)
            case l: java.lang.Long =>
              java.math.BigDecimal.valueOf(l.longValue(), dec.getScale)
            case b: org.apache.parquet.io.api.Binary =>
              new java.math.BigDecimal(
                new java.math.BigInteger(b.getBytes), dec.getScale)
            case other => other
          }
        case _ => identity[Any] _
      }
    }
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val per = cols.zip(convs).map { case (name, conv) =>
      var lo: Option[Any] = None
      var hi: Option[Any] = None
      for (b <- blocks) {
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == name)
          .getOrElse(return None)
        val st = cc.getStatistics
        if (st == null || st.isEmpty) {
          // no stats at all for a chunk with values → untrusted
          if (cc.getValueCount > 0) return None
        } else if (st.hasNonNullValue) {
          val mn = toPlain(st.genericGetMin, conv)
          val mx = toPlain(st.genericGetMax, conv)
          lo = Some(lo.fold(mn)(v => if (plainLt(mn, v)) mn else v))
          hi = Some(hi.fold(mx)(v => if (plainLt(v, mx)) mx else v))
        } else if (!st.isNumNullsSet || st.getNumNulls != cc.getValueCount) {
          return None // not provably all-null
        }
      }
      (lo, hi)
    }
    Some((rows, per))
  }

  private def toPlain(v: Any, conv: Any => Any): Any = conv(v) match {
    case b: org.apache.parquet.io.api.Binary => b.getBytes
    case other => other
  }

  /** Unsigned-lexicographic for bytes (parquet UTF8 sort order), natural
    * order otherwise. NaN never appears: parquet-mr omits stats for float
    * chunks containing NaN and readOne bails on missing stats.
    */
  private def plainLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    case (x: Int, y: Int) => x < y
    case (x: Long, y: Long) => x < y
    case (x: Float, y: Float) => x < y
    case (x: Double, y: Double) => x < y
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) < 0
    case _ => sys.error(s"unexpected stat type: ${a.getClass}")
  }

  /** Fold footers across files (`Tables.perFile`: driver for small sets,
    * tasks beyond 64) and convert to Catalyst internal values.
    * None = some file lacks usable stats.
    */
  private[plans] def merged(spark: SparkSession, files: Seq[String],
      names: Seq[String], types: Seq[DataType])
      : Option[(Long, Map[String, (Option[Any], Option[Any])])] = {
    if (files.isEmpty) return Some((0L, names.map(n => n -> (None, None)).toMap))
    val perFile = Tables.perFile(spark, files)((conf, p) =>
      Tables.footer(conf, p)(readOne(_, names)))
    if (perFile.exists(_.isEmpty)) return None
    val ok = perFile.flatten
    val rows = ok.map(_._1).sum
    val stats = names.zip(types).zipWithIndex.map { case ((n, t), i) =>
      val pairs = ok.map(_._2(i))
      val lo = pairs.flatMap(_._1).reduceOption((a, b) => if (plainLt(a, b)) a else b)
      val hi = pairs.flatMap(_._2).reduceOption((a, b) => if (plainLt(a, b)) b else a)
      n -> (lo.map(internal(_, t)), hi.map(internal(_, t)))
    }.toMap
    Some((rows, stats))
  }

  /** Plain stat value → Catalyst internal representation. */
  private def internal(v: Any, t: DataType): Any = t match {
    case StringType => UTF8String.fromBytes(v.asInstanceOf[Array[Byte]])
    case dt: DecimalType =>
      // changePrecision inside Decimal.apply throws if the stat doesn't
      // fit the query schema's (precision, scale) — caught by the rule's
      // NonFatal guard, which keeps the scan
      Decimal(BigDecimal(v.asInstanceOf[java.math.BigDecimal]),
        dt.precision, dt.scale)
    case _ => v // Int/Long/Float/Double, date days, timestamp micros
  }

  /** Install on an existing session (idempotent). */
  def enable(spark: SparkSession): Unit = {
    val em = spark.sessionState.experimentalMethods
    if (!em.extraOptimizations.exists(_.isInstanceOf[FooterStatsRule]))
      em.extraOptimizations = em.extraOptimizations :+ FooterStatsRule(spark)
  }
}
