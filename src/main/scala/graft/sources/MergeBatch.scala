package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.StructType

/** The merge verbs' shared batch contract — both table formats, both
  * write modes ([[DeltaWrite.merge]], [[DeltaWrite.mergeDv]],
  * [[IcebergLog.merge]], [[IcebergLog.mergeMoR]]). A merge is: read the
  * table, prepare the batch ([[apply]]), run the format's match step
  * (candidate pruning by the condition's partition conjuncts, then by
  * [[keyValues]], then a semi-join of the candidates against the batch
  * keys), aggregate the match ([[stats]]), and only then differ by write
  * mode in how matched rows die.
  */
private[sources] object MergeBatch {

  /** The most distinct batch values [[keyValues]] collects for one key. */
  val MaxKeyValues = 10000

  /** A prepared batch: its rows in the table's types, materialized once;
    * its row count (also its key count: keys are unique); its keys.
    */
  final case class Batch(rows: DataFrame, count: Long, keys: DataFrame)

  /** What a match step found: the candidate files' live rows, with their
    * row identity, whose key is in the batch and that satisfy the extra
    * match condition; and that condition with NULL as no-match (SQL join
    * semantics).
    */
  final case class Matched(rows: DataFrame, condition: Option[Column])

  /** What [[stats]] counted over the matched rows. */
  final case class MatchStats(files: Seq[String], rows: Long, keys: Long)

  /** Prepare `source` against the table schema `table`:
    *
    *  - cast every table column to the table's exact type (a wider-typed
    *    batch must not restage touched files under a different physical
    *    type than untouched files keep); a column the table lacks keeps
    *    its source type and follows the table's columns;
    *  - materialize once (eager local checkpoint): the batch feeds this
    *    check, the key broadcast of the match scan, the key-value prune,
    *    the landing and the change feed, each of which would otherwise
    *    replay the caller's source plan. Incremental-batch sized by
    *    contract;
    *  - ONE aggregate gives the row count and the largest per-key
    *    multiplicity; two rows for one key make the match ambiguous and
    *    refuse, the error real Delta raises.
    *
    * An empty batch is `None`: a merge of nothing commits nothing.
    */
  def apply(source: DataFrame, table: StructType,
      keys: Seq[String]): Option[Batch] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    val names = table.fieldNames.toSeq
    val cols = names ++ source.columns.filterNot(names.contains)
    val rows = source.select(cols.map(c => col(s"`$c`").cast(
        if (names.contains(c)) table(c).dataType
        else source.schema(c).dataType).as(c)): _*)
      .localCheckpoint(true)
    val keyCols = keys.map(c => col(s"`$c`"))
    val st = rows.groupBy(keyCols: _*).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")), max(col("__n"))).head
    val n = if (st.isNullAt(0)) 0L else st.getLong(0)
    require(n == 0L || st.getLong(1) <= 1L,
      "merge source has multiple rows for the same key (ambiguous match)")
    if (n == 0L) None else Some(Batch(rows, n, rows.select(keyCols: _*)))
  }

  /** The batch's distinct non-null values of `key`, for pruning candidate
    * files whose partition tuple derives from it. The collect is capped
    * at [[MaxKeyValues]]: pruning is best-effort, and an unbounded batch
    * on a high-cardinality key must not blow the driver for a marginal
    * prune. Over the cap the answer is `None` (prune nothing); the cap
    * counts rows BEFORE nulls drop, because a truncated list must never
    * prune. An empty list means every value is null — an equi-join key
    * never matches null, so no file can match.
    */
  def keyValues(batch: Batch, key: String): Option[Seq[Any]] = {
    import org.apache.spark.sql.functions.col
    val raw = batch.rows.select(col(s"`$key`")).distinct()
      .limit(MaxKeyValues + 1).collect()
    if (raw.length > MaxKeyValues) None
    else Some(raw.map(_.get(0)).filter(_ != null).toSeq)
  }

  /** The match scan's ONE aggregate: the set of files holding a matched
    * row (column `file`; bounded by the live-file count), the matched
    * row count and the distinct matched key count. More rows than keys
    * means duplicate-key targets. No candidates, no job.
    */
  def stats(matched: Option[DataFrame], file: String,
      keys: Seq[String]): MatchStats =
    matched.fold(MatchStats(Nil, 0L, 0L)) { m =>
      import org.apache.spark.sql.functions.{col, collect_set, count, count_distinct, lit}
      val kc = keys.map(c => col(s"`$c`"))
      val r = m.agg(collect_set(col(file)), count(lit(1)),
        count_distinct(kc.head, kc.tail: _*)).head
      MatchStats(r.getSeq[String](0), r.getLong(1), r.getLong(2))
    }
}
