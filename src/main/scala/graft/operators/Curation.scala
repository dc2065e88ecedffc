package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the pipeline operators composed the
  * way a 100 TB corpus run would chain them —
  *
  *   1. cheap narrow quality filter first (drops rows before anything
  *      shuffles),
  *   2. exact dedup (one shuffle on a 16-byte digest),
  *   3. MinHash-LSH near-dup removal over the survivors only.
  *
  * Each stage shrinks the data the next (more expensive) stage sees; the
  * composition stays fully declarative, so Catalyst pipelines the stages
  * and AQE sizes every shuffle from runtime statistics.
  */
object Curation {

  /** Surviving doc_ids with status column. Near-dup policy: one
    * representative per TRANSITIVE near-dup cluster (the component's
    * minimum doc_id), via [[Dedup.clusters]]. Pair-wise dropping (delete
    * the larger side of each pair) over-keeps when a component's detected
    * edges skip members — e.g. component {5,7,9} with edges 5-9 and 7-9
    * drops only 9, keeping both 5 and 7; the cluster policy keeps 5 alone.
    */
  def curate(docs: DataFrame, minQuality: Double = 0.3,
      nearDupThreshold: Double = 0.75): DataFrame = {
    val quality = TextOps.qualityScore(docs)
      .filter(col("quality_score") >= minQuality)
      .select(col("doc_id"))
    val kept0 = docs.join(quality, "doc_id")
    val canonical = Dedup.exact(kept0)
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    // kept1 feeds both the near-dup stage and the final join, and the
    // cluster stage's iterative checkpoints already force execution —
    // checkpoint the narrow (doc_id, text) survivor set once instead of
    // re-running quality + exact dedup for each consumer
    val kept1 = kept0.join(canonical, "doc_id").localCheckpoint(true)
    val representatives =
      Dedup.clusterAssignments(kept1, minEstJaccard = nearDupThreshold)
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))
    kept1.join(representatives, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("kept").as("status"))
  }

  /** Quality-aware canonical selection: same stage chain as [[curate]]
    * (quality filter → exact dedup → transitive near-dup clusters), but
    * the cluster representative is the HIGHEST-quality member (ties to the
    * lowest doc_id) instead of the smallest id — what a production
    * pipeline actually keeps from a near-dup group. One extra broadcast-
    * sized join (scores are per-doc scalars) plus a per-cluster window
    * whose partitions are cluster-sized, never corpus-sized.
    */
  def curateKeepBest(docs: DataFrame, minQuality: Double = 0.3,
      nearDupThreshold: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextOps.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
    val kept0 = docs.join(
      scored.filter(col("quality_score") >= minQuality).select(col("doc_id")),
      "doc_id")
    val canonical = Dedup.exact(kept0)
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    val kept1 = kept0.join(canonical, "doc_id").localCheckpoint(true)
    val assign = Dedup.clusterAssignments(kept1,
      minEstJaccard = nearDupThreshold)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    assign.join(scored, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality_score"))
  }

  /** The full pretraining-data pipeline, composed end to end the way a
    * 100 TB corpus run chains it — each stage is an individually-verified
    * operator, and this composition is where the remaining risk lives
    * (schema drift between stages, checkpoint lineage, stage-boundary
    * determinism):
    *
    *   1. heuristic quality filter ([[TextOps.heuristicFilter]]) — narrow,
    *      in-row, drops rows before anything shuffles;
    *   2. exact dedup ([[Dedup.exact]]) — one shuffle keyed on a 16-byte
    *      digest, canonical = min doc_id;
    *   3. MinHash-LSH near-dup clusters ([[Dedup.clusterAssignments]]) —
    *      keep one representative (the component minimum) per TRANSITIVE
    *      cluster, over the shrunk survivor set only;
    *   4. benchmark decontamination
    *      ([[Sampling.ngramContaminationScreen]]) — drop docs whose
    *      shared-3-gram fraction against the eval set exceeds
    *      `maxContamination` (a fraction, not GPT-3's any-gram rule:
    *      common phrases collide with SOME benchmark gram in almost every
    *      document, so the any-gram rule empties a real corpus; the
    *      fraction targets docs that substantially CONTAIN eval text);
    *   5. temperature mixing ([[Sampling.temperatureMix]]) — source
    *      rebalance with rates computed over the POST-cleaning corpus
    *      (the order matters: rates from pre-dedup counts would re-skew
    *      toward sources whose volume was duplicates);
    *   6. sequence packing ([[Packing.packByBudget]]) — shard-local
    *      greedy fill of real-BPE token budgets.
    *
    * Returns the training manifest: (doc_id, source, n_tokens, shard,
    * pack_id) for every surviving document.
    *
    * `checkpoint` runs at the three stage boundaries whose output feeds
    * multiple downstream consumers (post-dedup, post-near-dup,
    * post-decontamination — e.g. the temperature mix reads its input
    * three times: per-source counts, the corpus total, and the final
    * join; the mix OUTPUT has exactly one consumer — `source` carries
    * through the pack window — so it takes no boundary). Default is
    * `localCheckpoint(eager)` — right for a single
    * job, but executor-pinned blocks are NOT fault-tolerant, so a real
    * 100 TB deployment passes a durable hook
    * (`df => { df.write.parquet(p); Tables.read(spark, p) }`): stage
    * outputs land in the lake, a lost executor re-reads instead of
    * failing the job, and each stage restarts from the last boundary.
    */
  def pretrainPipeline(docs: DataFrame, benchmark: DataFrame,
      minWords: Int = 40, maxWords: Int = 5000,
      minWordLen: Double = 3.5, maxWordLen: Double = 10.0,
      minUniqueRatio: Double = 0.2, minStopwords: Int = 2,
      nearDupThreshold: Double = 0.75,
      maxContamination: Double = 0.2,
      tau: Double = 0.5, budget: Double = 0.5,
      packBudget: Int = 512, shardSize: Int = 100,
      checkpoint: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    // 1. quality filter: keep flag only, semi-join back to the full rows
    val kept0 = docs.join(
      TextOps.heuristicFilter(docs, minWords, maxWords, minWordLen,
          maxWordLen, minUniqueRatio, minStopwords)
        .filter(col("keep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // 2. exact dedup
    val canonical = Dedup.exact(kept0)
      .filter(col("doc_id") === col("canonical_id")).select(col("doc_id"))
    val kept1 = checkpoint(kept0.join(canonical, Seq("doc_id"), "left_semi"))
    // 3. transitive near-dup representatives (see curate() for why the
    // cluster policy beats pair-wise dropping)
    val reps = Dedup.clusterAssignments(kept1, minEstJaccard = nearDupThreshold)
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val kept2 = checkpoint(kept1.join(reps, Seq("doc_id"), "left_semi"))
    // 4. decontamination against the eval set
    val clean = Sampling.ngramContaminationScreen(kept2, benchmark)
      .filter(col("contamination_frac") <= maxContamination)
      .select(col("doc_id"))
    val kept3 = checkpoint(kept2.join(clean, Seq("doc_id"), "left_semi"))
    // 5. source temperature mix over the cleaned corpus. No checkpoint
    // boundary here anymore: packing is the ONLY consumer now that
    // `source` carries through the pack window (below) instead of
    // re-joining — a boundary would materialize+store for a single read
    val mixed =
      Sampling.temperatureMix(kept3, col("source"), col("doc_id"), tau, budget)
    // 6. token-budget packing; source rides THROUGH the shard window as a
    // carry column (its bytes join the one shard exchange — strictly
    // cheaper than the old doc_id re-join, which read the mix twice and
    // paid a whole join stage to recover a column the input already had)
    Packing.packByBudget(mixed, packBudget, shardSize, carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("shard"),
        col("pack_id"))
  }

  /** Source-priority canonical selection: within each EXACT-duplicate
    * group (same text bytes), keep the copy from the most-trusted source —
    * the standard multi-crawl curation rule (a page captured by both a
    * curated dump and a broad crawl keeps the curated copy, preserving its
    * metadata), where plain [[Dedup.exact]] keeps the lowest doc_id
    * regardless of provenance. `priority` maps source → rank (lower wins);
    * unlisted sources rank last; ties inside a rank break on doc_id, so
    * selection is total and engine-replayable.
    *
    * One window over the same md5 grouping exact dedup shuffles on —
    * identical scale shape (one exchange keyed by a 16-byte digest),
    * constant state per group.
    */
  def canonicalBySource(docs: DataFrame,
      priority: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = priority.foldLeft(lit(999)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    val w = Window.partitionBy(md5(col("text")))
      .orderBy(col("src_rank"), col("doc_id"))
    docs.withColumn("src_rank", rank)
      .withColumn("canonical_id",
        first(col("doc_id")).over(w))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(md5(col("text")))))
      .select(col("doc_id"), col("source"),
        col("canonical_id"), col("group_size"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }
}
