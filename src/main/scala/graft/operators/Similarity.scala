package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Scale design: queries are broadcast (they are few); the corpus streams
  * through one narrow pass computing dots via codegen'd higher-order array
  * functions — no N x N shuffle, no explode of the dense dimension. Top-k is
  * a per-query window over the candidate set. The IVF variant prunes the
  * corpus to the probed coarse cells (label column as the cell id) before
  * the same scoring pass.
  */
object Similarity {

  /** Cosine similarity between two array<float/double> columns, computed by
    * ordered fold (deterministic summation order).
    *
    * Composable-function form, kept as the portable reference
    * implementation; the hot paths use [[nativeCosine]], a fused
    * zero-allocation Catalyst expression with identical semantics
    * (graft.functions.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column = {
    // multiply in double precision: float*float products drift ~1e-7 from
    // the double-computed oracle, enough to flip a 4dp rounding
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Codegen'd single-pass cosine (requires the session's registry to hold
    * the native function — registered idempotently per session).
    */
  private def nativeCosine(spark: SparkSession)(a: Column, b: Column): Column = {
    graft.functions.NativeFunctions.register(spark)
    call_function("cosine_sim", a, b)
  }

  /** Exact per-query top-k without funnelling a query's whole candidate
    * set through one reducer: stage 1 keeps the k best rows per qid WITHIN
    * each partition (bounded heap over the narrow (qid, nid, cos_sim)
    * stream — no shuffle, state is k rows × live qids); stage 2 ranks the
    * ≤ k × numPartitions survivors per qid. Identical results to a global
    * per-qid row_number window (the per-partition winners are a superset
    * of the global winners under the same (cos_sim desc, nid) order), but
    * the corpus-sized candidate stream never crosses an exchange keyed by
    * qid alone — the single-reducer bottleneck a plain window has at scale.
    */
  private def topKPerQuery(cand: DataFrame, k: Int): DataFrame = {
    val schema = cand.schema
    val qi = schema.fieldIndex("qid")
    val ni = schema.fieldIndex("nid")
    val si = schema.fieldIndex("cos_sim")
    // dequeues the max = the worst kept row (lowest sim, then highest nid)
    val worstFirst: Ordering[Row] =
      Ordering.by((r: Row) => (-r.getDouble(si), r.getLong(ni)))
    val partial = cand.mapPartitions { it =>
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.getLong(qi),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        h.enqueue(r)
        if (h.size > k) { h.dequeue(); () }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(Encoders.row(schema))
    partial.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid")))
      .cast("long"))
      .filter(col("rank") <= k)
  }

  /** Brute-force top-k cosine neighbors for each query vector (exact
    * baseline). Output: (qid, nid, rank, cos_sim rounded to 4dp).
    */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int = 10): DataFrame = {
    val cos = nativeCosine(emb.sparkSession) _
    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sims = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      .crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos_sim", cos(col("qvec"), col("nvec")))
    topKPerQuery(sims.select(col("qid"), col("nid"), col("cos_sim")), k)
      .select(col("qid"), col("nid"), col("rank"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** k-NN majority-vote classification — the label-propagation /
    * weak-labeling primitive (label new documents from their nearest
    * labeled neighbors; also the standard probe for embedding quality).
    * Prediction = the label with the most votes among the k exact nearest
    * neighbors, ties to the smallest label; the query's own label rides
    * along with a `correct` flag so the same relation serves as the
    * accuracy eval.
    *
    * Scale: one [[bruteForceTopK]] pass (or swap in any ANN first stage),
    * after which everything is k·queries rows — the vote aggregate and
    * argmax window never see the corpus.
    */
  /** HARD-NEGATIVE MINING for contrastive / retrieval training: for each
    * anchor, the k most-similar corpus vectors carrying a DIFFERENT
    * label — the negatives that actually move a contrastive loss, unlike
    * random sampling. Near-identical vectors with a different label
    * (rounded cosine above `maxSim`) are EXCLUDED: at that similarity
    * the "negative" is almost surely a mislabeled duplicate, the classic
    * false-negative trap of hard mining (the rounding makes the band
    * edge engine-exact).
    *
    * Scale: the a01 shape — anchors broadcast (the anchor batch is
    * bounded by contract), ONE pass over the corpus with a bounded
    * per-anchor heap; swap the first stage for IVF/LSH (a02/a03) when
    * the anchor set itself is corpus-sized.
    */
  def hardNegatives(emb: DataFrame, isAnchor: Column, k: Int = 5,
      maxSim: Double = 0.99): DataFrame = {
    val cos = nativeCosine(emb.sparkSession) _
    val anchors = emb.filter(isAnchor)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("anchor_label"))
    val cand = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"), col("label").as("neg_label"))
      .crossJoin(broadcast(anchors))
      .filter(col("nid") =!= col("qid") &&
        col("neg_label") =!= col("anchor_label"))
      .withColumn("cos_sim", cos(col("qvec"), col("nvec")))
      .filter(round(col("cos_sim"), 4) <= maxSim)
    topKPerQuery(cand.select(col("qid"), col("nid"), col("cos_sim"),
        col("anchor_label"), col("neg_label")), k)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"),
        col("anchor_label"), col("neg_label"))
  }

  def knnClassify(emb: DataFrame, isQuery: Column, k: Int = 10): DataFrame = {
    val votes = bruteForceTopK(emb, isQuery, k)
      .join(emb.select(col("vec_id").as("nid"), col("label")), "nid")
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(emb.select(col("vec_id").as("qid"),
        col("label").cast("long").as("true_label")), "qid")
      .select(col("qid"), col("label").cast("long").as("predicted_label"),
        col("votes"), col("true_label"),
        (col("label").cast("long") === col("true_label")).as("correct"))
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified top-k: greedily select k results maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` — the diversity
    * re-rank that keeps a near-dup-heavy neighborhood from filling the
    * whole result list (for training-data selection: pick representative
    * AND diverse exemplars, not five copies of the same page).
    *
    * Two-stage shape: relevance is the exact top-`pool` per query (any
    * first-stage retriever works — this composes with IVF/PQ/BQ the same
    * way), after which EVERYTHING is k-bounded: the pairwise-similarity
    * relation is queries × pool² rows and the greedy loop's k unrolled
    * stages are joins over it — corpus size never appears after stage
    * one. All similarities are 4dp-rounded before any comparison and ties
    * break by nid, so the greedy argmax is engine-exact and the whole
    * selection replays in SQL.
    */
  def mmrTopK(emb: DataFrame, isQuery: Column, k: Int = 5, pool: Int = 20,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && pool >= k, "need pool >= k >= 1")
    val cos = nativeCosine(emb.sparkSession) _
    val cand = bruteForceTopK(emb, isQuery, pool)
      .select(col("qid"), col("nid"), col("cos_sim").as("rel"))
      .localCheckpoint(true)
    val ce = cand.select(col("qid"), col("nid"))
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        "nid")
    val pair = ce.select(col("qid"), col("nid").as("a"), col("nvec").as("avec"))
      .join(ce.select(col("qid"), col("nid").as("b"), col("nvec").as("bvec")),
        Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(cos(col("avec"), col("bvec")), 4).as("psim"))
      .localCheckpoint(true)
    // The greedy loop itself runs on the DRIVER over the two k-bounded
    // relations (queries×pool candidates, queries×pool² pairwise sims —
    // thousands of rows by CONTRACT, like the kmeans centroids and the
    // gated union-find): k unrolled join+window stages cost ~1 s of pure
    // scheduling each at any scale, while the driver loop is microseconds
    // over the same bounded data. Arithmetic is identical (4dp doubles,
    // λ·rel − (1−λ)·maxPsim, nid ties), so the SQL oracle still replays
    // the selection exactly.
    val mu = 1.0 - lambda
    val candRows = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val psim = pair.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    val out = candRows.groupBy(_._1).toSeq.flatMap { case (qid, cands) =>
      val pool = cands.map(c => c._2 -> c._3)
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (selected.size < k && selected.size < pool.size) {
        val taken = selected.map(_._1).toSet
        val best = pool.filterNot(c => taken(c._1)).minBy { case (nid, rel) =>
          val pen =
            if (taken.isEmpty) 0.0
            else taken.map(s => psim.getOrElse((qid, s, nid), 0.0)).max
          val score = if (taken.isEmpty) rel else lambda * rel - mu * pen
          (-score, nid)
        }
        selected += best
      }
      selected.zipWithIndex.map { case ((nid, rel), i) =>
        (qid, nid, (i + 1).toLong, rel)
      }
    }
    val spark = emb.sparkSession
    import spark.implicits._
    out.toDF("qid", "nid", "rank", "cos_sim")
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * metric an index-tuning loop (nProbe, bands, codebook size) actually
    * optimizes. Inputs are any two (qid, nid, …) rankings of the same
    * query set; output is per-query hit count and recall.
    *
    * Scale: both inputs are k rows per query — tiny relative to the corpus
    * whatever the corpus size — so this is a broadcast-sized equi-join,
    * never a corpus pass.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("qid"), col("nid"))
      .join(approx.select(col("qid").as("__aqid"), col("nid").as("__anid")),
        col("qid") === col("__aqid") && col("nid") === col("__anid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("__anid")).as("n_hits"),
        round(count(col("__anid")).cast("double") / lit(k.toDouble), 4)
          .as(s"recall_at_$k"))

  /** Binary-quantization two-stage search: Hamming top-`candidates` over
    * the packed sign bits ([[Quantize.binaryTopK]] — codes-only scan),
    * then exact cosine re-rank of the short list to top-k. The production
    * BQ shape: the corpus pass touches 8 bytes per vector; full floats are
    * fetched for candidates×queries rows only.
    */
  def binaryRerankTopK(emb: DataFrame, isQuery: Column, k: Int = 10,
      candidates: Int = 50): DataFrame = {
    val cos = nativeCosine(emb.sparkSession) _
    val cand = Quantize.binaryTopK(emb, isQuery, candidates)
      .select(col("qid"), col("nid"))
    val scored = cand
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid")
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        "nid")
      .withColumn("cos_sim", cos(col("qvec"), col("nvec")))
      .select(col("qid"), col("nid"), col("cos_sim"))
    topKPerQuery(scored, k)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** IVF-style ANN: coarse cells from the corpus's label column (centroid =
    * per-cell mean vector), probe the nProbe nearest cells per query, then
    * exact-score only vectors in probed cells. Sub-linear scan at scale when
    * cells >> nProbe.
    *
    * `candidateFilter` is PRE-filtered search (the production form for
    * tombstones / ACLs / metadata constraints): the predicate is applied to
    * the corpus side BEFORE scoring, inside the same pruned cell join —
    * excluded vectors are never scored, the scan stays sub-linear (Spark
    * pushes the predicate into the parquet scan under the cell join), and
    * the top-k fills from eligible vectors only. Post-filtering the top-k
    * instead would return fewer than k rows whenever any winner is
    * excluded. The index (cells + centroids) is still built over the FULL
    * corpus — filters change per query; the index does not.
    */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int = 10, nProbe: Int = 2,
      candidateFilter: Column = lit(true)): DataFrame =
    ivfTopKWithCentroids(emb, ivfCentroids(emb), isQuery, k, nProbe,
      candidateFilter)

  /** The IVF coarse index: per-cell mean centroid over the corpus's label
    * column — the artifact [[saveIvfIndex]] persists.
    */
  def ivfCentroids(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg(avg(col("v")).as("cv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
        s => s.getField("cv")).as("centroid"))

  /** Persist the IVF coarse index (cells × dim doubles — kilobytes
    * whatever the corpus size). The production index lifecycle: the fit
    * is a corpus pass you run once per index build, not once per query
    * batch; searches load the artifact and skip it.
    */
  def saveIvfIndex(emb: DataFrame, dir: String): Unit =
    ivfCentroids(emb).write.mode("overwrite").parquet(dir)

  /** IVF search against a PERSISTED index ([[saveIvfIndex]]'s output):
    * identical results to [[ivfTopK]] (the centroid doubles round-trip
    * parquet exactly), zero fit cost at query time.
    */
  def ivfTopKFromIndex(emb: DataFrame, indexDir: String, isQuery: Column,
      k: Int = 10, nProbe: Int = 2,
      candidateFilter: Column = lit(true)): DataFrame =
    ivfTopKWithCentroids(emb, graft.core.Tables.read(emb.sparkSession, indexDir),
      isQuery, k, nProbe, candidateFilter)

  /** The search half of [[ivfTopK]], against any (label, centroid)
    * relation.
    */
  def ivfTopKWithCentroids(emb: DataFrame, centroids: DataFrame,
      isQuery: Column, k: Int, nProbe: Int,
      candidateFilter: Column = lit(true)): DataFrame = {
    val cos = nativeCosine(emb.sparkSession) _
    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probed = queries.crossJoin(broadcast(centroids))
      .withColumn("csim", cos(col("qvec"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("label"))))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qvec"), col("label"))
    val cand = emb.filter(candidateFilter)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"),
        col("label"))
      .join(broadcast(probed), Seq("label"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos_sim", cos(col("qvec"), col("nvec")))
    topKPerQuery(cand.select(col("qid"), col("nid"), col("cos_sim")), k)
      .select(col("qid"), col("nid"), col("rank"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** LSH-bucketed ANN: hyperplane band buckets as the coarse index.
    * Queries probe the corpus rows sharing any signature band (an
    * equi-join on (band, bucket) — never a cross join), candidates get the
    * exact codegen'd cosine, then the same two-stage top-k as the exact
    * baseline. Complements IVF: no training scan (signatures are per-row
    * expressions), index cost is `planes` bits per vector, and recall
    * follows the band curve rather than centroid geometry — the right
    * trade when the corpus has no cluster structure for IVF to probe, at
    * the price of candidate volume on near-orthogonal data (see
    * [[nearDupPairsLsh]]'s band-settings note).
    *
    * Approximate by construction: a query returns fewer than k rows when
    * its buckets hold fewer than k distinct neighbors.
    */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int = 10,
      planes: Int = 64, bands: Int = 16, dim: Int = -1): DataFrame = {
    require(planes % bands == 0, "planes must divide evenly into bands")
    val cos = nativeCosine(emb.sparkSession) _
    val resolvedDim =
      if (dim > 0) dim
      else emb.select(size(col("embedding"))).head(1) match {
        case Array(r) => r.getInt(0)
        case _ =>
          return emb.sparkSession.emptyDataFrame
            .select(lit(0L).as("qid"), lit(0L).as("nid"),
              lit(0L).as("rank"), lit(0.0).as("cos_sim")).limit(0)
      }
    val buckets = lshBuckets(emb, planes, bands, resolvedDim)
    val queryIds = emb.filter(isQuery).select(col("vec_id").as("qid"))
    val cand =
      try {
        val qBuckets = buckets.join(broadcast(queryIds),
          buckets("vec_id") === queryIds("qid"))
          .select(col("qid"), col("band"), col("bucket"))
        qBuckets.as("q").join(buckets.as("c"),
            col("q.band") === col("c.band") &&
              col("q.bucket") === col("c.bucket") &&
              col("c.vec_id") =!= col("q.qid"))
          .select(col("q.qid"), col("c.vec_id").as("nid"))
          .distinct()
          .localCheckpoint(true)
      } finally buckets.unpersist(false)
    val qv = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nv = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val scored = cand.join(qv, Seq("qid")).join(nv, Seq("nid"))
      .withColumn("cos_sim", cos(col("qvec"), col("nvec")))
    topKPerQuery(scored.select(col("qid"), col("nid"), col("cos_sim")), k)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Embedding near-duplicate pairs: all pairs above a cosine threshold.
    * Exact quadratic BASELINE (the ground truth [[nearDupPairsLsh]]'s recall
    * is measured against — OperatorsSpec pins that number) — the production
    * path at scale is the LSH variant, which buckets with random hyperplanes
    * instead of comparing all pairs.
    *
    * GATED: `maxRows` is the caller's explicit opt-in to the O(N²) cost
    * (the same pattern as `maxDocFreq` on the Jaccard join). The input
    * cardinality is counted up front and the operator refuses to build the
    * quadratic join above the cap, so a pipeline can't silently point the
    * exact baseline at a corpus-sized relation.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double, maxRows: Long): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"nearDupPairs is the exact O(N^2) baseline: input has $n rows, " +
        s"caller capped it at $maxRows. Use nearDupPairsLsh for large inputs " +
        "or raise maxRows explicitly to accept the quadratic cost.")
    val cos = nativeCosine(emb.sparkSession) _
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos_sim", cos(col("va"), col("vb")))
      .filter(col("cos_sim") > threshold)
      .select(col("a"), col("b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Lloyd's k-means over the embedding column, cosine flavor, built the
    * way Spark's own MLlib does it: centroids live on the driver (bounded
    * metadata — k × dim doubles), each assignment pass is a NARROW per-row
    * argmax against the broadcast centroid literals (an `aggregate` fold
    * over k struct literals — no N×k shuffle, no window), and each update
    * pass is one map-side-combined groupBy((cluster, dim)) average. Total
    * cost per iteration: one corpus scan + one k×dim-sized shuffle.
    *
    * Deterministic and oracle-replayable end to end: seeds are the k
    * lowest vec_ids (cluster id = seed vec_id), ties in the argmax break
    * toward the lower cluster id, and updated centroid components are
    * rounded to 6dp so summation-order noise can't leak into assignments —
    * a SQL engine replays the exact fixpoint.
    *
    * `iters` counts assignment passes: iters=2 is assign → update → assign.
    * Clusters that lose all members drop out (standard Lloyd's).
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 2): Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    var cents: Seq[(Long, Seq[Double])] = emb
      .orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
    for (_ <- 1 until iters) {
      val (cl, _) = nearestCentroid(cents)
      cents = emb
        .select(cl.as("cluster"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg(round(avg(col("v").cast("double")), 6).as("cv"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq
        .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
        .sortBy(_._1)
    }
    cents
  }

  /** Per-row (cluster, cos_sim) argmax against the centroid literals: an
    * `aggregate` fold over an array of k structs, so the plan stays linear
    * in k (a `when`-chain reduce would duplicate subtrees exponentially).
    * Strictly-greater keeps the first maximum — the lowest cluster id wins
    * exact ties, matching a `row_number ... ORDER BY sim DESC, cluster` in
    * SQL.
    */
  private def nearestCentroid(cents: Seq[(Long, Seq[Double])]): (Column, Column) = {
    // explicit struct type: field names from `.as` aliases are stripped to
    // col1/col2 once the structs pass through the aggregate lambda, so
    // getField("sim") would fail without the cast
    val stype = "struct<sim:double,cluster:bigint>"
    val scored = array(cents.map { case (cid, v) =>
      struct(cosine(col("embedding"), typedlit(v)).as("sim"),
        lit(cid).as("cluster")).cast(stype)
    }: _*)
    val best = aggregate(scored,
      struct(lit(-2.0).as("sim"), lit(-1L).as("cluster")).cast(stype),
      (acc, s) => when(s.getField("sim") > acc.getField("sim"), s).otherwise(acc))
    (best.getField("cluster"), best.getField("sim"))
  }

  /** Fit [[kmeansCentroids]] and return the final assignment:
    * (vec_id, cluster, cos_sim rounded to 4dp). One narrow pass over the
    * corpus once the centroids are fitted.
    */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    val (cl, sim) = nearestCentroid(kmeansCentroids(emb, k, iters))
    emb.select(col("vec_id"), cl.as("cluster"),
      round(sim, 4).as("cos_sim"))
  }

  /** PQ-ADC approximate search with exact re-ranking (Jégou et al. 2011
    * §III asymmetric distance computation + §V re-ranking) — the search
    * operator product quantization exists for. Stage 1 scores the whole
    * corpus through its m PQ codes alone: each query precomputes an m × k
    * distance table (squared L2 from its sub-vector to every codebook
    * centroid) and a vector's approximate distance is the sum of m table
    * lookups — no corpus-side float math. Stage 2 fetches the true
    * vectors of only the `refine × k` ADC survivors per query and
    * re-ranks them by exact squared L2 (coarse quantization alone
    * misranks close neighbors; re-ranking the short list is the standard
    * recall recovery — OperatorsSpec measures it against exact search).
    *
    * Shape at 100 TB: the corpus pass reads codes, not vectors (the
    * compression is the point); distance tables are queries × m × k rows,
    * broadcast; ADC scoring is one equi-join on (block, code) plus one
    * (qid, nid) aggregate; both top-k stages are the two-stage
    * bounded-heap shape, and the exact re-score touches
    * queries × refine × k rows only.
    *
    * Engine determinism: table entries round to 6dp and the m-way ADC
    * sum runs as exact DECIMAL — vectors sharing all m codes tie EXACTLY
    * in every engine and break by nid, so the refine cutoff replays
    * bit-identically; the exact stage is the same fused-fold arithmetic
    * as every other search oracle.
    */
  def pqTopK(emb: DataFrame, isQuery: Column, k: Int = 10, m: Int = 4,
      codes: Int = 16, iters: Int = 2, dim: Int = 0,
      refine: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (sub, books) = Quantize.fitCodebooks(emb, m, codes, iters, dim)
    // corpus codes, long format — per-block narrow projections (the
    // productQuantize codegen-size reasoning)
    val codeRows = books.indices.map { b =>
      val (code, _) = Quantize.nearestCode(books(b), Quantize.blockSlice(b, sub))
      emb.select(col("vec_id").as("nid"), lit(b.toLong).as("block"),
        code.as("code"))
    }.reduce(_ union _)
    // per-query distance tables, built on the driver from the codebooks
    // (queries are few by contract; k × d doubles per query)
    val queries = emb.filter(isQuery)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val dtRows = for {
      (qid, qv) <- queries.toSeq
      b <- books.indices
      (code, cent) <- books(b)
    } yield {
      var d2 = 0.0
      var j = 0
      while (j < sub) {
        val diff = qv(b * sub + j) - cent(j)
        d2 += diff * diff
        j += 1
      }
      // 6dp half-up, matching round()/ROUND() on both engines
      val r6 = java.math.BigDecimal.valueOf(d2)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (qid, b.toLong, code, r6)
    }
    val dt = dtRows.toDF("qid", "qblock", "qcode", "dtv")
    val adc = codeRows
      .join(broadcast(dt),
        col("block") === col("qblock") && col("code") === col("qcode"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      // exact decimal sum: summation-order-proof, so exact code ties stay
      // exact and ranks are deterministic across engines and runs
      .agg(sum(col("dtv").cast("decimal(20,6)")).as("adc"))
    // ADC short list: two-stage top-(refine·k) ascending distance =
    // descending negated distance
    val shortList = topKPerQuery(adc.select(col("qid"), col("nid"),
        negate(col("adc").cast("double")).as("cos_sim")), k * refine)
      .select(col("qid"), col("nid"))
    // exact re-rank of the short list only
    val qvecs = broadcast(emb.filter(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val rescored = shortList
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        Seq("nid"))
      .join(qvecs, Seq("qid"))
      .withColumn("cos_sim",
        negate(call_function("l2_sq", col("qv"), col("nv"))))
    topKPerQuery(rescored.select(col("qid"), col("nid"), col("cos_sim")), k)
      .select(col("qid"), col("nid"), col("rank"),
        round(negate(col("cos_sim")), 4).as("dist2"))
  }

  /** IVF-PQ search (Jégou et al. 2011 §IV IVFADC) — the composition of
    * [[ivfTopK]]'s coarse cell pruning and [[pqTopK]]'s code-only scan,
    * which is THE 100 TB ANN shape: a02 prunes cells but reads full
    * vectors inside them; a05 reads only codes but scans every cell;
    * IVFADC does both — coarse cells bound how much of the corpus is
    * touched, and inside probed cells vectors are represented by PQ codes
    * of their RESIDUALS (x − centroid(cell(x))), whose spread is far
    * smaller than raw vectors' so the same code budget quantizes much
    * finer.
    *
    * The coarse quantizer is LEARNED (deterministic L2 k-means — exactly
    * [[Quantize.fitCodebooks]] with m = 1 over the full vector), not the
    * corpus's label column: cells must follow the metric's geometry for
    * probing to capture true neighbors (measured on the test embeddings:
    * learned cells hold ~90 % of exact top-10 neighbors within 2 probed
    * cells at a ~20 % corpus scan; the label cells hold ~25 %). Centroids
    * are bounded driver state (cells × dim). Queries probe the `nProbe`
    * nearest cells by squared L2 and carry a PER-CELL distance table
    * built from the query's residual against that cell (the §IV point:
    * the table must be recomputed per probed cell because the query
    * residual changes with the cell). The corpus-side scan reads codes
    * only; cell pruning happens inside the same (cell, block, code)
    * equi-join that resolves the tables — no second pass. The ADC short
    * list is exact-re-ranked like a05.
    *
    * Engine determinism mirrors a04/a05: seed centroids = lowest
    * vec_ids, rounded centroid updates, argmin ties to the lower
    * code/cell, 6dp distance tables summed as exact DECIMAL, rank ties
    * by nid — the DuckDB oracle replays the entire double fit + search
    * and hash-matches.
    *
    * Approximate by construction: a query returns fewer than k rows when
    * its probed cells hold fewer than k neighbors.
    */
  def ivfPqTopK(emb: DataFrame, isQuery: Column, k: Int = 10, nProbe: Int = 2,
      cells: Int = 10, m: Int = 4, codes: Int = 16, iters: Int = 2,
      dim: Int = 0, refine: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val d = if (dim > 0) dim else emb.select(size(col("embedding"))).head.getInt(0)
    require(d % m == 0, s"dim $d must split evenly into $m blocks")
    val sub = d / m

    // learned coarse cells: L2 k-means over the full vector = a 1-block
    // codebook fit (seeds = lowest vec_ids, 6dp-rounded update, argmin
    // ties to the lower cell id — the a04/qz02 determinism recipe)
    val (_, coarseBooks) = Quantize.fitCodebooks(emb, 1, cells, iters, d)
    val cents: Seq[(Long, Array[Double])] =
      coarseBooks(0).map { case (c, v) => c -> v.toArray }

    // per-row cell assignment + residual x − centroid(cell(x)): a narrow
    // argmin fold + zip_with against broadcast literals — no join, no
    // shuffle. MATERIALIZED once (localCheckpoint): nine downstream
    // passes read it — the residual fit's seed collect and its
    // (iters−1)×m centroid refreshes, plus the m code projections — and
    // each would otherwise re-run the cells-way argmin over the corpus.
    // At cluster scale the checkpoint is (vec_id, cell, resid) — the
    // same width as the input — and a durable deployment would swap it
    // for a lake write like the c03 boundary hook.
    val (cellCode, _) = Quantize.nearestCode(coarseBooks(0),
      col("embedding").cast("array<double>"))
    val centMap = typedlit(cents.map { case (l, v) => l -> v.toSeq }.toMap)
    val base = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        cellCode.as("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"), element_at(centMap, col("cell")),
          (x, c) => x - c).as("resid"))
      .localCheckpoint(true)

    // PQ codebooks fit on the residuals (the IVFADC training target)
    val (_, books) = Quantize.fitCodebooks(
      base.select(col("vec_id"), col("resid").as("embedding")), m, codes,
      iters, d)

    // corpus codes (nid, cell, block, code) — the only corpus-sized
    // relation the search reads; per-block narrow projections (the
    // productQuantize codegen-size reasoning)
    val codeRows = books.indices.map { b =>
      val (code, _) = Quantize.nearestCode(books(b),
        slice(col("resid"), b * sub + 1, sub))
      base.select(col("vec_id").as("nid"), col("cell"),
        lit(b.toLong).as("block"), code.as("code"))
    }.reduce(_ union _)

    // queries (few by contract) + probes + per-(query, cell) distance
    // tables, all driver-side: queries × nProbe × m × codes rows, broadcast
    val queries = emb.filter(isQuery)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val dtRows = for {
      (qid, qv) <- queries.toSeq
      (cell, cv) <- cents.map { case (l, cv) =>
          var d2 = 0.0
          var i = 0
          while (i < d) { val df = qv(i) - cv(i); d2 += df * df; i += 1 }
          (l, cv, d2)
        }.sortBy(t => (t._3, t._1)).take(nProbe).map(t => (t._1, t._2))
      b <- books.indices
      (code, cent) <- books(b)
    } yield {
      var d2 = 0.0
      var j = 0
      while (j < sub) {
        val diff = (qv(b * sub + j) - cv(b * sub + j)) - cent(j)
        d2 += diff * diff
        j += 1
      }
      val r6 = java.math.BigDecimal.valueOf(d2)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (qid, cell, b.toLong, code, r6)
    }
    val dt = dtRows.toDF("qid", "qcell", "qblock", "qcode", "dtv")

    // ADC: one equi-join on (cell, block, code) — rows of non-probed
    // cells match no table row and drop out here (the coarse pruning),
    // then one m-way decimal sum per (query, candidate)
    val adc = codeRows
      .join(broadcast(dt),
        col("cell") === col("qcell") && col("block") === col("qblock") &&
          col("code") === col("qcode"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("dtv").cast("decimal(20,6)")).as("adc"))
    val shortList = topKPerQuery(adc.select(col("qid"), col("nid"),
        negate(col("adc").cast("double")).as("cos_sim")), k * refine)
      .select(col("qid"), col("nid"))

    // exact re-rank of the short list only (queries × refine × k rows)
    val qvecs = broadcast(emb.filter(isQuery)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val rescored = shortList
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        Seq("nid"))
      .join(qvecs, Seq("qid"))
      .withColumn("cos_sim",
        negate(call_function("l2_sq", col("qv"), col("nv"))))
    topKPerQuery(rescored.select(col("qid"), col("nid"), col("cos_sim")), k)
      .select(col("qid"), col("nid"), col("rank"),
        round(negate(col("cos_sim")), 4).as("dist2"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    * then within-cluster pairwise pruning. K-means bounds the candidate
    * space — pairs are only compared inside a cluster, so the quadratic
    * term is Σ|c|² instead of N², and `k` is the knob that keeps clusters
    * at a size where that is linear-ish (real deployments: k ~ N/few-
    * thousand; see SCALE.md). A vector is dropped when some LOWER-id
    * vector in its cluster sits above the cosine threshold — the greedy
    * keep-earliest rule, exactly replayable as a SQL anti-join.
    *
    * The pair stage is an equi-join on the cluster id. With small k the
    * key cardinality is low — at 100 TB use a k that gives ≥10⁴ clusters
    * so the join parallelizes; the cap-per-cluster cost argument is the
    * same as the LSH bucket join's.
    *
    * GATED: `maxClusterSize` is the caller's explicit bound on the largest
    * cluster the pair join may touch (the same opt-in pattern as d05's
    * `maxRows` and the Jaccard join's `maxDocFreq`). K-means on a skewed
    * corpus can put most vectors in one cluster, silently reverting the
    * Σ|c|² pair stage to the O(N²) join every other operator in this
    * family gates against — so the operator counts cluster sizes (one
    * cheap k-row aggregate) and refuses to build the join when any
    * cluster exceeds the cap. The fix at scale is a larger k (more, and
    * therefore smaller, clusters), not a larger cap.
    *
    * Returns the surviving assignment rows (vec_id, cluster, cos_sim-to-
    * centroid).
    */
  def semanticDedup(emb: DataFrame, k: Int, tau: Double, maxClusterSize: Long,
      iters: Int = 2): DataFrame = {
    val asg = kmeansAssign(emb, k, iters)
    val biggest = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head
    val biggestN = if (biggest.isNullAt(0)) 0L else biggest.getLong(0)
    require(biggestN <= maxClusterSize,
      s"semanticDedup pair stage is quadratic per cluster: largest cluster " +
        s"has $biggestN vectors, caller capped clusters at $maxClusterSize. " +
        "Raise k so clusters shrink, or raise maxClusterSize explicitly to " +
        "accept the within-cluster O(|c|^2) cost.")
    val withVec = asg.select(col("vec_id"), col("cluster"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = withVec.select(col("vec_id").as("a"), col("cluster"),
      col("embedding").as("va"))
    val b = withVec.select(col("vec_id").as("b"), col("cluster"),
      col("embedding").as("vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("a") < col("b"))
      .filter(cosine(col("va"), col("vb")) > tau)
      .select(col("b").as("vec_id")).distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Deterministic Rademacher (±1) hyperplanes for sign-random-projection
    * LSH: component (p, i) is +1 when the first hex char of md5("p:i") has
    * odd ASCII code, else -1 (i is 1-based to match SQL `generate_subscripts`).
    * md5-derived so a SQL oracle can replay the exact planes — the same
    * engine-portability trick as the md5 minhash in [[Dedup]].
    */
  def simhashPlanes(dim: Int, planes: Int = 32): Array[Array[Double]] =
    Array.tabulate(planes)(p => Array.tabulate(dim) { idx =>
      if (md5Hex(s"$p:${idx + 1}").charAt(0).toInt % 2 == 1) 1.0 else -1.0
    })

  /** Sign-bit signature of an embedding against the given hyperplanes, as a
    * '0'/'1' string. Pure per-row expressions (ordered fold per plane) — no
    * shuffle, no explode of the dense dimension.
    *
    * Composable-function form, kept as the portable reference (and pinned
    * bit-identical to the native expression by PropertySpec); the LSH path
    * uses [[nativeSignature]], which fuses all planes into one codegen'd
    * pass ([[graft.functions.HyperplaneBits]]).
    */
  def hyperplaneSignature(vec: Column, planes: Array[Array[Double]]): Column =
    concat(planes.map { pl =>
      val dot = aggregate(
        zip_with(vec, typedlit(pl.toSeq), (v, s) => v.cast("double") * s),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, "1").otherwise("0")
    }: _*)

  /** Codegen'd single-pass signature (all planes fused, zero per-row
    * allocation beyond the output) — the hot-loop form for the corpus
    * pass at scale.
    */
  private def nativeSignature(spark: SparkSession)(
      vec: Column, planes: Array[Array[Double]]): Column = {
    graft.functions.NativeFunctions.register(spark)
    call_function("hyperplane_bits", vec,
      typedlit(planes.flatten.toSeq), lit(planes.length))
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH. Each vector
    * gets a `planes`-bit sign signature (narrow, per-row); the signature is
    * cut into `bands` equal bit-slices; vectors sharing any band's slice
    * become candidate pairs via a bucket-equality join; candidates are
    * exact-scored with the codegen'd cosine and thresholded.
    *
    * Candidates are bounded by bucket co-occupancy, every join is an
    * equi-join (never a BroadcastNestedLoopJoin — pinned by ScaleSpec), and
    * the only state per vector is `planes` bits. Recall tunes with
    * bands-vs-band-width exactly as MinHash LSH does.
    *
    * Default 64 planes / 16 4-bit bands: the band curve
    * `1-(1-p^4)^16` (p = 1-angle/pi) holds recall ~1.0 for true
    * near-duplicates (cos >= 0.8) and stays >= 0.9 down to cos ~ 0.45 —
    * OperatorsSpec measures 0.9+ against the exact baseline on the test
    * embeddings, whose planted pairs sit at cos 0.4-0.55. The tradeoff is
    * candidate volume: against a near-orthogonal background (cos ~ 0) the
    * expected candidate rate is ~6% per random pair per band set; on real
    * near-dup corpora (background well below the pair cosines) the
    * reduction is orders of magnitude. Fewer, wider bands (e.g. 4x8-bit)
    * cut candidates much harder but their recall collapses below ~0.75
    * even for cos-0.95 pairs — wrong default for a dedup operator.
    */
  /** `dim`: embedding dimensionality. Pass it when known (it's schema-level
    * metadata for a real corpus); the default -1 probes the first row,
    * costing one extra Spark job per invocation.
    */
  /** `maxBucketSize`: drop (band, bucket) cells holding more than this many
    * vectors from candidate generation — the skew guard for the bucket
    * self-join. A degenerate corpus (thousands of near-identical vectors —
    * exactly what a dedup input looks like) lands them all in the same
    * bucket in EVERY band, and the self-join then builds O(N²) candidate
    * rows even when the threshold would discard the pairs: quadratic
    * intermediate, not just quadratic output. Dropping a hot cell only
    * loses pairs among vectors with > maxBucketSize near-identical twins
    * in that band (they usually still pair through another band, and dedup
    * semantics tolerate missing some twin pairs — the same trade as
    * [[graft.operators.Dedup.ngramJaccardPairs]]'s `maxDocFreq`). Default
    * unbounded = oracle-exact; the capped path is oracle-checked by
    * d06b.
    */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double,
      planes: Int = 64, bands: Int = 16, dim: Int = -1,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(planes % bands == 0, "planes must divide evenly into bands")
    val cos = nativeCosine(emb.sparkSession) _
    val resolvedDim =
      if (dim > 0) dim
      else emb.select(size(col("embedding"))).head(1) match {
        case Array(r) => r.getInt(0)
        case _ => // empty input: no pairs, skip the plane/bucket machinery
          return emb.sparkSession.emptyDataFrame
            .select(lit(0L).as("a"), lit(0L).as("b"),
              lit(0.0).as("cos_sim")).limit(0)
      }
    // The cached (vec_id, band, bucket) relation feeds both sides of the
    // self-join; the candidate set is then pinned with an eager
    // localCheckpoint so the cache can be released immediately. A bare
    // cache() left registered would accumulate across invocations
    // (CacheManager entries are never GC-reclaimed), while a checkpointed
    // RDD is dropped by the ContextCleaner once the result is unreachable.
    val (buckets, lazyCand) = lshCandidates(emb, planes, bands, resolvedDim,
      maxBucketSize)
    val cand =
      try lazyCand.localCheckpoint(true)
      finally buckets.unpersist(false)
    val va = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
    val vb = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos_sim", cos(col("va"), col("vb")))
      .filter(col("cos_sim") > threshold)
      .select(col("a"), col("b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** k-NN GRAPH over the whole corpus: top-k cosine neighbors for EVERY
    * vector (not a small query set) — the construction primitive for
    * graph-based dedup, kNN retrieval indexes, and cluster refinement.
    * Candidates come from the same banded-LSH self-join as the near-dup
    * path (never all-pairs; `maxBucketSize` is the hot-bucket guard for
    * degenerate corpora), each undirected candidate pair is scored ONCE,
    * then both directions feed the bounded-heap two-stage top-k. At 100 TB
    * the shape is: bucket shuffle ~ corpus, candidate volume ~ band-curve
    * selectivity, per-vector state k rows — no stage is quadratic with
    * the cap on. Approximate by construction: a vector sharing no bucket
    * with k neighbors returns fewer rows (same contract as [[lshTopK]]).
    */
  def knnGraph(emb: DataFrame, k: Int = 5, planes: Int = 64, bands: Int = 16,
      dim: Int = -1, maxBucketSize: Long = Long.MaxValue): DataFrame = {
    require(planes % bands == 0, "planes must divide evenly into bands")
    val cos = nativeCosine(emb.sparkSession) _
    val resolvedDim =
      if (dim > 0) dim
      else emb.select(size(col("embedding"))).head(1) match {
        case Array(r) => r.getInt(0)
        case _ =>
          return emb.sparkSession.emptyDataFrame
            .select(lit(0L).as("qid"), lit(0L).as("nid"),
              lit(0L).as("rank"), lit(0.0).as("cos_sim")).limit(0)
      }
    val (buckets, lazyCand) = lshCandidates(emb, planes, bands, resolvedDim,
      maxBucketSize)
    val cand =
      try lazyCand.localCheckpoint(true)
      finally buckets.unpersist(false)
    val va = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
    val vb = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
    // score each undirected pair once, then mirror — half the cosine work
    // of treating every vector as an independent query
    val scored = cand.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos_sim", cos(col("va"), col("vb")))
      .select(col("a"), col("b"), col("cos_sim"))
      .localCheckpoint(true) // two directed consumers of one scoring pass
    val directed = scored
      .select(col("a").as("qid"), col("b").as("nid"), col("cos_sim"))
      .union(scored
        .select(col("b").as("qid"), col("a").as("nid"), col("cos_sim")))
    topKPerQuery(directed, k)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Shared LSH bucket stage: (vec_id, band, bucket), cached. Both the
    * top-k path ([[lshTopK]]: query buckets vs corpus buckets) and the
    * near-dup pair path ([[lshCandidates]]: bucket self-join) consume this
    * one relation, so band-curve changes can't diverge between them. The
    * CALLER owns unpersisting it once its candidates materialize.
    */
  private def lshBuckets(emb: DataFrame, planes: Int, bands: Int,
      dim: Int): DataFrame = {
    val pls = simhashPlanes(dim, planes)
    val bandBits = planes / bands
    // the signature map is planes × dim multiplies per row — compute-
    // bound; spread a one-split local scan across cores (no-op on a
    // source that already plans enough partitions — see [[Spread]])
    val sig = Spread.forCpu(emb).select(col("vec_id"),
      nativeSignature(emb.sparkSession)(col("embedding"), pls).as("bits"))
    val bucketCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        substring(col("bits"), b * bandBits + 1, bandBits).as("bucket")))
    sig.select(col("vec_id"),
        explode(array(bucketCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .cache()
  }

  /** LSH candidate stage, exposed lazily so ScaleSpec can pin its plan
    * shape (bucket-equality join, never BNLJ/cartesian) — the public
    * operator checkpoints it, which hides the stage from the final plan.
    * Returns (cached buckets relation, candidate pairs built on it); the
    * caller owns unpersisting the buckets once candidates materialize.
    */
  private[graft] def lshCandidates(emb: DataFrame, planes: Int, bands: Int,
      dim: Int, maxBucketSize: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    val buckets = lshBuckets(emb, planes, bands, dim)
    // hot-bucket guard (see nearDupPairsLsh's maxBucketSize doc): cells
    // over the cap are excluded from BOTH join sides before the pair
    // expansion, the same anti-join shape as ngramJaccardPairs' maxDocFreq
    val joinable =
      if (maxBucketSize == Long.MaxValue) buckets
      else {
        val hot = buckets.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucketSize)
          .select(col("band"), col("bucket"))
        buckets.join(hot, Seq("band", "bucket"), "left_anti")
      }
    val cand = joinable.as("x").join(joinable.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    (buckets, cand)
  }

  /** HYBRID retrieval: lexical BM25 and vector-cosine rankings fused by
    * RECIPROCAL RANK FUSION — `rrf(d) = Σ_list 1/(rrfK + rank_list(d))`,
    * the standard score-free way to combine retrievers whose raw scores
    * aren't comparable (the default hybrid mode of every current search
    * stack). A document missing from one list simply contributes nothing
    * from it.
    *
    * Scale shape: the BM25 side moves only postings for the query terms
    * ([[TextOps.bm25]]); the vector side broadcasts ONE query embedding
    * ([[bruteForceTopK]] filtered to it); both lists are bounded top-k
    * cuts before the fusion join, so the full-outer fuse and the final
    * rank run over ≤ kLex + kVec rows however large the corpus. All
    * arithmetic is integer ranks and two fixed-order double divisions —
    * engine-exact, no rounding needed.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
      queryVecId: Long, kLex: Int = 50, kVec: Int = 50, kOut: Int = 20,
      rrfK: Int = 60): DataFrame = {
    val lexW = Window.orderBy(col("bm25").desc, col("doc_id"))
    val lexRank = TextOps.bm25(docs, queryTerms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(kLex)
      .withColumn("r_lex", row_number().over(lexW).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    val vecRank = bruteForceTopK(emb, col("vec_id") === queryVecId, kVec)
      .select(col("nid").as("doc_id"), col("rank").cast("long").as("r_vec"))
    val rrf =
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("r_vec")), lit(0.0))
    val fused = lexRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"), rrf.as("rrf"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(kOut)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))
          .cast("long"))
  }
}
