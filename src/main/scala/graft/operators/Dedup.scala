package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each chosen for its
  * 100 TB scale path:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle keyed by a
  *    16-byte digest, the cheapest possible full dedup.
  *  - n-gram Jaccard: inverted-index join on shared shingles (never a cross
  *    join); candidate pairs are bounded by shingle co-occurrence.
  *  - MinHash + LSH: constant-size signatures per doc, banded bucketing, and
  *    a bucket-equality join — the standard sub-quadratic near-dup pipeline.
  *  - SimHash: one 16-bit signature per doc; near-dups share (or almost
  *    share) signatures, so candidate generation is a signature groupBy.
  *
  * Hash functions are engine-portable (md5 hex, string MIN) so every stage
  * can be oracle-checked against DuckDB.
  */
object Dedup {

  /** Exact dedup: canonical id + group size per identical text. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    docs.select(
      col("doc_id"),
      min(col("doc_id")).over(w).as("canonical_id"),
      count(lit(1)).over(w).as("group_size"))
  }

  /** Distinct word n-gram shingles per doc: (doc_id, shingle).
    *
    * NARROW: distinctness is per-(doc_id, shingle), so the dedup happens
    * inside each row's shingle array before the explode — no corpus-wide
    * distinct shuffle. At 100 TB that removes the single biggest exchange
    * of the Jaccard/MinHash family (the exploded shingle stream is ~10²
    * rows per doc).
    *
    * Uses the native single-pass `shingles` expression
    * ([[graft.functions.Shingles]]): the composable
    * transform+slice+array_join pipeline runs on the interpreted
    * higher-order-function path and re-splits the document once per
    * shingle — measured 10x slower on sf0.1 (see
    * [[shinglesComposable]], kept as the spec-pinned reference).
    * The input is first repartitioned by doc_id: the docs relation is
    * narrow (id + text), so the shuffle is cheap, and it spreads the
    * explode work across the cluster even when the source arrives in few
    * partitions (small files locally, coalesced scans at scale).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.NativeFunctions.register(docs.sparkSession)
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("shingles", col("text"), lit(n))).as("shingle"))
  }

  /** Composable-function form of [[shingles]] — the portable reference
    * implementation PropertySpec pins the native expression against
    * (identical output, including first-occurrence dedup order and
    * split-on-`\s+`-after-trim tokenization).
    */
  private[graft] def shinglesComposable(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val shingleArr = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(shingleArr)).as("shingle"))
  }

  /** Candidate near-dup pairs by n-gram Jaccard similarity, via an
    * inverted-index self-join on shingles (shared-shingle pairs only).
    *
    * The join key is a 64-bit hash of the shingle, not the shingle string:
    * at 100 TB the shingle column dominates shuffle bytes, and an 8-byte
    * key shrinks both the exchange and the hash table. (Collision odds at
    * 2^-64 per pair are far below the noise floor of a similarity join.)
    */
  /** `maxDocFreq`: drop shingles shared by more than this many docs from
    * CANDIDATE GENERATION (sizes still count them, so Jaccard stays a
    * lower-bound estimate). This is the standard skew guard at corpus
    * scale — one boilerplate shingle in 10^6 docs otherwise yields 10^12
    * join rows on a single key. Default unbounded = oracle-exact.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    // The shingle relation is NARROW end to end: the native shingle_hashes
    // expression tokenizes each document once and emits distinct 8-byte
    // shingle keys in-row (no corpus-wide distinct shuffle, and the
    // shingle strings never leave the row they were built in). It feeds
    // three consumers: the sizes aggregate and BOTH self-join sides.
    // Eager localCheckpoint materializes that narrow compute exactly
    // once: a lazy cache() lets the consumers race to materialize
    // partitions and leaves CacheManager entries alive until an explicit
    // unpersist (across a benchmark list that accumulates into GC debt —
    // the round-5 d02/d02b variance), while checkpointed blocks are
    // reclaimed by the ContextCleaner as soon as the result is
    // unreachable, and AQE sees materialized stats.
    // Fault-tolerance caveat at cluster scale (same trade d09 resolved
    // the other way): localCheckpoint pins a corpus-sized relation in
    // executor storage non-fault-tolerantly, so an executor loss fails
    // the job. Here the materialization is load-bearing for correctness
    // of cost (three consumers, measured 3x slower recomputed).
    // Deliberately NOT pre-partitioned on the join key: an A/B showed a
    // repartition(sk) before the materialization 3x slower end-to-end — it
    // forces an extra exchange and pins the layout, while AQE already
    // picks the cheaper join strategy (broadcast here; co-partitioned
    // shuffle at corpus scale) from runtime sizes.
    graft.functions.NativeFunctions.register(docs.sparkSession)
    val sh = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", col("text"), lit(n))).as("sk"))
      .localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val joinable =
      if (maxDocFreq == Long.MaxValue) sh
      else {
        val hot = sh.groupBy(col("sk")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select(col("sk"))
        sh.join(hot, Seq("sk"), "left_anti")
      }
    val pairs = joinable.as("x").join(joinable.as("y"),
        col("x.sk") === col("y.sk") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("a"), col("n_shingles").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_shingles").as("nb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
  }

  /** Directed n-gram CONTAINMENT pairs: for each candidate pair a<b,
    * `cont_a_in_b = |A∩B| / |A|` and `cont_b_in_a = |A∩B| / |B|` over the
    * distinct shingle sets. This is the asymmetric complement of
    * [[ngramJaccardPairs]]: a short document quoted whole inside a long
    * one has containment ≈ 1 while its Jaccard is tiny (the union is
    * dominated by the long doc), so a Jaccard threshold misses exactly
    * the quotation/boilerplate-wrapper duplicates containment exists to
    * catch (Broder 1997 distinguishes resemblance from containment for
    * this reason). `max_cont` carries the larger direction for one-dial
    * thresholding.
    *
    * Same shape and cost as the Jaccard form — the shingle relation is
    * built in-row, materialized once, and feeds the sizes aggregate and
    * both self-join sides; `maxDocFreq` is the same hot-shingle guard
    * (sizes still count dropped shingles, so containment stays a lower
    * bound under the cap).
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    graft.functions.NativeFunctions.register(docs.sparkSession)
    val sh = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", col("text"), lit(n))).as("sk"))
      .localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val joinable =
      if (maxDocFreq == Long.MaxValue) sh
      else {
        val hot = sh.groupBy(col("sk")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select(col("sk"))
        sh.join(hot, Seq("sk"), "left_anti")
      }
    val pairs = joinable.as("x").join(joinable.as("y"),
        col("x.sk") === col("y.sk") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("a"), col("n_shingles").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_shingles").as("nb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("na").cast("double"))
          .as("cont_a_in_b"),
        (col("inter").cast("double") / col("nb").cast("double"))
          .as("cont_b_in_a"),
        greatest(
          col("inter").cast("double") / col("na").cast("double"),
          col("inter").cast("double") / col("nb").cast("double"))
          .as("max_cont"))
  }

  /** MinHash signature matrix: one row per doc, one column `mh<i>` per hash
    * function h_i(shingle) = md5(i || ':' || shingle), component = string
    * MIN — computed entirely IN-ROW by the native `minhash_signature`
    * expression ([[graft.functions.MinhashSignature]]): a pure narrow map,
    * no shingle explode, no exchange, no aggregate. PropertySpec pins it
    * bit-identical to [[minhashSignatureMatrixAgg]], the composable
    * explode + 16-way-min form. Docs with fewer than n tokens drop out
    * (same as the aggregate form, where they have no shingle rows).
    *
    * This removed the single biggest cost of the minhash family at bench
    * scale (r7: the 16 string-min aggregates over the exploded shingle
    * stream were ~50 core-seconds at sf0.1 — more than everything
    * downstream combined) and the corpus-sized exchange at 100 TB.
    */
  def minhashSignatureMatrix(docs: DataFrame, numHashes: Int = 16): DataFrame = {
    graft.functions.NativeFunctions.register(docs.sparkSession)
    // repartition first for the same reason shingles() does: the md5 work
    // is ~16 × |shingles| digests per doc, and a source that arrives in
    // few splits (one parquet file locally; coalesced scans at scale)
    // would serialize it into few tasks. The shuffled relation is narrow
    // (id + text).
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("minhash_signature", col("text"), lit(3), lit(numHashes)).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id") +:
        (0 until numHashes).map(i => col("mh")(i).as(s"mh$i")): _*)
  }

  /** Composable explode + aggregate form of [[minhashSignatureMatrix]] —
    * the portable reference implementation PropertySpec pins the native
    * expression against (one groupBy over the shingle set, map-side
    * partial mins, one shuffle of |docs| narrow rows).
    */
  private[graft] def minhashSignatureMatrixAgg(docs: DataFrame,
      numHashes: Int = 16): DataFrame = {
    val sh = shingles(docs)
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: band signatures (h mod bands), bucket by the
    * md5 of the band's concatenated minhashes (ordered by h), join docs
    * sharing a bucket, then estimate Jaccard as the fraction of matching
    * signature components.
    *
    * All banding/bucketing/comparison happens on the wide signature matrix:
    * bucket hashes are per-row expressions (no extra shuffle), and the
    * estimate is a 16-way column comparison after two joins against the
    * broadcast-sized signature table.
    */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    // eager localCheckpoint: the md5 pass runs exactly once before any of
    // the three consumers (band explode, both scoring joins) plans, and
    // its blocks are ContextCleaner-reclaimed once the result is
    // unreachable (a bare cache() entry lives until an explicit
    // unpersist). A lazy cache measured wall-faster at bench scale only
    // because the consumers race to recompute partitions on idle cores,
    // at 2.5x the CPU.
    val sig = minhashSignatureMatrix(docs, numHashes).localCheckpoint(true)
    // band b holds hash ids {b, b+bands, b+2*bands, ...} in ascending order
    def bandBucket(b: Int): Column =
      md5(concat_ws(",", (b until numHashes by bands).map(i => col(s"mh$i")): _*))
    val bucketCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), bandBucket(b).as("bucket")))
    val buckets = sig.select(col("doc_id"),
      explode(array(bucketCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val matches = (0 until numHashes)
      .map(i => when(col(s"xa.mh$i") === col(s"xb.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    // join strategy left to AQE: the signature table is one narrow row per
    // doc — broadcast at bench scale, shuffle-on-doc_id at 100 TB.
    cand
      .join(sig.as("xa"), col("a") === col("xa.doc_id"))
      .join(sig.as("xb"), col("b") === col("xb.doc_id"))
      .select(col("a"), col("b"),
        (matches.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Connected components over an undirected edge list (a, b) by
    * iterative min-label propagation: every node starts labeled with its
    * own id, and each round takes the min of its label and its neighbors'
    * labels, until a fixpoint (or `maxIter`). Returns (id, label) where
    * label is the component's minimum node id.
    *
    * Scale path: each round is one equi-join + one groupBy — both shuffles
    * keyed on node id, no driver-side graph state. Rounds needed = graph
    * diameter, and near-dup graphs are short-diameter by construction
    * (clusters are quasi-cliques of mutually-similar docs), so this
    * converges in a handful of rounds where a general web-scale graph
    * would want large-star/small-star contraction. Every iteration is
    * `localCheckpoint`ed: iterative self-referential lineage otherwise
    * grows exponentially and re-executes the whole history each round.
    */
  /** `maxDriverEdges`: below this edge count the component computation
    * runs as a single driver-side union-find over one bounded collect —
    * near-dup graphs have edge counts proportional to the DUPLICATES, not
    * the corpus, so after LSH thresholding the edge list is usually orders
    * of magnitude smaller than the input, and the distributed loop's
    * per-iteration cost (join + agg + checkpoint + convergence job,
    * each a fresh codegen'd plan) dwarfs the actual work. Above the bound
    * the iterative min-label propagation runs unchanged — the 100 TB path
    * when the corpus really does hold billions of near-dup pairs. Pass 0
    * to force the distributed loop (PropertySpec pins both paths to the
    * same union-find results).
    *
    * DRIVER-MEMORY REQUIREMENT: the collect holds 2×edges boxed Rows plus
    * a parent map of up to 2×edges Long entries at once — roughly 150-200
    * bytes per edge, so the 1M default costs a few hundred MB and fits a
    * default 1-4 GB driver. Raise it only with driver heap to match
    * (~200 MB per additional million edges).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      maxDriverEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    if (sym.count() <= 2L * maxDriverEdges) {
      // bounded by construction: the count above gates the collect
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression (recursion would stack-overflow
      // on a long chain at the millions-of-edges bound)
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        parent(root) = root
        root
      }
      sym.collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(k => Row(k, find(k)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
        .select(col("src").as("id"), col("nbr_label"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("next_label"),
          col("label").as("prev_label"))
        .localCheckpoint(true)
      converged = next.filter(col("next_label") < col("prev_label")).isEmpty
      labels = next.select(col("id"), col("next_label").as("label"))
      iter += 1
    }
    labels
  }

  /** Dedup clusters: every document assigned to a near-dup cluster keyed
    * by the cluster's minimum doc_id, with its size. The pair graph comes
    * from MinHash-LSH at `minEstJaccard` (sub-quadratic candidate
    * generation, see [[minhashLshPairs]]); docs with no near-dup neighbor
    * are singleton clusters. This is the step a curation pipeline actually
    * consumes — keep one representative per cluster — whereas the pair
    * list alone under-deletes transitively (A~B, B~C leaves A,C both kept
    * if only direct pairs are dropped).
    */
  def clusters(docs: DataFrame, minEstJaccard: Double = 0.5,
      numHashes: Int = 16, bands: Int = 4, maxIter: Int = 20): DataFrame =
    clusterAssignments(docs, minEstJaccard, numHashes, bands, maxIter)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))

  /** (doc_id, cluster_id) without the size column — callers that only need
    * the representative test (curation keeps `doc_id = cluster_id`) skip
    * the corpus-wide shuffle the size window costs.
    */
  def clusterAssignments(docs: DataFrame, minEstJaccard: Double = 0.5,
      numHashes: Int = 16, bands: Int = 4, maxIter: Int = 20): DataFrame = {
    val edges = minhashLshPairs(docs, numHashes, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("a"), col("b"))
    val comp = connectedComponents(edges, maxIter)
    docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Duplicated n-gram span statistics (the n-gram-granular form of Lee et
    * al. 2022's ExactSubstr dedup, "Deduplicating Training Data Makes
    * Language Models Better"): for every document, the fraction of n-gram
    * positions whose n-gram occurs more than `minCount - 1` times in the
    * whole corpus (within-document repeats count). High `dup_frac` marks
    * boilerplate-heavy documents whose text is mostly copies of spans seen
    * elsewhere — the per-span signal that document-level Jaccard/MinHash
    * (one score per pair) can't give.
    *
    * Shape at 100 TB: the positional key arrays are built in-row by the
    * native `shingle_hashes_all` expression (8-byte keys, gram strings
    * never leave the row), the corpus count table is one groupBy with
    * map-side combine, and the join back matches each position against
    * exactly ONE count row — linear, never pair-expanding, unlike the
    * candidate self-join in [[ngramJaccardPairs]]. A single boilerplate
    * gram in 10^6 docs costs 10^6 join probes of one build row, not 10^12
    * output rows. Suffix arrays (the paper's exact method) don't
    * distribute; this n-gram approximation is the standard corpus-scale
    * substitute.
    *
    * The exploded per-position relation (`pos`) is deliberately NOT
    * materialized: its lineage is one narrow scan + in-row hashing, cheap
    * to recompute for the three consumers, whereas pinning a
    * corpus-sized relation in executor storage (localCheckpoint) is
    * non-fault-tolerant — at scale a single executor loss would fail the
    * job unrecoverably — and a replicated disk persist pays corpus-sized
    * I/O to save a cheaper recompute.
    *
    * Approximation note: span identity is the 64-bit xxhash of the gram,
    * not the gram string (same trade as [[ngramJaccardPairs]]' join key).
    * Two distinct grams that collide merge their corpus counts, so at
    * ~10^12 distinct grams (100 TB) birthday collisions inflate
    * `dup_frac` very slightly. Tolerable for a boilerplate-detection
    * signal; if exact parity matters, add a second independent hash to
    * the key.
    */
  def duplicatedNgramSpans(docs: DataFrame, n: Int = 3,
      minCount: Long = 2): DataFrame = {
    require(minCount >= 2, "minCount < 2 would flag every position")
    graft.functions.NativeFunctions.register(docs.sparkSession)
    val pos = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("shingle_hashes_all", col("text"), lit(n))).as("sk"))
    val counts = pos.groupBy(col("sk")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val dup = pos.join(counts, Seq("sk"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    // n_ngrams derived from pos (no second pass over the text); docs with
    // zero n-grams are absent from pos, restored by the left join on the
    // column-pruned id scan
    val totals = pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_present"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_present"), lit(0L)).cast("long").as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"),
        when(coalesce(col("n_present"), lit(0L)) > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_present").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Duplicated-span EXTENTS — the cut-list form of [[duplicatedNgramSpans]]
    * (what Lee et al. 2022 actually excise): adjacent/overlapping duplicated
    * n-gram positions merged into maximal (doc_id, start_pos, end_pos)
    * token ranges. Two duplicated positions p < q belong to the same extent
    * when q - p <= n (their covered token ranges [p, p+n-1] and
    * [q, q+n-1] overlap or touch), the standard gaps-and-islands rule; a
    * pipeline deletes `end_pos - start_pos + 1` tokens per row instead of
    * re-deriving spans from a per-doc fraction.
    *
    * Shape at 100 TB, on top of d09's linear skeleton (in-row positional
    * keys → one count groupBy → one join probing one build row per
    * position): ONE window over the duplicated positions per doc computes
    * both the island flag (lag) and the island id (running sum) in a
    * single partition-by-doc sort, then the per-extent aggregate groups
    * what that window already co-located. Duplicated positions are a small
    * fraction of the corpus, so the window input is output-sized, not
    * corpus-sized. Same 64-bit gram-key collision caveat as
    * [[duplicatedNgramSpans]].
    */
  def duplicatedSpanExtents(docs: DataFrame, n: Int = 3,
      minCount: Long = 2): DataFrame = {
    require(minCount >= 2, "minCount < 2 would flag every position")
    graft.functions.NativeFunctions.register(docs.sparkSession)
    val pos = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(call_function("shingle_hashes_all", col("text"), lit(n)))
          .as(Seq("pos", "sk")))
    val counts = pos.groupBy(col("sk")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select(col("sk"))
    val dup = pos.join(counts, Seq("sk"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      // first position of a doc: lag is null -> comparison null -> new span
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0L).otherwise(1L))
      .withColumn("span_id",
        sum(col("new_span"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - 1L)
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + (n - 1)).cast("long").as("end_pos"),
        count(lit(1)).as("n_positions"))
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("start_pos"), col("end_pos"), col("n_positions"))
  }

  /** Apply a duplicated-span cut-list ([[duplicatedSpanExtents]]) to the
    * corpus — the EXCISION step of Lee et al. 2022 (they cut the
    * duplicated spans out of documents rather than dropping documents):
    * every token whose position falls inside one of the document's
    * extents is removed, and the result reports the cleaned text's md5
    * (space-joined surviving tokens — a replaying engine must cut
    * byte-identically) plus before/removed counts.
    *
    * Shape at 100 TB: extents are output-sized (duplicated REGIONS, not
    * positions — one row per maximal span), aggregated per doc and joined
    * back on doc_id; the cut itself is a per-row indexed `filter` with an
    * `exists` over the doc's extent array — narrow, no explode of the
    * token axis. Token positions use the same `\s+` tokenization as the
    * span detector, so cut-lists and text stay aligned.
    */
  def exciseSpans(docs: DataFrame, extents: DataFrame): DataFrame = {
    val exts = extents.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("__exts"))
    val emptyExts =
      array().cast("array<struct<start_pos:bigint,end_pos:bigint>>")
    docs.join(exts, Seq("doc_id"), "left")
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__exts", coalesce(col("__exts"), emptyExts))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        not(exists(col("__exts"), e =>
          i.cast("long") >= e.getField("start_pos") &&
            i.cast("long") <= e.getField("end_pos")))))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        md5(array_join(col("__kept"), " ")).as("cleaned_md5"))
  }

  /** SimHash: per-bit +1/-1 votes from each distinct token's md5, sign of
    * the per-bit sum forms the signature (here as a bit string, portable
    * across engines).
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    val tok = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
      .withColumn("hw", md5(col("w")))
    // all per-bit votes in ONE groupBy (map-side partial sums, one shuffle
    // of |docs| rows) instead of a bits× crossJoin explosion
    val votes = (0 until bits).map(i =>
      sum(when(ascii(substring(col("hw"), i + 1, 1)) % 2 === 1, 1L)
        .otherwise(-1L)).as(s"sv$i"))
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until bits).map(i =>
          when(col(s"sv$i") >= 0, "1").otherwise("0")): _*).as("simhash"))
  }

  // ------------------------------------------------------------------
  // Incremental dedup: the production shape at 100 TB. A corpus is never
  // deduplicated once — every ingestion day brings a new batch that must
  // be cleaned against everything already accepted, WITHOUT re-comparing
  // the accepted corpus against itself (that work is already done and at
  // 100 TB is the dominant cost).

  /** Exact incremental dedup: keep each incoming doc whose content digest
    * (a) is the smallest-doc_id holder of that digest within the batch and
    * (b) does not already exist in the accepted corpus.
    *
    * Scale: the accepted side collapses to a DISTINCT 32-hex-char digest
    * relation before the join — 16 bytes of state per accepted doc, never
    * its text — and the batch sees one digest-keyed shuffle (dedup within
    * batch) plus one digest-keyed anti-join (batch vs corpus). Neither
    * side's text crosses the wire.
    */
  def incrementalExact(accepted: DataFrame, incoming: DataFrame): DataFrame = {
    val oldH = accepted.select(md5(col("text")).as("__h")).distinct()
    val firstInBatch = incoming
      .select(col("doc_id"), md5(col("text")).as("__h"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
    val keptIds = firstInBatch.join(oldH, Seq("__h"), "left_anti")
      .select(col("doc_id"))
    incoming.join(keptIds, Seq("doc_id"), "left_semi")
  }

  /** The persisted accepted-side STATE for incremental near-dup
    * ingestion: the MinHash signature relation (doc_id, mh0..mh{n-1}) —
    * n md5 minima per accepted doc, a few hundred bytes of state
    * regardless of document length. Written once when a doc is ACCEPTED
    * and re-read by every later [[incrementalLshAgainstStore]] batch, so
    * accepted TEXT is shingled and hashed exactly once in its lifetime —
    * the difference between O(batch) and O(corpus) per ingestion day at
    * 100 TB, where re-deriving corpus signatures would dwarf everything
    * else in the pipeline.
    */
  def minhashStore(docs: DataFrame, numHashes: Int = 16): DataFrame =
    minhashSignatureMatrix(docs, numHashes)

  /** Near-dup incremental dedup over MinHash + LSH against a PERSISTED
    * signature store: drop an incoming doc that shares an LSH bucket —
    * and an estimated Jaccard of at least `minEstJaccard` — with any
    * accepted doc, or with a smaller-doc_id doc of its own batch
    * (pairwise-greedy within the batch; chains that need transitive
    * closure go through [[clusters]] on the accepted corpus).
    *
    * `acceptedSig` is a [[minhashStore]] relation (same `numHashes`), NOT
    * text: signatures are computed over the BATCH ONLY, and the accepted
    * corpus contributes narrow persisted rows — its text is never read,
    * shingled, or hashed again. Returns (survivors, survivorSignatures);
    * appending the second to the store is the caller's state update, so
    * the next batch inherits this one's acceptances without recompute.
    *
    * The candidate asymmetry is the other half of the scale story: pairs
    * are generated ONLY where the bucket holds at least one incoming doc
    * (accepted×accepted — the quadratic mass of a naive re-run — is
    * never formed), and because the incoming side of the bucket join and
    * the candidate side of the scoring joins are batch-sized, AQE
    * broadcasts them: the store is touched by nothing heavier than one
    * narrow columnar scan per batch.
    */
  def incrementalLshAgainstStore(acceptedSig: DataFrame, incoming: DataFrame,
      numHashes: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val sigCols = col("doc_id") +: (0 until numHashes).map(i => col(s"mh$i"))
    val incSig = minhashSignatureMatrix(incoming, numHashes)
      .localCheckpoint(true)
    val sig = acceptedSig.select(sigCols: _*).withColumn("is_new", lit(false))
      .unionByName(incSig.withColumn("is_new", lit(true)))
    def bandBucket(b: Int): Column =
      md5(concat_ws(",", (b until numHashes by bands).map(i => col(s"mh$i")): _*))
    val bucketCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), bandBucket(b).as("bucket")))
    def bucketsOf(s: DataFrame): DataFrame =
      s.select(col("doc_id"), col("is_new"),
          explode(array(bucketCols: _*)).as("bb"))
        .select(col("doc_id"), col("is_new"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
    // y side: incoming docs only — the filter that keeps accepted×accepted
    // out of the join entirely
    val cand = bucketsOf(sig).as("x")
      .join(bucketsOf(incSig.withColumn("is_new", lit(true))).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          (!col("x.is_new") || col("x.doc_id") < col("y.doc_id")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val matches = (0 until numHashes)
      .map(i => when(col(s"xa.mh$i") === col(s"xb.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val dropped = cand
      .join(sig.as("xa"), col("a") === col("xa.doc_id"))
      .join(incSig.as("xb"), col("b") === col("xb.doc_id"))
      .filter(matches.cast("double") / lit(numHashes.toDouble) >= minEstJaccard)
      .select(col("b").as("doc_id")).distinct()
    (incoming.join(dropped, Seq("doc_id"), "left_anti"),
      incSig.join(dropped, Seq("doc_id"), "left_anti"))
  }

  /** Bootstrap form of [[incrementalLshAgainstStore]] for callers that
    * have not yet persisted a store: derives the accepted signatures from
    * text HERE (a one-time O(corpus) pass — the cost the store exists to
    * amortize) and returns the surviving incoming docs.
    */
  def incrementalLsh(accepted: DataFrame, incoming: DataFrame,
      numHashes: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame =
    incrementalLshAgainstStore(minhashStore(accepted, numHashes), incoming,
      numHashes, bands, minEstJaccard)._1

  /** FREQUENCY-BASED SEGMENT EXCISION (the CCNet/RefinedWeb paragraph-
    * dedup shape): split every document into consecutive `segWords`-word
    * segments IN-ROW (narrow — no shuffle to segment), count exact
    * segment occurrences across the corpus, and strip every segment that
    * appears more than `maxDf` times — repeated boilerplate (nav bars,
    * license headers, templated footers) is exactly the text that recurs
    * verbatim across unrelated documents. Two shuffles total at any
    * corpus size: the segment-frequency count (map-side partial agg over
    * hashed strings) and the per-document reassembly; the excision
    * itself is a left-anti join against the (small by construction —
    * only segments OVER the threshold) frequent set. Documents whose
    * every segment is boilerplate survive with empty text — dropping
    * them is the caller's policy decision, not the operator's.
    */
  def stripFrequentSegments(docs: DataFrame, segWords: Int = 8,
      maxDf: Long = 2L): DataFrame = {
    require(segWords > 0 && maxDf > 0, "segWords and maxDf must be positive")
    val segs = docs
      .withColumn("__words", split(col("text"), " "))
      .withColumn("__segs", expr(
        s"""transform(sequence(0, size(__words) - 1, $segWords),
           |  i -> array_join(slice(__words, i + 1, $segWords), ' '))"""
          .stripMargin))
      .select(col("doc_id"), posexplode(col("__segs")).as(Seq("sid", "seg")))
    val frequent = segs.groupBy(col("seg"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("seg"))
    val kept = segs.join(frequent, Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(sid, seg))), s -> s.seg)"),
          " ").as("text_clean"),
        count(lit(1)).as("__n_kept"))
    val totals = docs
      .select(col("doc_id"),
        expr(s"(size(split(text, ' ')) + ${segWords - 1}) div $segWords")
          .cast("long").as("n_segs"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_segs"),
        (col("n_segs") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }
}
