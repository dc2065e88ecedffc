package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.Registry

/** Plan-quality assertions: the properties that keep these queries viable
  * at 100 TB — filters/projections reaching the parquet scan, dimension
  * joins broadcast, aggregation partial before the shuffle, top-k via
  * TakeOrderedAndProject, no cartesian products, hot paths inside
  * whole-stage codegen. Asserted on the *plans* (sf0.001 inputs), so they
  * hold regardless of data scale.
  */
class ScaleSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf0001).queryExecution.executedPlan.toString

  /** Drain the SparkListener bus before reading a metrics counter: a
    * fixed sleep undercounts on a slow bus, which for a records-READ pin
    * can only make the assertion pass spuriously.
    */
  private def drainListenerBus(): Unit =
    graft.exec.QueryProfile.drainListenerBus(spark)

  test("q06: filter and projection push down to the parquet scan") {
    val p = plan("q06_revenue_forecast")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate") && p.contains("l_discount"))
    // projection pruning: scan must not read the wide remainder of lineitem
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"))
  }

  test("dimension joins broadcast instead of shuffling the fact table") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q01: aggregation is partial (map-side) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no partial aggregation in:\n$p")
  }

  test("top-k (order by + limit) plans as TakeOrderedAndProject") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("no TPC-H query plans a cartesian product") {
    val offenders = Registry.all.map(_.name).filter(_.startsWith("q")).filter { n =>
      plan(n).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("hot paths run inside whole-stage codegen") {
    // AQE reveals the compiled stages only once executed: run the query,
    // then assert codegen spans in the final adaptive plan
    def finalPlan(name: String): String = {
      val df = Registry.byName(name).run(spark, sf0001)
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.toString
    }
    // codegen stages render as `*(n) Operator` in the adaptive plan string
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(finalPlan("q01_pricing_summary")).isDefined)
    assert("""\*\(\d+\) Project""".r.findFirstIn(finalPlan("t01_token_stats")).isDefined)
  }

  test("semi/anti join semantics plan as semi/anti joins, not materialized subqueries") {
    val q4 = plan("q04_order_priority")
    assert(q4.contains("LeftSemi"), s"no semi join in:\n$q4")
    val q22 = plan("q22_global_sales_opportunity")
    assert(q22.contains("LeftAnti"), s"no anti join in:\n$q22")
  }

  test("dedup self-join moves hashed keys, not shingle strings") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val qe = Dedup.ngramJaccardPairs(docs).queryExecution
    // the shingle pipeline materializes behind an eager localCheckpoint, so
    // the join consumes a checkpointed (doc_id, sk) relation: both join
    // sides must carry ONLY the 8-byte hashed key, never the shingle string
    val p = qe.executedPlan.toString
    assert("""\[sk#\d+L\], \[sk#\d+L\]""".r.findFirstIn(p).isDefined,
      s"join not keyed on the hashed sk column in:\n$p")
    assert(!p.contains("shingle#"), s"shingle strings reach the join in:\n$p")
    assert("""Scan ExistingRDD\[doc_id#\d+L,sk#\d+L\]""".r.findFirstIn(p).isDefined,
      s"checkpointed relation is not the narrow (doc_id, sk) shape:\n$p")
  }

  test("shingle doc-frequency cap prunes hot keys from candidate generation") {
    import spark.implicits._
    // "x y z" appears in all 4 docs (a hot key); each pair also shares a
    // distinct rare shingle only within its pair
    val docs = Seq(
      (1L, "x y z a b c"), (2L, "x y z a b c"),
      (3L, "x y z d e f"), (4L, "x y z d e f")).toDF("doc_id", "text")
    val unbounded = Dedup.ngramJaccardPairs(docs).collect()
    assert(unbounded.length === 6) // all pairs share the hot shingle
    val capped = Dedup.ngramJaccardPairs(docs, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the rare-shingle pairs survive candidate generation
    assert(capped === Set((1L, 2L), (3L, 4L)))
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val l = spark.read.parquet(s"$sf0001/lineitem.parquet")
    Seq("orders_bkt", "lineitem_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_bkt")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_bkt")
    val joined = spark.table("orders_bkt")
      .join(spark.table("lineitem_bkt"),
        col("o_orderkey") === col("l_orderkey"))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    }
  }

  test("salted join spreads the key: salt participates in the join condition") {
    import spark.implicits._
    val large = Seq.tabulate(100)(i => (1L, i.toLong)).toDF("k", "payload")
    val small = Seq((1L, "x")).toDF("k", "v")
    val joined = graft.operators.Skew.saltedJoin(large, small, "k", salts = 8)
    // semantics: identical to the plain join
    assert(joined.count() === 100L)
    assert(!joined.columns.contains("__graft_salt"))
    // the salt column must reach the join keys (that's the whole point)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = graft.operators.Skew.saltedJoin(large, small, "k", salts = 8)
        .queryExecution.executedPlan.toString
      assert(p.contains("__graft_salt"), s"salt not in the plan:\n$p")
    }
  }

  test("funnel cascade plans a single hash exchange on user_id") {
    // three conditional-MIN windows + the per-user aggregate all share the
    // user_id partitioning: one exchange total (plus the final sort's
    // range exchange) — the cascade must never re-shuffle per stage
    val p = plan("e04_funnel")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges in:\n$p")
    assert(p.contains("user_id"), s"not partitioned by user_id:\n$p")
  }

  test("hive-layout date partitions prune at plan time") {
    // date-partitioned layout is how a 100 TB event corpus ships; a filter
    // on the partition column must prune directories at planning, not scan
    // and discard
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.core.Tables.load(spark, sf0001, "events")
      .withColumn("dt", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("dt="))
    assert(parts > 1, s"fixture produced $parts partitions")
    val one = spark.read.parquet(dir).filter(col("dt") === lit("2024-01-03"))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    assert("""PartitionFilters: \[[^\]]*dt[^\]]*\]""".r.findFirstIn(plan).isDefined,
      s"dt not in partition filters:\n$plan")
    // pruned scan touches exactly the one matching directory
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(scanned <= 1, s"scan selected $scanned partitions, expected <=1")
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("similarity top-k is two-stage: per-partition heap before the per-qid rank") {
    Seq("a01_ann_bruteforce", "a02_ann_ivf").foreach { n =>
      val p = plan(n)
      // the partial stage shows up as a MapPartitions over the candidate
      // stream; without it the per-qid window funnels the whole corpus
      // through one reducer per query
      assert(p.contains("MapPartitions"), s"$n: no per-partition top-k stage in:\n$p")
      // plans print parents first: the rank Window must sit ABOVE (consume)
      // the MapPartitions partial stage, never directly on the candidates
      assert(p.indexOf("Window") < p.indexOf("MapPartitions"),
        s"$n: window does not consume the partial top-k stage:\n$p")
    }
  }

  test("embedding near-dup LSH path never plans an all-pairs join") {
    // the public operator checkpoints the candidate stage (so the cached
    // buckets relation can be released eagerly), which hides it from the
    // final plan — pin the candidate stage's own plan instead
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (buckets, cand) =
      graft.operators.Similarity.lshCandidates(emb, planes = 64, bands = 16, dim = 64)
    try {
      val p = cand.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"all-pairs BNLJ in LSH path:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in LSH path:\n$p")
      // candidate generation is a bucket-equality join on the band slices
      assert(p.contains("bucket"), s"no bucket join in:\n$p")
      // and the full operator still refuses an all-pairs fallback
      val full = plan("d06_embed_lsh")
      assert(!full.contains("BroadcastNestedLoopJoin") &&
        !full.contains("CartesianProduct"), s"all-pairs in d06 plan:\n$full")
    } finally buckets.unpersist(false)
  }

  test("hash sampling is a pure narrow filter: no exchange in the plan") {
    val p = plan("smp01_hash_sample")
    // everything before the final ORDER BY is a scan + codegen'd filter;
    // the selection itself must never shuffle the corpus
    val beforeSort = p.split("Sort", 2).last
    assert(!beforeSort.contains("Exchange hashpartitioning"),
      s"sampling shuffles the corpus:\n$p")
    assert(p.contains("Filter"), s"no filter stage in:\n$p")
  }

  test("t12 LM score plans no Window: reference-side bigrams are in-row") {
    // the bigram counts on BOTH sides (reference fit + scoring) must come
    // from the per-row pair transform, never a lead/Window — a window here
    // shuffles AND sorts the whole reference corpus at scale
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.TextOps.lmScore(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"corpus-sized window in t12 plan:\n$p")
    // and no sort anywhere: nothing in the score pipeline is order-based
    assert(!p.contains("Sort "), s"sort in t12 plan:\n$p")
  }

  test("identity-partition injection broadcasts the file map, never shuffles data") {
    // the UniForm-mirror read path: partition columns re-injected from
    // manifests must join via a BROADCAST of the O(files) map — a
    // SortMergeJoin here would shuffle the whole corpus to recover
    // columns that metadata already knows
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-inj").toString
    val tbl = s"$dir/part_mirror"
    graft.sources.DeltaWrite.appendPartitioned(
      (1 to 200).map(i => (i.toLong, s"c${i % 3}", i * 2.0))
        .toDF("id", "cat", "v"), tbl, Seq("cat"))
    graft.sources.Uniform.deltaToIceberg(spark, tbl)
    val plan = graft.sources.IcebergLog.read(spark, tbl)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
      s"injection did not broadcast the file->pv map:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"injection shuffles the corpus:\n$plan")
  }

  test("t15 production gate plans no Window: threshold broadcasts, corpus never sorts") {
    // the library default (exact = false) must never move the corpus
    // through a global sort — ONE approx_percentile scalar agg, threshold
    // broadcast back as a filter. The exact override is the verification
    // shape and is ALLOWED its window; production is not.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val prod = graft.operators.TextOps.perplexityGate(docs)
      .queryExecution.executedPlan.toString
    assert(!prod.contains("Window"),
      s"global window in the production perplexity gate:\n$prod")
    assert(prod.contains("BroadcastNestedLoopJoin") ||
        prod.contains("BroadcastExchange"),
      s"threshold not broadcast in:\n$prod")
    val verif = graft.operators.TextOps.perplexityGate(docs, exact = true)
      .queryExecution.executedPlan.toString
    assert(verif.contains("Window"),
      "verification override lost its exact rank filter")
  }

  test("spread width is size-adaptive: wide data widens, tiny data doesn't") {
    // Spread widths derive from the input's PLAN statistics (r21): a
    // relation big enough to amortize per-task fixed cost spreads up to
    // the conf ceiling (forCodec: half ceiling — ImageIO tasks contend on
    // the allocator at full machine width, OPTIMIZATION_r20.md batch 8),
    // while a tiny relation stays narrow — pinning every spread to the
    // full ceiling was r20's d02b/d06b 2x regression.
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions // the core count
    // sized from the live ceiling: 16 plan-estimated bytes per row (8-byte
    // long + row overhead), so n x 10240 rows is 2 x n x 80 KB — full
    // width at any core count
    val big = (1L to n * 10240L).toDF("doc_id").coalesce(1)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >= n * 80L * 1024)
    assert(graft.operators.Spread.forCpu(big).rdd.getNumPartitions === n)
    assert(graft.operators.Spread.forCodec(big).rdd.getNumPartitions
      === math.max(2, n / 2))
    // 1 KB of estimated bytes: one 80 KB-floor task — no exchange at all
    val tiny = (1L to 64L).toDF("doc_id").coalesce(1)
    assert(graft.operators.Spread.forCpu(tiny) eq tiny)
    assert(graft.operators.Spread.byKey(tiny, col("doc_id"))
      .rdd.getNumPartitions === 1)
    // the id-fanout density (multimodal generators: 8-byte ids that fan
    // out into KB-scale blobs) widens even small id-only inputs
    assert(graft.operators.Spread.forCpu(tiny, bytesPerTask = 512L)
      .rdd.getNumPartitions === 2)
  }

  test("spread pass-through and composition run no job (AQE-safe)") {
    // 1) pass-through is decided from SIZE statistics, never df.rdd: a
    //    source whose planned scan parallelism already covers the spread
    //    width gets no added exchange. Shrink maxPartitionBytes so the
    //    ~320 KB relation plans >= width splits.
    import spark.implicits._
    val big = (1L to 20000L).toDF("doc_id").coalesce(1)
    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      assert(graft.operators.Spread.forCpu(big) eq big)
      assert(graft.operators.Spread.forCodec(big) eq big)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
    // 2) composing a spread over a SHUFFLED input must not materialize
    //    AQE query stages (i.e. run jobs) at query-construction time —
    //    the r20 latent footgun: df.rdd.getNumPartitions under AQE
    //    executes the upstream stages and the real run recomputes them.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val shuffled = (1L to 20000L).toDF("doc_id").repartition(3)
      val composed = graft.operators.Spread.forCpu(shuffled)
      val codec = graft.operators.Spread.forCodec(shuffled)
      val keyed = graft.operators.Spread.byKey(shuffled, col("doc_id"))
      // force plan construction through to the physical plan
      composed.queryExecution.executedPlan
      codec.queryExecution.executedPlan
      keyed.queryExecution.executedPlan
      drainListenerBus()
      assert(jobs.get === 0,
        s"spread composition ran ${jobs.get} job(s) — AQE stage materialization")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("multimodal decode is one narrow MapPartitions pass: no exchange") {
    // the scaladoc claim behind m01/m02/m04: blob -> features is a
    // per-partition codec pass; any KEYED Exchange here would shuffle raw
    // media bytes across the cluster — the single most expensive wire
    // format there is. The one ALLOWED exchange is Spread.forCpu's
    // explicit round-robin over the (doc_id-only, pre-encode) scan — a
    // cores-spread of 8-byte rows that is a no-op at scale and must sit
    // BELOW the encode seam, so blobs still never cross a wire.
    def noKeyedExchange(p: String, what: String): Unit = {
      assert(!p.replace("Exchange RoundRobinPartitioning", "")
          .contains("Exchange"), s"$what shuffles blobs:\n$p")
      val ex = p.indexOf("Exchange RoundRobinPartitioning")
      if (ex >= 0) assert(p.indexOf("MapPartitions", ex) < 0,
        s"$what spreads ABOVE an encode/decode seam (blobs cross):\n$p")
    }
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val img = graft.operators.Multimodal.decodeImageFeatures(spark,
        graft.operators.Multimodal.documentsAsImages(spark, docs))
      .queryExecution.executedPlan.toString
    noKeyedExchange(img, "image decode")
    assert(img.contains("MapPartitions"), s"no narrow decode seam in:\n$img")
    val wav = graft.operators.Multimodal.decodeWavStats(spark,
        graft.operators.Multimodal.documentsAsWavs(spark, docs))
      .queryExecution.executedPlan.toString
    noKeyedExchange(wav, "wav decode")
    assert(wav.contains("MapPartitions"), s"no narrow decode seam in:\n$wav")
  }

  test("composed pretrain pipeline keeps its stage plans across composition") {
    // with an identity checkpoint hook the whole six-stage c03 chain is
    // ONE plan tree — the per-stage scale properties (broadcast screens,
    // no all-pairs joins) must survive Catalyst recombining the stages,
    // which is exactly what the per-stage pins can't see
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.Curation.pretrainPipeline(
        docs, docs.filter(col("doc_id") % 10 === 0), checkpoint = identity)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs join in c03:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"broadcast screens lost in composition:\n$p")
  }

  test("bpe-train word histogram: partial aggregation + TakeOrdered cap") {
    // the ONLY corpus-sized pass of tokenizer training: the word count
    // must combine map-side and the top-N cap must be a bounded-heap
    // TakeOrdered, never a full sort of the vocabulary
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.TextOps.wordHistogram(docs, 4000)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"no map-side combine in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"cap is not a top-k in:\n$p")
  }

  test("binned range join plans as an equi-join, never a nested loop") {
    // the whole point of RangeJoin: a pure time-range predicate has no
    // equi key and would plan O(N*M); binning must surface a hash/merge
    // equi-join on the bin id with the range as residual filter
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"))
    val p = graft.operators.RangeJoin.countPrior(
        purchases, ev.select(col("ts")), "ts", "ts", 3600L, Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in range join:\n$p")
    assert(p.contains("Join"), s"no join surfaced at all:\n$p")
  }

  test("hierarchical range count: partial aggs, hash joins only") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"))
    val p = graft.operators.RangeJoin.countPriorBinned(
        purchases, ev.select(col("ts")), "ts", "ts", 3600L, 8, Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"nested loop in e23b plan:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"bin pre-aggregation lost its map-side combine:\n$p")
  }

  test("frequent-segment excision: map-side partial count, no all-pairs join") {
    // segmentation must stay in-row (the only corpus passes are the
    // hashed-string frequency count and the per-doc reassembly)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.operators.Dedup.stripFrequentSegments(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      s"segment frequency count lacks map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join in d14:\n$p")
  }

  test("contamination screen broadcasts the benchmark side") {
    val p = plan("cnt01_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set not broadcast:\n$p")
  }

  test("per-group cap pre-caps map-side before the window shuffle") {
    // phase 1 (bounded heap per input partition) must sit BELOW the window
    // exchange: a hot group then ships <= cap rows per map task instead of
    // its whole tail. Plans print parents first, so the Window must appear
    // before (above) the MapPartitions stage.
    val p = plan("smp04_source_cap")
    assert(p.contains("MapPartitions"), s"no map-side pre-cap stage in:\n$p")
    assert(p.indexOf("Window") < p.indexOf("MapPartitions"),
      s"window does not consume the pre-cap stage:\n$p")
  }

  test("token chunking is a narrow per-row plan (no keyed exchange)") {
    // the only allowed exchange is Spread.forCpu's explicit round-robin
    // cores-spread over the source (a no-op at scale — any real table
    // plans enough splits; locally it parallelizes the tokenizer). A
    // KEYED exchange or an aggregate would mean the chunker stopped
    // being a per-row transform.
    def narrow(p: String): Unit = {
      assert(!p.replace("Exchange RoundRobinPartitioning", "")
        .contains("Exchange"), s"unexpected keyed shuffle in:\n$p")
      assert(!p.contains("Aggregate"), s"unexpected aggregate in:\n$p")
    }
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    narrow(graft.operators.TextOps.chunk(docs, 4, 1)
      .queryExecution.executedPlan.toString)
    // the BPE-token variant (t11's production shape) must stay just as
    // narrow: the merge loop is a per-row expression, not a join/shuffle.
    // Parquet input, not a local Seq — ConvertToLocalRelation folds the
    // tokenizer into a LocalTableScan at plan time otherwise, hiding the
    // shape this pin is about
    val pdocs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bpePlan = graft.operators.TextOps.chunk(pdocs, 4, 1,
        tokensOf = graft.operators.TextOps.bpeTokens(_))
      .queryExecution.executedPlan.toString
    narrow(bpePlan)
    assert(bpePlan.contains("bpe_tokens"), s"bpe tokenizer missing in:\n$bpePlan")
  }

  test("PQ-ADC plan: distance tables broadcast, no all-pairs join, two-stage rank") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val p = graft.operators.Similarity
      .pqTopK(emb, org.apache.spark.sql.functions.col("vec_id") < 3,
        k = 5, dim = 64)
      .queryExecution.executedPlan.toString
    // the corpus is scored via an equi-join against the broadcast
    // distance tables — never a cartesian/BNLJ over vectors
    assert(p.contains("BroadcastHashJoin"), s"distance tables not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ADC path:\n$p")
    // both top-k stages run the bounded-heap pre-rank (MapPartitions
    // below the window), like every other search path
    assert(p.contains("MapPartitions"), s"no bounded-heap stage:\n$p")
  }

  test("as-of join: one key exchange, no range-join pair blow-up") {
    import spark.implicits._
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val left = Seq((1L, ts("10:00"), 5.0)).toDF("k", "ts", "v")
    val right = Seq((1L, ts("09:30"), 1.0)).toDF("k", "ts", "w")
    val p = graft.operators.AsofJoin.asofJoin(left, right, Seq("k"))
      .queryExecution.executedPlan.toString
    // the naive encodings of "latest right row at-or-before each left ts"
    // plan a BNLJ/cartesian range join (quadratic per key); the tagged
    // union + running window must plan exactly ONE exchange on the key
    assert(!p.contains("CartesianProduct"), s"cartesian in as-of join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in as-of join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"as-of join should not plan a pairwise join at all:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly 1 key exchange, got $exchanges:\n$p")
    assert(p.contains("Window"), s"no running window in:\n$p")
  }

  test("minhash signatures are a narrow in-row map (no explode, no aggregate)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val qe = Dedup.minhashSignatureMatrix(docs).queryExecution
    val plan = qe.executedPlan.toString
    // the only exchange is the work-spreading repartition of (id, text);
    // the signature itself is one minhash_signature projection — no
    // shingle explode, no hash aggregate, no second exchange
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("minhash_signature"))
    assert(!plan.contains("Generate"), s"unexpected explode in:\n$plan")
    assert(!plan.contains("Aggregate"), s"unexpected aggregate in:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    val s = spark
    import s.implicits._
    // one pathological key (100k rows with a fat payload) among 50 normal
    // ones: the classic hot-partition shape AQE's skew-join handling exists
    // for. Thresholds lowered to test scale; factor/threshold semantics are
    // Spark's own.
    // md5 payloads keep the shuffle bytes incompressible: skew detection
    // reads compressed map-output sizes
    val left = s.range(0, 400000).select(
      when(col("id") < 390000L, 0L).otherwise(col("id") % 50 + 1).as("k"),
      md5(col("id").cast("string")).as("payload"))
    val right = s.range(0, 51).select(col("id").as("k"),
      col("id").cast("string").as("tag"))
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
      // the downstream single-partition agg would otherwise veto the
      // split as "introduces an extra shuffle"
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      // aggregate over payload so pruning can't strip it before the
      // exchange — the skew must actually cross the shuffle
      val j = left.join(right, "k").agg(count(lit(1)), max(col("payload")))
      j.collect() // AQE decides at runtime; materialize first
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skew:\n$p")
    }
  }

  test("nested field selection prunes the scan to the single struct leaf") {
    val p = plan("x13_nested_prune")
    assert(p.contains("meta:struct<event_type:string>"),
      s"nested schema not pruned to the selected leaf:\n$p")
    assert(!p.contains("value:double"),
      s"unselected struct leaf still read:\n$p")
  }

  test("footer-count rule: scan eliminated for bare count(*), untouched otherwise") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    graft.plans.FooterCount.enable(spark)
    val path = s"$sf0001/lineitem.parquet"
    val bare = spark.read.parquet(path).agg(count(lit(1)).as("n"))
    assert(bare.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      s"rule did not fire:\n${bare.queryExecution.optimizedPlan}")
    // ground truth via a shape the rule must NOT touch (Filter above the
    // relation): values agree, and that plan still scans
    val filtered = spark.read.parquet(path)
      .filter(col("l_quantity") >= 0).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      "rule must not fire through a Filter")
    assert(bare.head.getLong(0) === filtered.head.getLong(0))
    // non-count aggregates keep the scan
    val other = spark.read.parquet(path)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
    assert(!other.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      "rule must not fire next to non-count aggregates")
    // non-parquet sources keep the scan
    val csvDir = java.nio.file.Files.createTempDirectory("graft-fc")
      .resolve("fc_csv").toString
    spark.range(10).write.mode("overwrite").option("header", "true").csv(csvDir)
    val csv = spark.read.option("header", "true").csv(csvDir)
      .agg(count(lit(1)).as("n"))
    assert(!csv.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      "rule must not fire on csv")
    assert(csv.head.getLong(0) === 10L)
  }

  test("footer-stats rule: min/max answered from footers, exact null semantics") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import spark.implicits._
    graft.plans.FooterStats.enable(spark)
    def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    val path = s"$sf0001/lineitem.parquet"
    val agg = spark.read.parquet(path).agg(
      min(col("l_shipdate")).as("a"), max(col("l_quantity")).as("b"),
      max(col("l_returnflag")).as("c"), count(lit(1)).as("n"))
    assert(metadataOnly(agg), s"rule did not fire:\n${agg.queryExecution.optimizedPlan}")
    // ground truth through a shape the rule must not touch
    val truth = spark.read.parquet(path).filter(col("l_orderkey") >= 0).agg(
      min(col("l_shipdate")).as("a"), max(col("l_quantity")).as("b"),
      max(col("l_returnflag")).as("c"), count(lit(1)).as("n"))
    assert(!metadataOnly(truth), "rule must not fire through a Filter")
    assert(agg.head === truth.head)
    // null semantics: a column all-null in one file, mixed in another —
    // stats exclude nulls exactly like SQL MIN/MAX; an entirely-null
    // column folds to NULL without disabling the rewrite
    val dir = java.nio.file.Files.createTempDirectory("graft-fs").toString
    Seq[(java.lang.Long, java.lang.Long)]((1L, null), (5L, null))
      .toDF("x", "y").repartition(1).write.mode("append").parquet(dir)
    Seq[(java.lang.Long, java.lang.Long)]((null, null), (3L, null))
      .toDF("x", "y").repartition(1).write.mode("append").parquet(dir)
    val nullAgg = spark.read.parquet(dir)
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"), max(col("y")).as("ny"))
    assert(metadataOnly(nullAgg),
      s"rule did not fire on nullable data:\n${nullAgg.queryExecution.optimizedPlan}")
    val r = nullAgg.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 5L && r.isNullAt(2))
    // grouped aggregates and non-min/max companions keep the scan
    assert(!metadataOnly(spark.read.parquet(path).groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("m"))), "rule must not fire under grouping")
    assert(!metadataOnly(spark.read.parquet(path)
      .agg(min(col("l_quantity")).as("m"), sum(col("l_quantity")).as("s"))),
      "rule must not fire next to non-foldable aggregates")
  }

  test("footer-stats rule: timestamp unit honored — MILLIS scaled to micros, INT96 refused") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    graft.plans.FooterStats.enable(spark)
    def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    val dir = java.nio.file.Files.createTempDirectory("graft-tsunit").toString
    val rows = "SELECT timestamp'2021-03-04 05:06:07.89' AS ts " +
      "UNION ALL SELECT timestamp'2024-01-02 03:04:05.678'"
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      spark.sql(rows).write.mode("overwrite").parquet(s"$dir/millis")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      spark.sql(rows).write.mode("overwrite").parquet(s"$dir/int96")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    // MILLIS: raw footer stat is in millis; the fold must still fire and
    // carry the value in Catalyst micros (×1000), not millis-as-micros
    val m = spark.read.parquet(s"$dir/millis")
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(metadataOnly(m), s"rule did not fire on a MILLIS file:\n${m.queryExecution.optimizedPlan}")
    val truth = spark.read.parquet(s"$dir/millis").filter(col("ts").isNotNull)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(!metadataOnly(truth), "truth shape must keep the scan")
    assert(m.head === truth.head,
      s"MILLIS stats folded with the wrong unit: ${m.head} vs ${truth.head}")
    // INT96: no micros conversion exists without decoding → never fold
    val i96 = spark.read.parquet(s"$dir/int96").agg(min(col("ts")).as("lo"))
    assert(!metadataOnly(i96), "rule must refuse INT96 timestamp files")
    assert(i96.head.getTimestamp(0) === truth.head.getTimestamp(0))
  }

  test("footer-stats rule folds DECIMAL stats across physical encodings") {
    // warehouse numerics are decimal-typed (TPC-H's own quantities and
    // prices): parquet stores them as unscaled INT32/INT64 or big-endian
    // two's-complement FLBA by precision, and the fold must convert each
    // exactly — precision ≤ 9 (INT32), ≤ 18 (INT64), and > 18 (FLBA,
    // incl. negatives, whose sign lives in two's complement) all fire.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    graft.plans.FooterStats.enable(spark)
    def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    val dir = java.nio.file.Files.createTempDirectory("graft-dec").toString
    spark.sql("""
      SELECT CAST(v AS DECIMAL(8,2)) AS d32,
             CAST(v AS DECIMAL(15,2)) AS d64,
             CAST(v * 1e9 AS DECIMAL(30,4)) AS dbig
      FROM VALUES (-12345.67), (0.01), (98765.43) AS t(v)
    """).repartition(2).write.mode("overwrite").parquet(dir)
    val agg = spark.read.parquet(dir).agg(
      min(col("d32")).as("a"), max(col("d32")).as("b"),
      min(col("d64")).as("c"), max(col("d64")).as("d"),
      min(col("dbig")).as("e"), max(col("dbig")).as("f"))
    assert(metadataOnly(agg),
      s"rule did not fire on decimals:\n${agg.queryExecution.optimizedPlan}")
    val truth = spark.read.parquet(dir).filter(col("d32").isNotNull).agg(
      min(col("d32")).as("a"), max(col("d32")).as("b"),
      min(col("d64")).as("c"), max(col("d64")).as("d"),
      min(col("dbig")).as("e"), max(col("dbig")).as("f"))
    assert(!metadataOnly(truth), "truth shape must keep the scan")
    assert(agg.head === truth.head,
      s"decimal stats folded wrong: ${agg.head} vs ${truth.head}")
  }

  test("footer rules never fail a query: a vanished footer keeps the scan") {
    // the rules' contract is "can never change a result" — including
    // never turning a working scan into an error: the fold does real I/O
    // between listing and read, and a file deleted in that window (or a
    // corrupt footer) must fall back to the scan, not throw through the
    // optimizer. ignoreMissingFiles makes the fallback scan itself
    // succeed, isolating the rule's behavior.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import spark.implicits._
    graft.plans.FooterStats.enable(spark)
    graft.plans.FooterCount.enable(spark)
    def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    val dir = java.nio.file.Files.createTempDirectory("graft-vanish").toString
    Seq(1L, 2L, 3L).toDF("x").repartition(1).write.mode("append").parquet(dir)
    Seq(10L, 11L).toDF("x").repartition(1).write.mode("append").parquet(dir)
    val prev = spark.conf.get("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      // the DataFrame lists (and caches) BOTH files now...
      val df = spark.read.parquet(dir)
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val expected = spark.read.parquet(parts.last.getPath)
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
          count(lit(1)).as("n")).head
      // ...then one vanishes between listing and the rule's footer fold
      assert(parts.head.delete())
      val agg = df.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n"))
      assert(!metadataOnly(agg),
        "stats fold must keep the scan when a footer vanishes")
      assert(agg.head === expected) // and the query still answers
      val cnt = df.agg(count(lit(1)).as("n"))
      assert(!metadataOnly(cnt),
        "count fold must keep the scan when a footer vanishes")
      assert(cnt.head.getLong(0) === expected.getLong(2))
    } finally
      spark.conf.set("spark.sql.files.ignoreMissingFiles", prev)
  }

  test("epoch mix joins broadcast rates and explodes in-row (no corpus exchange)") {
    // the only exchanges allowed are the 20-key per-source size aggregate;
    // the corpus side must meet the rates via broadcast and fan out
    // through a Generate (sequence explode), never a hash shuffle
    val p = plan("smp08_epoch_mix")
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast:\n$p")
    assert(p.contains("Generate"), s"no in-row epoch explode:\n$p")
  }

  test("vocab coverage: histogram cut is a bounded top-k, vocab broadcasts back") {
    val p = plan("t18_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut is not a bounded top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
  }

  test("containment pairs share d02's shape: hashed keys, no cartesian") {
    val p = plan("d13_containment")
    assert(!p.contains("CartesianProduct"), s"containment went all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 not a bounded rank:\n$p")
  }

  test("bucketed join reads bucket-to-bucket with no Exchange on either side") {
    graft.queries.SourceQueries.stageBucketedTables(spark, sf0001)
    // forbid broadcast so the merge path itself is what's asserted: a
    // non-bucketed layout would need a shuffle on BOTH sides here
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("x07_customer").join(spark.table("x07_orders"),
        col("c_custkey") === col("o_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"no merge join in:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
  test("partitioned merge: job count does not grow with partition count") {
    // the staging is ONE distributed partitionBy write for ALL touched
    // tuples — a per-tuple driver loop would submit jobs linear in
    // partition count and stall a 10^4-partition table at the driver.
    // Pin: doubling the partition count leaves the merge's Spark job
    // count unchanged (small slack for AQE stage materialization).
    import graft.sources.DeltaWrite
    val s = spark
    import s.implicits._
    def run(nParts: Int): Int = {
      val tbl = java.nio.file.Files
        .createTempDirectory("graft-mjobs").toString + "/t"
      val rows = (0L until 400L).map(i => (i, s"p${i % nParts}", i * 3))
      DeltaWrite.appendPartitioned(
        rows.toDF("id", "part", "v").repartition(2), tbl, Seq("part"))
      val batch = (0L until 400L by 5).map(i => (i, s"p${i % nParts}", -i))
        .toDF("id", "part", "v")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try DeltaWrite.merge(tbl, batch, Seq("id"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
      jobs.get
    }
    val j6 = run(6)
    val j12 = run(12)
    assert(math.abs(j12 - j6) <= 2,
      s"merge job count grew with partition count: $j6 -> $j12")
  }

  test("partition-conjunct delete reads only the pruned partition's bytes") {
    // the conjunct is answered from the LOG before any data file opens:
    // with 8 partitions and a one-partition conjunct, the whole DELETE
    // (match scan + touched decode + survivor rewrite) must read well
    // under one full-table pass
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-dprune").toString + "/t"
    val n = 4000L
    val rows = (0L until n).map(i => (i, s"p${i % 8}", i * 7))
    DeltaWrite.appendPartitioned(
      rows.toDF("id", "part", "v").repartition(4), tbl, Seq("part"))
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val st =
      try DeltaWrite.deleteWhere(spark, tbl,
        col("part") === "p3" && col("id") % 2 === 1)
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(st.rowsDeleted === rows.count { case (i, p, _) =>
      p == "p3" && i % 2 == 1 }.toLong)
    // pruned pipeline ~= 3 passes over ONE of eight partitions (match
    // scan, touched decode+count, survivor rewrite) + the tiny tuple
    // frame; an unpruned match scan ALONE would read all `n` rows
    assert(read.get < (n * 2) / 3,
      s"delete read ${read.get} records of $n — the partition conjunct " +
        "did not prune the match scan")
    assert(DeltaLog.read(spark, tbl).count() === n - st.rowsDeleted)
  }

  test("conditional merge reads only the condition's partition bytes") {
    // the extra match condition (`ON keys AND pred`) is part of the
    // match itself, so its partition conjuncts answer the candidate-file
    // prune from the LOG before any data file opens — "merge the batch
    // into one of eight partitions" must read well under one full-table
    // pass even though the join key is NOT a partition column
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-mprune").toString + "/t"
    val n = 4000L
    val rows = (0L until n).map(i => (i, s"p${i % 8}", i * 7))
    DeltaWrite.appendPartitioned(
      rows.toDF("id", "part", "v").repartition(4), tbl, Seq("part"))
    // stride 20 (was 5): recordsRead now also counts the merge's
    // CHECKPOINTED BATCH block reads (Spark records cache reads as input
    // — ~5 consumer reads of the batch, batch-bounded at any scale), so
    // the batch must stay small relative to the table for the pin to
    // keep discriminating: pruned ≈ 2 reads of the p3 partition + ~5x
    // batch ≈ 2k records, unpruned ≥ the full 4k-row table on top.
    val batch = (0L until n by 20).map(i => (i, s"p${i % 8}", -i))
      .toDF("id", "part", "v")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try DeltaWrite.merge(tbl, batch, Seq("id"),
        matchCondition = Some(col("part") === "p3"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    // p3 keys landing on the stride: i % 8 == 3 && i % 20 == 0 — the
    // batch rows whose key lives in p3 update; every other row inserts
    assert(ms.rowsUpdated === rows.count { case (i, p, _) =>
      p == "p3" && i % 20 == 0 }.toLong)
    assert(read.get < (n * 3) / 4,
      s"conditional merge read ${read.get} records of $n — the match " +
        "condition's partition conjunct did not prune the match scan")
    // updates replace 1:1 and every non-p3 batch row inserts
    assert(DeltaLog.read(spark, tbl).count() === n + ms.rowsInserted)
  }

  test("conditional Iceberg merge reads only the condition's partition bytes") {
    // the second protocol's twin of the pin above: the match condition's
    // partition conjunct answers the candidate-file prune from MANIFEST
    // TUPLES alone — merging a batch whose keys span all eight
    // partitions but whose condition names one must read well under a
    // full-table pass
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-imprune").toString + "/t"
    val n = 4000L
    val rows = (0L until n).map(i => (i, s"p${i % 8}", i * 7))
    IcebergLog.appendPartitioned(
      rows.toDF("id", "part", "v").repartition(4), tbl,
      partitionBy = Seq(2 -> "part"))
    // stride 20 (was 5): see the Delta twin above — the checkpointed
    // batch's block reads count as input records now, so the batch stays
    // small relative to the table for the pin to keep discriminating
    val batch = (0L until n by 20).map(i => (i, s"p${i % 8}", -i))
      .toDF("id", "part", "v")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try IcebergLog.merge(spark, tbl, batch, Seq("id"),
        matchCondition = Some(col("part") === "p3"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ms.rowsUpdated === rows.count { case (i, p, _) =>
      p == "p3" && i % 20 == 0 }.toLong)
    assert(read.get < (n * 3) / 4,
      s"conditional iceberg merge read ${read.get} records of $n — the " +
        "condition's partition conjunct did not prune the manifest " +
        "candidates")
    assert(IcebergLog.read(spark, tbl).count() === n + ms.rowsInserted)
  }

  test("partition-key Iceberg merge reads only the batch tuples' bytes") {
    // when a JOIN KEY is a partition column, the batch's distinct values
    // for it answer the candidate prune from manifest tuples — merging a
    // batch confined to one of eight partitions must read well under a
    // full-table pass (Delta's x16b-era lever, now on both protocols)
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-ikprune").toString + "/t"
    val n = 4000L
    val rows = (0L until n).map(i => (i % 8, i, i * 7))
    IcebergLog.appendPartitioned(
      rows.toDF("bucket", "id", "v").repartition(4), tbl,
      partitionBy = Seq(1 -> "bucket"))
    // batch keys live ONLY in bucket 3
    val batch = (0L until n by 5).filter(_ % 8 == 3)
      .map(i => (3L, i, -i)).toDF("bucket", "id", "v")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try IcebergLog.merge(spark, tbl, batch, Seq("bucket", "id"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ms.rowsUpdated === rows.count { case (b, i, _) =>
      b == 3L && i % 5 == 0 }.toLong && ms.rowsInserted === 0L)
    assert(read.get < (n * 3) / 4,
      s"partition-key iceberg merge read ${read.get} records of $n — " +
        "the batch's key tuples did not prune the manifest candidates")
    assert(IcebergLog.read(spark, tbl).count() === n)
  }

  test("hidden-partition day-range scan opens only that range's files") {
    // days(ts) is the canonical 100 TB event layout: a ts BETWEEN
    // predicate must answer its file pruning from the manifests' day
    // tuples — reading two days of a twenty-day table must cost two
    // days' bytes, not a table scan
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.SpecField
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-dayprune").toString + "/t"
    val perDay = 200
    val rows = (0 until 20 * perDay).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, 1 + i / perDay, 6, 0)), i * 3L)
    }
    IcebergLog.appendPartitionedSpec(
      rows.toDF("id", "ts", "v").repartitionByRange(4, col("ts")), tbl,
      Seq(SpecField(2, "ts_day", "day", "ts")))
    val lo = java.sql.Timestamp.valueOf("2024-03-05 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-03-06 23:59:59")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val got =
      try IcebergLog.readSourceRange(spark, tbl, "ts", Some(lo), Some(hi))
        .count()
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(got === 2L * perDay)
    // two of twenty days; generous headroom for edge files still keeps
    // the pin an order of magnitude under a table scan
    assert(read.get < rows.size / 4,
      s"day-range scan read ${read.get} records of ${rows.size} — the " +
        "day tuples did not prune the file list")
  }

  test("Iceberg partition-conjunct delete prunes its scan and keeps tuples") {
    // the deleteWhere twin of the conditional-merge lever: a predicate
    // whose identity conjunct names one partition must open only that
    // partition's files (answered from manifest tuples), and the
    // restaged survivors must carry their tuples so the NEXT delete
    // prunes just as well
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.SpecField
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-icedelprune").toString + "/t"
    val n = 3000L
    IcebergLog.appendPartitionedSpec(
      (0L until n).map(i => (i, s"p${i % 3}", i * 7)).toDF("id", "p", "v")
        .repartition(2), tbl, Seq(SpecField(2, "p")))
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ds =
      try IcebergLog.deleteWhere(spark, tbl,
        col("p") === "p0" && col("id") % 2 === 0L)
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ds.rowsDeleted === 500L)
    // p0 holds 1000 of 3000 rows; the verb makes ~4 passes over the
    // touched files (match detect, delete count, survivor probe+stage)
    // = ~4000 records when pruned — but an unpruned match scan alone
    // adds p1/p2's 2000 on top (>= 6000). The bound splits the two.
    assert(read.get < 5L * n / 3,
      s"partition-conjunct delete read ${read.get} records of $n — the " +
        "manifest tuples did not prune the match scan")
    // restaged survivors keep their tuples (future prunes stay exact)
    val entries = IcebergLog.liveEntries(tbl)
    assert(entries.forall(_.partitionValues.keySet == Set("p")),
      "a restaged survivor lost its partition tuple")
    assert(IcebergLog.read(spark, tbl).count() === n - 500L)
    assert(IcebergLog.read(spark, tbl)
      .filter(col("p") === "p0").count() === 500L)
  }

  test("MoR merge writes the batch, not the touched files") {
    // kill-and-insert: matched rows die via one position-delete file
    // and the batch appends — records WRITTEN must track the batch
    // (+ delete rows), never the touched files' row counts (the CoW
    // merge would restage every touched file's survivors)
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-morwrite").toString + "/t"
    val n = 4000L
    IcebergLog.append(
      (0L until n).map(i => (i, i * 7)).toDF("id", "v").repartition(4), tbl)
    // 40 keys spread across every file: CoW would rewrite all 4 files
    val batch = (0L until n by 100).map(i => (i, -i)).toDF("id", "v")
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          written.addAndGet(te.taskMetrics.outputMetrics.recordsWritten); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try IcebergLog.mergeMoR(spark, tbl, batch, Seq("id"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ms.rowsUpdated === 40L && ms.rowsInserted === 0L &&
      ms.filesRewritten === 0)
    // batch (40) + position-delete rows (40) + slack; a CoW restage of
    // the four touched files would write ~4000
    assert(written.get < n / 10,
      s"MoR merge wrote ${written.get} records for a 40-row batch — " +
        "it restaged touched files instead of appending the batch")
    assert(IcebergLog.read(spark, tbl).count() === n)
    // and the read applies the kills: updated values visible
    assert(IcebergLog.read(spark, tbl).filter(col("id") === 100L)
      .select($"v").as[Long].head() === -100L)
  }

  test("Delta DV merge writes the batch, not the touched files") {
    // the Delta twin of the MoR-merge pin: matched rows die via DV
    // bitmaps (no data file rewrites) and the batch appends — records
    // WRITTEN must track the batch, never the touched files' row counts
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-dvmergewrite").toString + "/t"
    val n = 4000L
    DeltaWrite.append(
      (0L until n).map(i => (i, i * 7)).toDF("id", "v").repartition(4), tbl)
    val before = DeltaLog.liveAdds(spark, tbl).map(_.path).toSet
    // 40 keys spread across every file: CoW would rewrite all 4 files
    val batch = (0L until n by 100).map(i => (i, -i)).toDF("id", "v")
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          written.addAndGet(te.taskMetrics.outputMetrics.recordsWritten); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try DeltaWrite.mergeDv(spark, tbl, batch, Seq("id"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ms.rowsUpdated === 40L && ms.rowsInserted === 0L &&
      ms.filesRewritten === 0)
    // batch (40) + slack; the bitmaps are not parquet records and a CoW
    // restage of the four touched files would write ~4000
    assert(written.get < n / 10,
      s"DV merge wrote ${written.get} records for a 40-row batch — " +
        "it restaged touched files instead of appending the batch")
    assert(before.subsetOf(DeltaLog.liveAdds(spark, tbl).map(_.path).toSet))
    assert(DeltaLog.read(spark, tbl).count() === n)
    assert(DeltaLog.read(spark, tbl).filter(col("id") === 100L)
      .select($"v").as[Long].head() === -100L)
  }

  test("bucket-partition merge reads only the batch keys' buckets") {
    // bucket(8, id) is the classic upsert layout: a batch whose keys
    // all fall in ONE bucket must read ~1/8 of the table, answered from
    // the manifests by mapping the batch keys through the bucket
    // transform — never a full match scan
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.{SpecField, Transforms}
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft-bktprune").toString + "/t"
    val n = 4000L
    val rows = (0L until n).map(i => (i, i * 7))
    IcebergLog.appendPartitionedSpec(
      rows.toDF("id", "v").repartition(4), tbl,
      Seq(SpecField(1, "id_bucket", "bucket[8]", "id")))
    // batch keys confined to bucket 3
    val keys = (0L until n).filter(i =>
      Transforms.bucketOf(i, 8) == 3).take(40)
    val batch = keys.map(i => (i, -i)).toDF("id", "v")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val ms =
      try IcebergLog.merge(spark, tbl, batch, Seq("id"))
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(l)
      }
    assert(ms.rowsUpdated === keys.size.toLong && ms.rowsInserted === 0L)
    // one bucket of eight: match scan + touched decode + restage stay
    // well under a full-table pass
    assert(read.get < (n * 3) / 4,
      s"bucket merge read ${read.get} records of $n — the batch keys' " +
        "bucket values did not prune the manifest candidates")
    assert(IcebergLog.read(spark, tbl).count() === n)
  }
}
