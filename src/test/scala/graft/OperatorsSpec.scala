package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextOps}

/** Operator semantics on planted fixtures (duplicates the testdata lacks)
  * plus shape/recall properties on the real embeddings table.
  */
class OperatorsSpec extends SparkSpec {

  test("winnowing fingerprints survive a local edit; whole-doc hash does not") {
    val base = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua " +
      "ut enim ad minim veniam quis nostrud exercitation ullamco laboris")
    val edited = base.replace("tempor", "tempus") // one word, mid-document
    val d = docs(1L -> base, 2L -> edited, 3L -> "short")
    val rows = TextOps.winnowingSets(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](2).toSet).toMap
    val overlap = rows(1L).intersect(rows(2L)).size.toDouble /
      math.max(rows(1L).size, rows(2L).size)
    assert(overlap > 0.5, f"local edit destroyed fingerprints: $overlap%.2f")
    assert(rows(1L) !== rows(2L)) // but the edit IS detectable
    // whole-doc fingerprint flips entirely on the same edit
    val whole = d.select(col("doc_id"), TextOps.fingerprint(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(whole(1L) !== whole(2L))
    // short doc (< k chars): no k-grams, empty fingerprint set
    assert(rows(3L).isEmpty)
  }

  test("connected components label chains transitively; clusters keep singletons") {
    val s = spark
    import s.implicits._
    // a chain 1-2-3, a pair 7-8, and 9 appearing only via 9-10
    val edges = Seq((2L, 1L), (2L, 3L), (7L, 8L), (9L, 10L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      8L -> 7L, 9L -> 9L, 10L -> 9L))

    // end-to-end: two exact dups + one near-dup chain + unrelated docs
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      1L -> base, 2L -> base, 3L -> (base + " extra"),
      4L -> "completely different text about something else entirely here today",
      5L -> "yet another unrelated document with its own words and phrasing now")
    val out = Dedup.clusters(d, minEstJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.map(t => t._1 -> t).toMap
    assert(byDoc(1L)._2 === 1L && byDoc(2L)._2 === 1L && byDoc(3L)._2 === 1L)
    assert(byDoc(1L)._3 === 3L) // cluster of {1,2,3}
    assert(byDoc(4L)._2 === 4L && byDoc(4L)._3 === 1L) // singleton
    assert(byDoc(5L)._2 === 5L && byDoc(5L)._3 === 1L)
  }

  test("embedding LSH recall vs the exact all-pairs baseline") {
    val emb = Tables.load(spark, sf001, "embeddings")
    // ground truth from the gated exact baseline (its one sanctioned use)
    val exact = Similarity.nearDupPairs(emb, 0.35, maxRows = 10000L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(emb, 0.35, dim = 64)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no near-dup pairs to measure against")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    info(f"d06 recall vs d05 ground truth: $recall%.3f " +
      s"(${lsh.intersect(exact).size}/${exact.size} pairs)")
    // no false positives by construction: every candidate is re-scored
    // against the exact cosine before the threshold filter
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact baseline lacks")
    assert(recall >= 0.9, f"recall $recall%.3f below floor 0.9")
  }

  test("LSH hot-bucket guard drops degenerate cells, keeps cold pairs") {
    val s = spark
    import s.implicits._
    // 40 IDENTICAL vectors (every band-bucket cell they occupy has
    // occupancy 40) plus one near-identical cold pair pointing the
    // opposite way (its cells hold 2)
    val hot = Array.fill(64)(1.0f)
    val coldA = Array.tabulate(64)(i => if (i % 2 == 0) -1.0f else 1.0f)
    val coldB = coldA.clone(); coldB(63) = 0.9f
    val rows = (0L until 40L).map(i => (i, hot)) ++
      Seq((100L, coldA), (101L, coldB))
    val emb = rows.toDF("vec_id", "embedding")
    val uncapped = Similarity.nearDupPairsLsh(emb, 0.5, dim = 64)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all 40×39/2 identical pairs + the cold pair
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.size === 40 * 39 / 2 + 1)
    val capped = Similarity.nearDupPairsLsh(emb, 0.5, dim = 64,
        maxBucketSize = 10)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot cells (occupancy 40 > 10) are excluded from candidate
    // generation entirely; the cold pair's cells (occupancy 2) survive
    assert(capped === Set((100L, 101L)))
  }

  test("shingle materialization strategies produce identical Jaccard pairs") {
    // the one shipped strategy: the (doc_id, sk) relation is materialized
    // by an eager localCheckpoint and every consumer scans the checkpoint
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> base, 2L -> (base + " extra"),
      3L -> "completely different text about something else entirely here")
    val df = Dedup.ngramJaccardPairs(d)
    // 10 word 3-grams in the base, one more with " extra"
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet === Set((1L, 2L, 10.0 / 11)))
    val p = df.queryExecution.executedPlan.toString
    assert("""Scan ExistingRDD\[doc_id#\d+L,sk#\d+L\]""".r.findFirstIn(p).isDefined,
      s"shingles are not a checkpointed (doc_id, sk) relation:\n$p")
  }

  test("minhash signature materialization strategies produce identical LSH pairs") {
    // the one shipped strategy: the signature matrix is materialized by an
    // eager localCheckpoint that the band explode and both scoring joins scan
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> base, 2L -> (base + " extra"),
      3L -> "completely different text about something else entirely here",
      4L -> base)
    val df = Dedup.minhashLshPairs(d)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet === Set((1L, 4L, 1.0), (1L, 2L, 15.0 / 16), (2L, 4L, 15.0 / 16)))
    val p = df.queryExecution.executedPlan.toString
    val sig = ("doc_id#\\d+L" +: (0 until 16).map(i => s"mh$i#\\d+"))
      .mkString("""Scan ExistingRDD\[""", ",", """\]""").r
    assert(sig.findAllIn(p).size >= 3,
      s"the consumers do not scan a checkpointed signature relation:\n$p")
  }

  test("media header parser: PNG/JPEG/WAV round-trip, truncated and unknown bytes") {
    import graft.operators.Multimodal._
    val png = parseHeader(1L, makePng(640, 480))
    assert((png.format, png.width, png.height) === (("png", 640L, 480L)))
    val jpg = parseHeader(2L, makeJpeg(513, 257))
    assert((jpg.format, jpg.width, jpg.height) === (("jpeg", 513L, 257L)))
    val wav = parseHeader(3L, makeWav(44100, 2))
    assert((wav.format, wav.sample_rate, wav.channels) === (("wav", 44100L, 2L)))
    // truncated containers and non-media bytes degrade to unknown, not a crash
    assert(parseHeader(4L, makePng(10, 10).take(10)).format === "unknown")
    assert(parseHeader(5L, Array[Byte](0xff.toByte, 0xd8.toByte)).format === "unknown")
    assert(parseHeader(6L, "plain text".getBytes("UTF-8")).format === "unknown")
    assert(parseHeader(7L, Array.emptyByteArray).format === "unknown")
  }

  test("token chunking: window boundaries, overlap, short and empty docs") {
    val d = docs(
      1L -> (1 to 10).map(i => s"w$i").mkString(" "), // 10 tokens
      2L -> "a b",                                    // shorter than a chunk
      3L -> "   ",                                    // whitespace-only: no chunks
      4L -> "x")
    val out = TextOps.chunk(d, chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1)
    // doc 1: starts 0,3,6,9 -> windows of 4,4,4,1 tokens
    assert(byDoc(1L).map(t => (t._2, t._3)).sorted ===
      Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 1L)))
    // exact window text is digested: chunk 1 = tokens 4..7
    val md5_47 = java.security.MessageDigest.getInstance("MD5")
      .digest("w4 w5 w6 w7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(1L).find(_._2 == 1L).get._4 === md5_47)
    assert(byDoc(2L).map(t => (t._2, t._3)) === Array((0L, 2L)))
    assert(!byDoc.contains(3L))
    assert(byDoc(4L).map(t => (t._2, t._3)) === Array((0L, 1L)))
  }

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("duplicated span extents merge overlapping/adjacent positions into cut ranges") {
    // "x y z" is the only corpus-duplicated 3-gram; every other gram is
    // unique. Extent rule (n=3): positions p < q merge when q - p <= 3.
    val d = docs(
      1L -> "x y z q r s x y z", // dup positions 0,6: gap 6 -> two extents
      2L -> "m x y z n x y z",   // dup positions 1,5: gap 4 -> two extents
      3L -> "x y z x y z w")     // dup positions 0,3: gap 3 -> ONE extent
    val out = Dedup.duplicatedSpanExtents(d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 2L, 1L), (1L, 1L, 6L, 8L, 1L),
      (2L, 0L, 1L, 3L, 1L), (2L, 1L, 5L, 7L, 1L),
      (3L, 0L, 0L, 5L, 2L)))
    // extents cover exactly the d09 dup positions: token count consistency
    val frac = Dedup.duplicatedNgramSpans(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val posPerDoc = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(posPerDoc === frac.filter(_._2 > 0))
  }

  test("hash sampling is deterministic, key-stable, and near the target rate") {
    val s = spark
    import s.implicits._
    val df = (0L until 4000L).toDF("k")
    val once = Sampling.hashBernoulli(df, col("k"), 0.25)
      .collect().map(_.getLong(0)).toSet
    val again = Sampling.hashBernoulli(df.repartition(7), col("k"), 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(once === again) // partition layout must not change the sample
    assert(math.abs(once.size / 4000.0 - 0.25) < 0.03)
    // rate 0 and 1 are exact
    assert(Sampling.hashBernoulli(df, col("k"), 0.0).count() === 0L)
    assert(Sampling.hashBernoulli(df, col("k"), 1.0).count() === 4000L)
  }

  test("stratified sampling applies per-stratum rates; missing strata drop") {
    val s = spark
    import s.implicits._
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("k", "g")
    val sampled = Sampling.stratified(df, col("g"), col("k"),
      Map("a" -> 1.0, "c" -> 0.5)).collect()
    // every 'a' kept (rate 1.0), every 'b' dropped (no rate)
    assert(sampled.forall(_.getString(1) == "a"))
    assert(sampled.length === 1000)
    // broadcast rates join: no shuffle of the data side
    val plan = Sampling.stratified(df, col("g"), col("k"), Map("a" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$plan")
  }

  test("temperature mixing flattens source shares; tau=1 is natural proportions") {
    val s = spark
    import s.implicits._
    // heavily imbalanced: src big=9000 rows, small=1000
    val df = (0L until 10000L)
      .map(i => (i, if (i % 10 == 9) "small" else "big"))
      .toDF("doc_id", "source")
    def shares(tau: Double): Map[String, Double] = {
      val kept = Sampling.temperatureMix(df, col("source"), col("doc_id"),
          tau, budget = 0.3)
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      val n = kept.values.sum
      kept.view.mapValues(_ / n).toMap
    }
    val natural = shares(1.0)
    val flat = shares(0.25)
    // tau=1 preserves the 90/10 split (within hash-sampling noise);
    // tau=0.25 pulls the small source's share up substantially
    assert(math.abs(natural("big") - 0.9) < 0.05, s"natural: $natural")
    assert(flat("small") > natural("small") + 0.1, s"$natural -> $flat")
    // budget respected (no up-sampling: kept <= budget*N + cap slack)
    val keptN = Sampling.temperatureMix(df, col("source"), col("doc_id"),
      0.25, 0.3).count()
    assert(keptN <= 3600, s"budget overshot: $keptN")
    // deterministic: repartitioning never changes the selection
    val a = Sampling.temperatureMix(df, col("source"), col("doc_id"), 0.5, 0.3)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMix(df.repartition(7), col("source"),
      col("doc_id"), 0.5, 0.3).collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("two-phase capPerGroup matches the single-window cap on skewed input") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy-tailed: group "hot" has 900 rows, the rest 10 each
    val rows = (0L until 900L).map(i => (i, "hot")) ++
      (0L until 100L).map(i => (900 + i, s"g${i / 10}"))
    val df = rows.toDF("k", "g").repartition(7) // phase 1 must see many partitions
    val capped = Sampling.capPerGroup(df, col("g"), col("k"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // reference: the naive exact single-window cap
    val w = Window.partitionBy(col("g")).orderBy(Sampling.bucket16(col("k")), col("k"))
    val naive = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(capped === naive)
    val perGroup = capped.groupBy(_._2).view.mapValues(_.size)
    assert(perGroup("hot") === 5)
    assert(perGroup.forall(_._2 <= 5))
  }

  test("semanticDedup refuses a cluster larger than maxClusterSize") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    // k=1 puts everything in one cluster — the degenerate clustering the
    // gate exists for; the pair join must never be constructed
    val e = intercept[IllegalArgumentException](
      Similarity.semanticDedup(emb, k = 1, tau = 0.35, maxClusterSize = 10))
    assert(e.getMessage.contains("quadratic"))
    // and a sane configuration still passes the gate and dedups
    val kept = Similarity.semanticDedup(emb, k = 8, tau = 0.35,
      maxClusterSize = 100000)
    assert(kept.count() > 0)
  }

  test("contamination screen flags benchmark texts and their exact duplicates") {
    val d = docs(
      1L -> "held out eval prompt",
      2L -> "held   OUT eval prompt", // normalizes to the same fingerprint
      3L -> "ordinary training text")
    val bench = d.filter(col("doc_id") === 1L)
      .select(TextOps.fingerprint(col("text")).as("fp"))
    val flags = Sampling.contaminationScreen(d,
        TextOps.fingerprint(col("text")), bench)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated"))
      .toMap
    assert(flags === Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("LM score ranks repetitive common text below rare-word gibberish") {
    // self-scored bigram model: a doc of corpus-frequent transitions gets
    // a LOW avg_nll; a doc of singleton words/transitions gets a HIGH one
    val common = Seq.fill(10)("the quick fox").mkString(" ")
    val d = docs(
      1L -> common,
      2L -> common,
      3L -> common,
      4L -> "zxq wvu ponm lkj ihg fed cba",
      5L -> "")
    val out = TextOps.lmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 === 30L) // token count = term count
    assert(out(4L)._1 === 7L)
    assert(out(1L)._2 < out(4L)._2,
      s"common text must score below gibberish: $out")
    assert(out(1L)._2 > 0.0)
    assert(out(5L) === ((0L, 0.0))) // empty doc: no terms, score 0
    // scoring against a separate reference corpus: unseen words survive
    // under add-alpha (left joins), scored at the smoothing floor
    val ref = docs(10L -> "totally different reference corpus text")
    val vsRef = TextOps.lmScore(d, refDocs = ref).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(vsRef(1L) > out(1L)._2) // common-in-self is rare-in-ref
  }

  test("perplexity gate: approx default matches exact at full retention, bounded band under compression") {
    val s = spark
    import s.implicits._
    // 3000 docs with spread-out avg_nll: word frequencies vary with i so
    // transition probabilities (and scores) differ across docs
    val d = (1 to 3000).map { i =>
      (i.toLong, s"w${i % 7} w${i % 61} w${i % 211} w${i % 997} w${i % 13}")
    }.toDF("doc_id", "text")
    def keepSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = keepSet(TextOps.perplexityGate(d, 0.9, exact = true))
    // full retention (n < accuracy): the GK summary is lossless and the
    // production default IS the exact gate — this is the property that
    // makes t15b oracle-checkable
    val approx = keepSet(TextOps.perplexityGate(d, 0.9))
    assert(approx === exact)
    // forced compression (accuracy 50 « n): agreement everywhere except
    // a bounded band at the cut. GK's rank error is ≤ n/accuracy, so any
    // disagreeing doc must sit within 2·n/accuracy ranks of the cut.
    val coarse = keepSet(TextOps.perplexityGate(d, 0.9, accuracy = 50))
    val ranked = TextOps.lmScore(d).orderBy(col("avg_nll"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0))
    val rankOf = ranked.zipWithIndex.toMap
    val n = ranked.length
    val cut = math.ceil(0.9 * n).toInt
    val band = 2 * n / 50
    val disagree = (coarse diff exact) union (exact diff coarse)
    disagree.foreach { id =>
      assert(math.abs(rankOf(id) - cut) <= band,
        s"doc $id disagrees at rank ${rankOf(id)}, cut $cut, band $band")
    }
    // the coarse keep-set is still downward-closed in avg_nll (a value
    // threshold can never keep a worse doc while dropping a better one)
    val scores = TextOps.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val keptMax = coarse.map(scores).max
    val dropMin = (scores.keySet diff coarse).map(scores).min
    assert(keptMax <= dropMin ||
        scores.values.toSeq.count(_ == keptMax) > 1,
      s"approx gate kept a doc scoring $keptMax past a dropped $dropMin")
  }

  test("span excision cuts exactly the extent tokens and digests the remainder") {
    val d = docs(
      1L -> "x y z q r s x y z", // extents (0,2),(6,8) -> kept "q r s"
      2L -> "m x y z n x y z",   // extents (1,3),(5,7) -> kept "m n"
      3L -> "x y z x y z w")     // extent (0,5)        -> kept "w"
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Dedup.exciseSpans(d, Dedup.duplicatedSpanExtents(d))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((9L, 6L, md5hex("q r s"))))
    assert(out(2L) === ((8L, 6L, md5hex("m n"))))
    assert(out(3L) === ((7L, 6L, md5hex("w"))))
    // a doc with no extents survives byte-identical
    val clean = docs(9L -> "totally unique words only")
    val kept = Dedup.exciseSpans(clean, Dedup.duplicatedSpanExtents(clean))
      .head
    assert(kept.getLong(2) === 0L)
    assert(kept.getString(3) === md5hex("totally unique words only"))
  }

  test("product quantization: m codes per vector, deterministic, seeds self-assign") {
    import graft.operators.Quantize
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count()
    val pq = Quantize.productQuantize(emb, m = 4, k = 16, iters = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(pq.length === 4 * n)
    assert(pq.map(_._2).toSet === Set(0L, 1L, 2L, 3L))
    // codes are (a subset of) the seed ids; distances non-negative
    assert(pq.forall(t => t._3 >= 0L && t._3 < 16L))
    assert(pq.forall(_._4 >= 0.0))
    // refit is bit-identical (deterministic seeds/update/ties)
    val again = Quantize.productQuantize(emb, m = 4, k = 16, iters = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(pq.sortBy(t => (t._1, t._2)).toSeq ===
      again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("PQ-ADC top-k: valid ranks, monotone distances, real recall vs exact L2") {
    import graft.functions.NativeFunctions
    val emb = Tables.load(spark, sf0001, "embeddings")
    NativeFunctions.register(spark)
    val pq = Similarity.pqTopK(emb, col("vec_id") < 5, k = 10, dim = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pq.length === 5 * 10)
    pq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to 10L), s"ranks off for q$q")
      // distance non-decreasing in rank
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
      assert(!rows.exists(_._2 == q)) // query never its own neighbor
    }
    // recall@10 against the exact L2 neighbors (same metric ADC
    // approximates): the clustered fixture should land most of them
    import org.apache.spark.sql.expressions.Window
    val q5 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .crossJoin(broadcast(q5)).filter(col("nid") =!= col("qid"))
      .withColumn("d2", call_function("l2_sq", col("qv"), col("nv")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))))
      .filter(col("rk") <= 10)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val got = pq.map(t => (t._1, t._2)).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, f"PQ-ADC+rerank recall@10 too low: $recall%.2f")
    // recall is a refine-knob dial: a deeper ADC short list recovers more
    // of the exact neighbors (the §V trade — short-list size vs recall)
    val deeper = Similarity.pqTopK(emb, col("vec_id") < 5, k = 10, dim = 64,
        refine = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deepRecall = deeper.intersect(exact).size.toDouble / exact.size
    assert(deepRecall >= recall && deepRecall >= 0.8,
      f"deeper refine must raise recall: $recall%.2f -> $deepRecall%.2f")
    // IVF-PQ composes coarse cell pruning with residual codes: the
    // residual spread inside a cell is far smaller than the raw vectors',
    // so the same code budget quantizes finer — recall must not fall
    // below plain PQ-ADC's despite touching only the probed cells
    val ivfpq = Similarity.ivfPqTopK(emb, col("vec_id") < 5, k = 10,
        nProbe = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ivfpq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length.toLong))
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
      assert(!rows.exists(_._2 == q))
    }
    val ivfpqRecall = ivfpq.map(t => (t._1, t._2)).toSet
      .intersect(exact).size.toDouble / exact.size
    info(f"a05 PQ-ADC recall $recall%.2f vs a06 IVF-PQ recall $ivfpqRecall%.2f")
    assert(ivfpqRecall >= recall,
      f"IVF-PQ recall $ivfpqRecall%.2f fell below plain PQ-ADC $recall%.2f")
    // deterministic refit end to end
    val again = Similarity.pqTopK(emb, col("vec_id") < 5, k = 10, dim = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pq.sortBy(t => (t._1, t._3)).toSeq ===
      again.sortBy(t => (t._1, t._3)).toSeq)
  }

  test("n-gram contamination flags partial leakage the whole-doc screen misses") {
    val evalText = "what is the capital of atlantis askers want to know"
    val d = docs(
      1L -> evalText,                                       // the eval doc itself
      2L -> ("intro paragraph " + evalText + " outro text"), // QUOTES the eval doc
      3L -> "completely unrelated training document text here",
      4L -> "a b") // fewer than 3 tokens: zero grams, not contaminated
    val bench = d.filter(col("doc_id") === 1L)
    val out = Sampling.ngramContaminationScreen(d, bench)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(4)))).toMap
    assert(out(1L)._3 && out(1L)._1 === out(1L)._2) // fully contaminated
    assert(out(2L)._3 && out(2L)._2 > 0 && out(2L)._2 < out(2L)._1) // partial
    assert(!out(3L)._3 && out(3L)._2 === 0L)
    assert(out(4L) === ((0L, 0L, false)))
    // the whole-document fingerprint screen misses doc 2 (different md5)
    val fpFlags = Sampling.contaminationScreen(d,
        TextOps.fingerprint(col("text")),
        bench.select(TextOps.fingerprint(col("text")).as("fp")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated"))
      .toMap
    assert(fpFlags(1L) && !fpFlags(2L))
    // scale shape: the eval side broadcasts; no corpus-gram shuffle join
    val plan = Sampling.ngramContaminationScreen(d, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench set not broadcast:\n$plan")
  }

  test("bloom decontamination matches the exact broadcast screen bit for bit") {
    val evalText = "what is the capital of atlantis askers want to know today"
    val d = docs(
      1L -> evalText,
      2L -> ("intro paragraph " + evalText + " outro text closing words"),
      3L -> "completely unrelated training document text here for testing",
      4L -> "a b c d") // fewer than 5 tokens: zero 5-grams
    val bench = d.filter(col("doc_id") === 1L)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).sortBy(_._1).toSeq
    // exact parity with the broadcast-path screen at the same n — the
    // bloom is a prefilter, never part of the answer
    assert(canon(Sampling.bloomNgramDecontaminate(d, bench, n = 5)) ===
      canon(Sampling.ngramContaminationScreen(d, bench, n = 5)))
    // ...and that holds at a sloppy fpp too (more false positives into
    // the exact join, same output)
    assert(canon(Sampling.bloomNgramDecontaminate(d, bench, n = 5, fpp = 0.5)) ===
      canon(Sampling.ngramContaminationScreen(d, bench, n = 5)))
    // scale shape: the exact verify join is the hinted shuffle join (the
    // operator exists for the eval set that can't broadcast), and the
    // bloom gate sits below it as a Filter on the corpus gram stream
    val plan = Sampling.bloomNgramDecontaminate(d, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"exact join not shuffled:\n$plan")
  }

  test("MMR demotes the near-duplicate neighbor a plain top-k keeps") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Seq(1f, 1f), 0),        // query
      (1L, Seq(2f, 1.9f), 0),      // most relevant
      (2L, Seq(2.001f, 1.9f), 0),  // near-duplicate of 1
      (3L, Seq(-1.9f, 2f), 0))     // diverse, low relevance
      .toDF("vec_id", "embedding", "label")
    val plain = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 3)
      .collect().sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(plain === Seq(1L, 2L, 3L), "plain ranking should keep the dup at 2")
    // at a diversity-heavy λ the near-dup's max-sim-to-selected penalty
    // (~1.0) pushes it below the orthogonal candidate
    val mmr = Similarity.mmrTopK(emb, col("vec_id") === 0, k = 3, pool = 3,
        lambda = 0.3)
      .collect().sortBy(_.getLong(2)).map(r => (r.getLong(2), r.getLong(1))).toSeq
    assert(mmr === Seq((1L, 1L), (2L, 3L), (3L, 2L)),
      s"MMR should pick the diverse candidate second: $mmr")
  }

  test("readability counts words/sentences/vowel-group syllables per the formula") {
    val d = docs(1L -> "The cat sat. It ran!", 2L -> "")
    val out = TextOps.readability(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // 5 words, 2 sentences, 5 vowel groups (e,a,a,i,a):
    // 206.835 - 1.015*2.5 - 84.6*1.0 = 119.6975
    assert(out(1L) === ((5L, 2L, 5L, 119.6975)))
    assert(out(2L) === ((0L, 1L, 0L, 0.0)))
  }

  test("image resize resamples decoded pixels exactly; codecs agree; junk degrades") {
    import graft.operators.Multimodal
    // id=5 gradient: w=13, h=23, base=5, G=35, B=65; R(i) = 5 + (i*13)/4
    val img = Multimodal.makeImage(5L)
    val png = Multimodal.decodeResize(1L, Multimodal.encodeImage(img, "png"), 4, 3)
    val bmp = Multimodal.decodeResize(2L, Multimodal.encodeImage(img, "bmp"), 4, 3)
    assert(png.pixels === bmp.pixels && png.pixels.nonEmpty,
      "codec choice must not change the resampled pixels")
    assert((png.src_w, png.src_h, png.out_w, png.out_h) === ((13L, 23L, 4L, 3L)))
    assert(png.pixels.split(";").take(4).toSeq ===
      Seq("5:35:65", "8:35:65", "11:35:65", "14:35:65"))
    assert(Multimodal.decodeResize(3L, Array[Byte](1, 2, 3), 4, 3).pixels === "")
  }

  test("mp4 box walk inverts the container; adversarial boxes degrade, never throw") {
    import graft.operators.Multimodal
    val b = Multimodal.makeMp4("mp42", timescale = 1200, duration = 90000,
      width = 640, height = 360)
    val h = Multimodal.parseMp4(1L, b)
    assert(h === Multimodal.Mp4Header(1L, "mp42", 1200L, 75000L, 640L, 360L, 6L))
    // truncated mid-moov: the box runs past the buffer → degrade
    assert(Multimodal.parseMp4(2L, b.take(100)).brand === "")
    // declared size < 8 (a loop bomb in a naive walker) → degrade
    val loop = b.clone(); loop(0) = 0; loop(1) = 0; loop(2) = 0; loop(3) = 4
    assert(Multimodal.parseMp4(3L, loop).brand === "")
    // version-1 mvhd (64-bit times this v0 parser doesn't speak):
    // timescale never parses → degrade rather than misread offsets
    val v1 = b.clone(); v1(20 + 12 + 8 + 8) = 1
    assert(Multimodal.parseMp4(4L, v1).brand === "")
    // trailing garbage that is not a whole box → degrade
    assert(Multimodal.parseMp4(5L, b ++ Array[Byte](1, 2, 3)).brand === "")
    // empty / sub-header input → degrade
    assert(Multimodal.parseMp4(6L, Array.emptyByteArray).brand === "")
  }

  test("vocab coverage counts OOV occurrences against the deterministic top-k cut") {
    val d = docs(
      1L -> "common common common rare",   // 'common' freq 3+2, 'rare' freq 1
      2L -> "common common other",         // 'other' freq 1
      3L -> "")                            // no tokens
    // vocabSize 2 keeps {common, other} (count desc, then word asc ties:
    // other vs rare both count 1 → 'other' wins alphabetically)
    val out = TextOps.vocabCoverage(d, vocabSize = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((4L, 1L, 0.25))) // 'rare' is the one OOV occurrence
    assert(out(2L) === ((3L, 0L, 0.0)))
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("trained classifier separates disjoint-vocabulary classes deterministically") {
    val s = spark
    import s.implicits._
    val pos = Seq("alpha beta gamma delta", "beta gamma epsilon alpha",
      "gamma delta alpha beta", "delta epsilon beta gamma")
    val neg = Seq("uno dos tres cuatro", "dos tres cinco uno",
      "tres cuatro uno dos", "cuatro cinco dos tres")
    val d = (pos.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
      neg.zipWithIndex.map { case (t, i) => (100L + i, t, "es") })
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.Classifier.trainScore(d, col("lang") === "en")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val posScores = out.filter(_._2 == 1L).map(_._3)
    val negScores = out.filter(_._2 == 0L).map(_._3)
    assert(posScores.min > negScores.max,
      s"classes not separated: pos=${posScores.toSeq} neg=${negScores.toSeq}")
    out.foreach { case (id, label, score, pred) =>
      assert(pred === (label == 1L), s"doc $id: score $score mispredicts")
    }
    // rerun-determinism: the integer-quantized GD loop has no float drift
    val again = graft.operators.Classifier.trainScore(d, col("lang") === "en")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // scoring is a pure narrow map: no Exchange in the scored plan
    val (w, b) = graft.operators.Classifier.trainLogistic(d, col("lang") === "en")
    val plan = graft.operators.Classifier.score(d, col("lang") === "en", w, b, 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring should be narrow:\n$plan")
  }

  test("containment flags a short doc quoted inside a long one; jaccard misses it") {
    val quoted = "the quick brown fox jumps over the lazy dog every single day"
    val filler = (1 to 60).map(i => s"filler$i").mkString(" ")
    val d = docs(
      1L -> quoted,                       // 10 shingles, all inside doc 2
      2L -> (filler + " " + quoted),      // long wrapper
      3L -> "nothing in common with anything else here at all")
    val cont = graft.operators.Dedup.containmentPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (cab, cba, mx) = cont((1L, 2L))
    assert(cab > 0.8, s"short-in-long containment should be ~1, got $cab")
    assert(cba < 0.5, s"long-in-short containment should be small, got $cba")
    assert(mx === math.max(cab, cba))
    assert(!cont.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the same pair under Jaccard ranks LOW — the union is filler-dominated
    val jac = graft.operators.Dedup.ngramJaccardPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) < 0.3, s"jaccard should bury this pair: ${jac((1L, 2L))}")
  }

  test("epoch mix repeats data-constrained sources and caps at maxEpochs") {
    val s = spark
    import s.implicits._
    val d = (0L until 4L).map(i => (i, "over", 100L)) ++
      (10L until 14L).map(i => (i, "under", 100L)) ++
      (20L until 24L).map(i => (i, "untargeted", 100L))
    val df = d.toDF("doc_id", "src", "sz")
    // sumW=4, budget=800: "over" share 600 vs size 400 → r=1.5 (1 full +
    // 0.5 frac); "under" share 200 vs 400 → r=0.5 (0 full + 0.5 frac)
    val out = Sampling.epochMix(df, col("src"), col("doc_id"), col("sz"),
        Map("over" -> 3.0, "under" -> 1.0), budget = 800.0, maxEpochs = 4)
      .select(col("doc_id"), col("src"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._3).sorted.toSeq }
    // every "over" doc gets epoch 0; its optional extra epoch is exactly 1
    (0L until 4L).foreach { id =>
      assert(byDoc.contains(id) && byDoc(id).head === 0L)
      assert(byDoc(id) === (0L until byDoc(id).size.toLong)) // contiguous
      assert(byDoc(id).size <= 2)
    }
    // "under" docs appear at most once, only epoch 0
    (10L until 14L).foreach { id =>
      assert(byDoc.get(id).forall(_ === Seq(0L)))
    }
    // untargeted source is dropped entirely
    assert(out.forall(_._2 !== "untargeted"))
    // cap: a source whose allocation dwarfs its size repeats EXACTLY
    // maxEpochs times — r = min(maxEpochs, huge) has no fractional part
    val capped = Sampling.epochMix(df.filter(col("src") === "over"),
        col("src"), col("doc_id"), col("sz"),
        Map("over" -> 1.0), budget = 1e9, maxEpochs = 4)
      .groupBy(col("doc_id")).count().collect()
    assert(capped.nonEmpty && capped.forall(_.getLong(1) === 4L))
  }

  test("sequence packing fills packs in order within the budget") {
    val s = spark
    import s.implicits._
    // 10 docs of 200 tokens each, one shard: budget 512 => packs of
    // ceil-ish fill: prior 0,200,400 -> pack 0; 600,800,1000 -> pack 1...
    val d = (0L until 10L).map(i => (i, Seq.fill(200)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = graft.operators.Packing.packByBudget(d, budget = 512,
        shardSize = 100)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pack_id")).toMap
    assert(packed === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 2L, 7L -> 2L, 8L -> 3L, 9L -> 3L))
    // pack ids are monotone in doc order and shard-local
    val sharded = graft.operators.Packing.packByBudget(d, 512, shardSize = 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    assert(sharded.map(_._2) === Set(0L, 1L))
    // carry columns ride through the pack window untouched, with the
    // same pack assignment as the carry-free run (the rider-join
    // replacement in Curation.pretrainPipeline depends on both)
    val dSrc = d.withColumn("src",
      concat(lit("s"), (col("doc_id") % 2).cast("string")))
    val carried = graft.operators.Packing.packByBudget(dSrc, budget = 512,
        shardSize = 100, carry = Seq("src"))
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("src"),
        r.getAs[Long]("pack_id"))).toMap
    assert(carried.keySet === packed.keySet)
    carried.foreach { case (id, (src, pack)) =>
      assert(src === s"s${id % 2}")
      assert(pack === packed(id))
    }
  }

  test("int8 quantization bounds reconstruction error by half a step per dim") {
    import graft.operators.Quantize
    val emb = Tables.load(spark, sf0001, "embeddings")
    val stats = Quantize.int8Stats(emb)
    val q = Quantize.int8(emb)
    // all quantized values are in [0, 255]
    val range = q.select(explode(col("qvec")).as("q"))
      .agg(min("q"), max("q")).head
    assert(range.getLong(0) >= 0L && range.getLong(1) <= 255L)
    // dequantized error per dimension <= (mx-mn)/255/2 (+ fp eps)
    val err = emb.join(q, "vec_id")
      .select(aggregate(
          zip_with(col("embedding"),
            Quantize.dequantize(col("qvec"), stats),
            (a, b) => abs(a.cast("double") - b)),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"))
      .agg(max("max_err")).head.getDouble(0)
    val maxStep = stats.map { case (mn, mx) => (mx - mn) / 255.0 / 2.0 }.max
    assert(err <= maxStep + 1e-9, s"err $err > half-step $maxStep")
  }

  test("exact dedup groups identical texts under the min doc_id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val got = Dedup.exact(d).collect().map(r =>
      (r.getLong(0), r.getAs[Long]("canonical_id"), r.getAs[Long]("group_size"))).toSet
    assert(got === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs produce no pair") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely different words here with nothing shared at all")
    val pairs = Dedup.ngramJaccardPairs(d).collect()
      .map(r => ((r.getAs[Long]("a"), r.getAs[Long]("b")), r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("duplicated ngram spans: shared spans flag positions, unique text scores 0") {
    // doc 1 and 2 share the 5-token prefix (3 shared trigram positions);
    // doc 3 repeats its own trigram (within-doc repeats count); doc 4 is
    // all-unique; doc 5 is too short for any trigram.
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon omega",
      3L -> "one two three one two three",
      4L -> "completely unique words never repeated anywhere else",
      5L -> "tiny doc")
    val got = Dedup.duplicatedNgramSpans(d, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((4L, 3L, 0.75)))
    assert(got(2L) === ((4L, 3L, 0.75)))
    // "one two three" appears twice; "two three one"/"three one two" once
    assert(got(3L) === ((4L, 2L, 0.5)))
    assert(got(4L)._2 === 0L && got(4L)._3 === 0.0)
    assert(got(5L) === ((0L, 0L, 0.0)))
  }

  test("positional shingle hashes keep duplicates; distinct form dedups") {
    val s = spark
    graft.functions.NativeFunctions.register(s)
    val d = docs(1L -> "a b a b a b")
    val row = d.select(
      size(call_function("shingle_hashes_all", col("text"), lit(2))).as("all"),
      size(call_function("shingle_hashes", col("text"), lit(2))).as("dst"))
      .head()
    assert(row.getInt(0) === 5) // positions: ab ba ab ba ab
    assert(row.getInt(1) === 2) // distinct: ab, ba
  }

  test("heuristic filter flags short, repetitive and stopword-free docs") {
    val stopRich = "the cat sat on a mat and looked to the road for a while " +
      "with its friends in the sun on a warm day of summer is nice " +
      "every word here adds variety so nothing repeats too much overall"
    val d = docs(
      1L -> stopRich,                                 // passes everything
      2L -> "too short",                              // flag_len
      3L -> ("spam " * 40).trim,                      // repetitive + no stops
      4L -> (Seq.fill(40)("internationalization").mkString(" ")))
    val got = TextOps.heuristicFilter(d, minWords = 20, maxWords = 1000)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Boolean]("flag_len") && !got(2L).getAs[Boolean]("keep"))
    assert(got(3L).getAs[Boolean]("flag_repetitive")
      && got(3L).getAs[Boolean]("flag_no_stop"))
    // 20-char words: mean word length out of [3, 10]
    assert(got(4L).getAs[Boolean]("flag_word_len") && !got(4L).getAs[Boolean]("keep"))
  }

  test("tfidf ranks rare terms above ubiquitous ones") {
    val d = docs(
      1L -> "common common common rare",
      2L -> "common filler words here",
      3L -> "common other text again")
    val got = TextOps.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // 'common' appears in every doc (df=3 → lowest idf); 'rare' only in doc
    // 1 (df=1 → highest idf) and must outrank it despite tf 1 vs 3? No:
    // tf(common)=3 × (ln(4/4)+1)=3.0 vs tf(rare)=1 × (ln(4/2)+1)≈1.69 —
    // raw-count tf keeps the triple-repeated term first; rare ranks second.
    assert(got((1L, 1L)) === "common")
    assert(got((1L, 2L)) === "rare")
    // in docs 2/3 every term has tf=1, so df decides: 'common' (df=3,
    // idf lowest) ranks LAST among the doc's terms
    assert(got((2L, 1L)) !== "common")
  }

  test("curation drops low-quality, exact-dup and near-dup docs") {
    import spark.implicits._
    // quality needs length saturation: >=30 non-stop tokens to clear 0.3
    val long1 = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"omega$i").mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(40)("the of and to in").mkString(" ")), // stopwords -> quality 0
      (2L, long1),
      (3L, long1), // exact dup of 2
      (4L, long2)).toDF("doc_id", "text")
    val kept = graft.operators.Curation.curate(docs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L)) // 1 low quality, 3 deduped to 2
  }

  test("pretrain pipeline: every stage drops its target; packing covers survivors") {
    import spark.implicits._
    // >=40 words, mean length in [3.5,10], >=2 distinct stopwords, so the
    // heuristic filter passes; the two stopwords sit at the front where a
    // tail edit can't touch them
    def goodText(stem: String): String =
      ("the of " + (1 to 40).map(i => s"$stem$i").mkString(" "))
    val base = goodText("alpha")
    val nearDup = base.split(" ").dropRight(1).mkString(" ") + " flipped"
    val benchText = goodText("evalset")
    val docs = Seq(
      (1L, "too short", "src_a"),                         // stage 1: length
      (2L, base, "src_a"),
      (3L, base, "src_a"),                                // stage 2: exact dup of 2
      (4L, nearDup, "src_b"),                             // stage 3: near dup of 2
      (5L, benchText, "src_b"),                           // stage 4: contaminated
      (6L, goodText("beta"), "src_b"),
      (7L, goodText("gamma"), "src_c")).toDF("doc_id", "text", "source")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    // tau=1 + budget=1 make the mix stage an identity (rate 1 per source),
    // so survival is decided purely by the cleaning stages
    val out = graft.operators.Curation.pretrainPipeline(docs, bench,
        tau = 1.0, budget = 1.0, packBudget = 30, shardSize = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet === Set(2L, 6L, 7L))
    // shard-local greedy packing over the survivors in doc_id order:
    // pack_id = floor(prior BPE tokens / budget), prior in doc_id order
    assert(out.keySet.forall(id => out(id)._3 === 0L)) // one shard
    assert(out.values.forall(_._2 > 40L)) // BPE splits the made-up words
    assert(out(2L)._4 === 0L)
    assert(out(6L)._4 === out(2L)._2 / 30L)
    assert(out(7L)._4 === (out(2L)._2 + out(6L)._2) / 30L)
    assert(out(2L)._1 === "src_a" && out(7L)._1 === "src_c")
    // the durable-checkpoint seam: a parquet round-trip hook must fire at
    // the three multi-consumer stage boundaries (post-exact-dedup,
    // post-near-dup, post-decontamination — the τ-mix output has exactly
    // one consumer since `source` carries through the pack window, so it
    // takes no boundary) and leave the result unchanged
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    var fired = 0
    val durable: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        fired += 1
        val p = s"$dir/stage$fired"
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
    val viaParquet = graft.operators.Curation.pretrainPipeline(docs, bench,
        tau = 1.0, budget = 1.0, packBudget = 30, shardSize = 100,
        checkpoint = durable)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(fired === 3)
    assert(viaParquet === out)
  }

  test("bpe training learns hand-computable merges; learned file round-trips through apply") {
    import spark.implicits._
    // corpus "aaab aaab ab": histogram aaab->2, ab->1
    //   stage 1 pairs: (a,a) 2*2=4, (a,b) 2+1=3  -> merge (a,a), count 4
    //   stage 2: aaab=[aa,a,b]: (aa,a) 2, (a,b) 2; ab: (a,b) 1 -> (a,b), 3
    //   stage 3: aaab=[aa,ab]: (aa,ab) 2                       -> (aa,ab), 2
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = graft.operators.TextOps.bpeTrain(docs, nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // after stage 3 every word is a single symbol: pairs exhaust before
    // the requested 5 merges — early stop, not a crash
    assert(merges === Array((1L, "a", "a", 4L), (2L, "a", "b", 3L),
      (3L, "aa", "ab", 2L)))
    // the learned list is a VALID merges file (constituents produced by
    // earlier merges), so the greedy apply expression consumes it directly
    val content = merges.map { case (_, l, r, _) => s"$l $r" }.mkString("\n")
    val table = graft.functions.BpeOps.table(content)
    assert(table.tokenizeWord("aaab").toSeq === Seq("aaab"))
    assert(table.tokenizeWord("ab").toSeq === Seq("ab"))
    assert(table.tokenizeWord("ba").toSeq === Seq("b", "a"))
  }

  test("skew-safe exact distinct count matches countDistinct") {
    import spark.implicits._
    // NULL values must be ignored (countDistinct semantics); a key with
    // only NULL values must not appear
    val df = Seq(("a", Some(1)), ("a", Some(1)), ("a", Some(2)), ("a", None),
      ("b", Some(9)), ("b", Some(9)), ("c", None)).toDF("k", "v")
    val rewritten = graft.operators.Skew.exactDistinctCount(df, col("k"), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reference = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0) // countDistinct keeps all-NULL keys with n=0
    assert(rewritten === reference)
    assert(rewritten === Map("a" -> 2L, "b" -> 1L))
    // stage-1 shuffle spreads on (key, value), not key alone
    val plan = graft.operators.Skew.exactDistinctCount(df, col("k"), col("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(key"))
  }

  test("minhash LSH finds identical docs with estimated jaccard 1.0") {
    val d = docs(
      1L -> "one two three four five six seven eight nine ten",
      2L -> "one two three four five six seven eight nine ten",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val pairs = Dedup.minhashLshPairs(d).collect()
      .map(r => ((r.getAs[Long]("a"), r.getAs[Long]("b")), r.getAs[Double]("est_jaccard"))).toMap
    assert(pairs((1L, 2L)) === 1.0)
  }

  test("simhash: identical docs share signatures; signature is 16 bits") {
    val d = docs(1L -> "red green blue", 2L -> "red green blue", 3L -> "cat dog bird fish")
    val sig = Dedup.simhash(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sig(1L) === sig(2L))
    assert(sig.values.forall(s => s.length == 16 && s.forall(c => c == '0' || c == '1')))
  }

  test("brute-force ANN returns k distinct ranked neighbors per query") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val got = Similarity.bruteForceTopK(emb, col("vec_id") < 3, 10).collect()
    val perQ = got.groupBy(_.getAs[Long]("qid"))
    assert(perQ.keySet === Set(0L, 1L, 2L))
    perQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
      assert(rows.map(_.getAs[Long]("nid")).distinct.length === 10)
      assert(rows.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.0001))
    }
  }

  test("IVF ANN recall@10 overlaps brute force") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 3, 10).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    val approx = Similarity.ivfTopK(emb, col("vec_id") < 3, 10, 2).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    // probing 2 of 10 cells must still surface some true neighbors
    val recall = exact.keys.map(q =>
      (exact(q) intersect approx.getOrElse(q, Set.empty)).size / 10.0).sum / exact.size
    assert(recall > 0.0, s"IVF recall was zero: $approx vs $exact")
  }

  test("LSH ANN recall@10 overlaps brute force; ranks are dense per query") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 3, 10).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    val approx = Similarity.lshTopK(emb, col("vec_id") < 3, 10, dim = 64)
      .collect().groupBy(_.getAs[Long]("qid"))
    approx.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length)) // dense, no gaps
    }
    val approxIds = approx.view.mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    val recall = exact.keys.map(q =>
      (exact(q) intersect approxIds.getOrElse(q, Set.empty)).size / 10.0)
      .sum / exact.size
    info(f"a03 LSH ANN recall@10 vs brute force: $recall%.3f")
    // A real measured floor (deterministic md5 planes + fixed fixture ->
    // the same number every run: 0.533), not the former recall > 0 smoke
    // check. Why it can't be ~0.9 like d06's: d06 measures recall of PAIRS
    // ABOVE a cosine threshold (0.35+, where the 64/16 band curve is near
    // 1); top-10 ANN must also surface a query's more-distant true
    // neighbors, which on this near-orthogonal fixture sit at cos ~ 0
    // where band-collision probability drops to ~0.6 — the standard LSH
    // ANN trade, bought back in production by multi-probe or more bands.
    assert(recall >= 0.5, f"LSH ANN recall $recall%.3f below measured floor 0.5")
  }

  test("explicit dim skips the per-invocation first-row probe job") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    def countJobs(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        var last = -1
        var spins = 0
        while (n.get != last && spins < 40) {
          last = n.get; spins += 1; Thread.sleep(100)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val without = countJobs {
      Similarity.nearDupPairsLsh(emb, 0.35).count(); ()
    }
    val withDim = countJobs {
      Similarity.nearDupPairsLsh(emb, 0.35, dim = 64).count(); ()
    }
    info(s"jobs with probe: $without, with explicit dim: $withDim")
    assert(withDim < without,
      s"explicit dim should save the probe job: $withDim vs $without")
  }

  test("approximate aggregates land within sketch error of exact answers") {
    val li = Tables.load(spark, sf001, "lineitem")
    val row = queries.Registry.byName("f02_approx_aggregates")
      .run(spark, sf001).head
    // exact companions match independently computed exact answers
    val exactOrders = li.select(countDistinct(col("l_orderkey"))).head.getLong(0)
    val exactParts = li.select(countDistinct(col("l_partkey"))).head.getLong(0)
    assert(row.getAs[Long]("exact_orders") === exactOrders)
    assert(row.getAs[Long]("exact_parts") === exactParts)
    // every sketch sits within 5% of its exact answer (the same booleans
    // the DuckDB oracle pins to TRUE)
    Seq("approx_orders_ok", "approx_parts_ok", "p50_ok", "p95_ok").foreach(c =>
      assert(row.getAs[Boolean](c), s"$c was false"))
    // percentiles: p50 below p95, both within the observed value range
    val (lo, hi) = (row.getAs[Double]("p50_price"), row.getAs[Double]("p95_price"))
    assert(lo < hi)
    val bounds = li.agg(min(col("l_extendedprice")).cast("double"),
      max(col("l_extendedprice")).cast("double")).head
    assert(lo >= bounds.getDouble(0) && hi <= bounds.getDouble(1))
  }

  test("funnel counts stages only strictly after the previous stage") {
    val s = spark
    import s.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    val events = Seq(
      // user 1: view(1) -> click(5) -> purchase(9): full funnel
      (1L, "view", ts(1)), (1L, "click", ts(5)), (1L, "purchase", ts(9)),
      // user 2: click BEFORE any view — the click must not count
      (2L, "click", ts(1)), (2L, "view", ts(5)),
      // user 3: purchase before click: stage stops at click
      (3L, "view", ts(1)), (3L, "purchase", ts(2)), (3L, "click", ts(6)),
      // user 4: nothing relevant
      (4L, "error", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val out = graft.streaming.EventStream
      .funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
  }

  test("language-ID picks the language with most marker hits") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the cat is on the mat and the dog is here", "en"),
      (2L, "der hund und die katze und das haus ist da", "de"),
      (3L, "zzz qqq www eee rrr", "fr")).toDF("doc_id", "text", "lang")
    val got = TextOps.langId(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "und")
  }

  test("real ImageIO decode: PNG/BMP pixel means and dims survive the codec round-trip") {
    val d = docs(6L -> "even png", 7L -> "odd bmp")
    val got = Multimodal.decodeImageFeatures(
        spark, Multimodal.documentsAsImages(spark, d))
      .collect().map(f => f.doc_id -> f).toMap
    val png = got(6L) // id=6: w=14, h=26, base=6, g=42, b=78
    assert(png.format === "png")
    assert((png.width, png.height, png.channels, png.n_frames) === ((14L, 26L, 3L, 1L)))
    assert(png.mean_r === 6.0 + 13 / 2.0) // gradient base + (w-1)/2
    assert(png.mean_g === 42.0 && png.mean_b === 78.0)
    val bmp = got(7L) // id=7: w=15, h=29, base=7, g=49, b=91
    assert(bmp.format === "bmp")
    assert((bmp.width, bmp.height) === ((15L, 29L)))
    assert(bmp.mean_r === 7.0 + 14 / 2.0)
    assert(bmp.mean_g === 49.0 && bmp.mean_b === 91.0)
  }

  test("real ImageIO decode: animated GIF true frame count + undecodable bytes degrade") {
    val gif = Multimodal.decodeImage(3L, Multimodal.makeAnimatedGif(5))
    assert(gif.format === "gif" && gif.n_frames === 5L)
    val junk = Multimodal.decodeImage(4L, "not an image".getBytes("UTF-8"))
    assert(junk.format === "unknown" && junk.width === 0L)
    val trunc = Multimodal.decodeImage(5L,
      Multimodal.encodeImage(Multimodal.makeImage(5L), "png").take(30))
    // concrete degrade contract: a truncated container decodes to unknown
    assert(trunc.format === "unknown")
    assert((trunc.width, trunc.height, trunc.n_frames) === ((0L, 0L, 0L)))
  }

  test("perceptual hash: brightness-shift invariant, format invariant, structure sensitive") {
    // aHash thresholds against the image's OWN mean, so a global
    // brightness shift (different base, same gradient/dims: ids 24 apart
    // share w/h — 48 apart shares gradient exactly) must not change it
    val a = Multimodal.decodePhash(
      Multimodal.encodeImage(Multimodal.makeImage(2L), "png"))
    val shifted = Multimodal.decodePhash(
      Multimodal.encodeImage(Multimodal.makeImage(50L), "png")) // +48: same w/h
    assert(a.length === 64 && a === shifted,
      s"brightness shift changed the hash:\n$a\n$shifted")
    // lossless re-encode in another container: identical pixels → identical hash
    val bmp = Multimodal.decodePhash(
      Multimodal.encodeImage(Multimodal.makeImage(2L), "bmp"))
    assert(a === bmp, "container format leaked into the hash")
    // structurally different image (vertical gradient) → different hash
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, (y * 12) << 16)
    val vert = Multimodal.decodePhash(Multimodal.encodeImage(img, "png"))
    assert(vert !== a, "structurally different images collided")
    // horizontal-gradient hash: columns left of the mean are 0, right are 1
    assert(a.substring(0, 8).matches("0+1+"), s"unexpected row pattern: $a")
    // vertical-gradient hash: top rows 0, bottom rows 1, uniform per row
    assert(vert.substring(0, 8) === "00000000" &&
      vert.substring(56, 64) === "11111111", s"vert: $vert")
    // degrade contract: undecodable and sub-grid images hash to ""
    assert(Multimodal.decodePhash("junk".getBytes("UTF-8")) === "")
    val tiny = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    assert(Multimodal.decodePhash(Multimodal.encodeImage(tiny, "png")) === "")
  }

  test("real WAV PCM sample decode: rate/channels/sample stats from raw samples") {
    // 44-byte header from makeWav has an empty data chunk; append samples
    val hdr = Multimodal.makeWav(16000, 1)
    val samples = Array.tabulate[Int](8)(i => if (i % 2 == 0) 100 else -300)
    val bb = java.nio.ByteBuffer.allocate(hdr.length + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(hdr, 0, 40)
    bb.putInt(16) // data chunk length = 8 samples * 2 bytes
    samples.foreach(s => bb.putShort(s.toShort))
    val w = Multimodal.decodeWav(9L, bb.array())
    assert((w.sample_rate, w.channels, w.n_samples) === ((16000L, 1L, 8L)))
    assert(w.mean_abs === 200.0) // (100+300)/2
    assert(Multimodal.decodeWav(10L, "nope".getBytes("UTF-8")).sample_rate === 0L)
  }

  test("makePcmWav round-trip: decodeWav inverts the deterministic builder") {
    for (id <- Seq(0L, 1L, 2L, 7L, 31L, 199L)) {
      val sr = 8000L * (1 + id % 3)
      val n = (16 + 2 * (id % 16)).toInt
      val a = (100 + id % 200).toInt
      val samples = Array.tabulate[Short](n)(j =>
        (if (j % 2 == 0) a else -(a + 2)).toShort)
      val w = Multimodal.decodeWav(id, Multimodal.makePcmWav(sr, 1 + id % 2, samples))
      assert((w.sample_rate, w.channels, w.n_samples) === ((sr, 1 + id % 2, n.toLong)))
      assert(w.mean_abs === (a + 1).toDouble) // closed form of the alternation
    }
  }

  test("WAV decode: adversarial chunk lengths terminate with zeros, never hang") {
    // a chunk whose 32-bit length reads as 0xFFFFFFF7 (signed -9) made the
    // old walk advance by 0 → infinite loop; and a huge positive length
    // overflowed the offset. Both must bail to the zero row.
    def withChunk(lenBytes: Array[Byte]): Array[Byte] = {
      val hdr = Multimodal.makeWav(8000, 1)
      val bb = java.nio.ByteBuffer.allocate(hdr.length + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(hdr, 0, 36)            // RIFF..WAVE + fmt chunk
      bb.put("junk".getBytes("US-ASCII")).put(lenBytes) // evil chunk
      bb.put(hdr, 36, 8)            // data chunk header (len 0)
      bb.array()
    }
    val evilNeg = withChunk(Array(0xf7, 0xff, 0xff, 0xff).map(_.toByte)) // -9 as i32
    val evilM8 = withChunk(Array(0xf8, 0xff, 0xff, 0xff).map(_.toByte))  // -8 as i32
    val evilHuge = withChunk(Array(0xff, 0xff, 0xff, 0x7f).map(_.toByte)) // 2^31-1
    for (evil <- Seq(evilNeg, evilM8, evilHuge)) {
      val w = Multimodal.decodeWav(11L, evil)
      assert((w.sample_rate, w.n_samples, w.mean_abs) === ((0L, 0L, 0.0)))
    }
    // negative data-chunk length clamps to 0 samples, not negative
    val hdr = Multimodal.makeWav(8000, 1)
    val bb = java.nio.ByteBuffer.allocate(hdr.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(hdr, 0, 40)
    bb.put(Array(0xf8, 0xff, 0xff, 0xff).map(_.toByte)) // data len = -8
    val w = Multimodal.decodeWav(12L, bb.array())
    assert(w.n_samples === 0L && w.mean_abs === 0.0)
  }

  test("quality score penalizes stopword-heavy docs") {
    val d = docs(
      1L -> "the the the a a of of to to in",
      2L -> "substantive content words about engineering distributed query systems")
    val scores = TextOps.qualityScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(scores(1L) < scores(2L))
  }

  test("knn graph: twin vectors are each other's rank-1 neighbor; loner links out") {
    val s = spark
    import s.implicits._
    val a = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val b = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    def nudge(v: Array[Float]) = { val w = v.clone(); w(0) += 0.01f; w }
    val emb = Seq(1L -> a, 2L -> nudge(a), 10L -> b, 11L -> nudge(b))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(emb, k = 2, dim = 64).collect()
    val rank1 = g.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    // EVERY vector gets a neighbor list (graph, not query-set, semantics)
    // and each twin pair is mutually rank-1
    assert(rank1 === Map(1L -> 2L, 2L -> 1L, 10L -> 11L, 11L -> 10L))
    assert(g.forall(_.getAs[Double]("cos_sim") <= 1.0))
  }

  test("filtered IVF search never returns an excluded vector and still fills k") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val filtered = Similarity.ivfTopK(emb, col("vec_id") < 3, k = 5,
        nProbe = 2, candidateFilter = col("vec_id") % 3 =!= 0)
      .collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_.getAs[Long]("nid") % 3 != 0),
      "excluded vector leaked into filtered top-k")
    // top-k REFILLS from eligible vectors (pre-filter), it doesn't just
    // drop winners (post-filter would return < k rows per query)
    val perQ = filtered.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length)
    assert(perQ.values.forall(_ == 5), s"short top-k: ${perQ.toMap}")
    // and the filter genuinely bites: the unfiltered search DOES surface
    // vec_id % 3 == 0 neighbors
    val unfiltered = Similarity.ivfTopK(emb, col("vec_id") < 3, k = 5,
        nProbe = 2).collect()
    assert(unfiltered.exists(_.getAs[Long]("nid") % 3 == 0))
  }

  test("as-of join: latest at-or-before match, left-outer nulls, equal-ts ties, tolerance") {
    val s = spark
    import s.implicits._
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val left = Seq((1L, ts("10:00"), "p1"), (1L, ts("11:00"), "p2"),
      (2L, ts("09:00"), "p3")).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("09:30"), 0.5), (1L, ts("09:30"), 1.0), // equal-ts duplicate
      (1L, ts("10:00"), 2.0), (1L, ts("10:30"), 3.0),
      (3L, ts("08:00"), 9.0)).toDF("k", "ts", "w")
    val out = graft.operators.AsofJoin.asofJoin(left, right, Seq("k"))
      .collect().map(r => (r.getAs[String]("tag"),
        Option(r.getAs[java.sql.Timestamp]("r_ts")),
        Option(r.getAs[Any]("r_w")))).toSet
    assert(out === Set(
      ("p1", Some(ts("10:00")), Some(2.0)), // inclusive: equal ts matches
      ("p2", Some(ts("10:30")), Some(3.0)), // latest prior, not first
      ("p3", None, None)))                  // key 2 has no right rows
    // equal-ts duplicate policy: the greatest payload struct wins
    val dupWinner = graft.operators.AsofJoin.asofJoin(
        Seq((1L, ts("09:45"), "x")).toDF("k", "ts", "tag"), right, Seq("k"))
      .head.getAs[Double]("r_w")
    assert(dupWinner === 1.0)
    // tolerance: p2's 30-minute-stale match is nulled; p1's exact match stays
    val tol = graft.operators.AsofJoin.asofJoin(left, right, Seq("k"),
        toleranceMicros = Some(10L * 60L * 1000000L))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[Any]("r_w"))).toMap
    assert(tol === Map("p1" -> Some(2.0), "p2" -> None, "p3" -> None))
  }

  test("keep-best curation selects the highest-quality cluster member, not the smallest id") {
    // three near-dups; doc 2 is longer (higher quality under the
    // length-capped score) than 1 and 3. Distinct filler words keep the
    // stopword ratio flat across the trio.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val d = docs(
      1L -> base,
      2L -> (base + " uniform victor"),
      3L -> (base + " whiskey"),
      9L -> ("unrelated solitary document about nothing shared with others " +
        "carrying plenty of distinct vocabulary for a clean quality pass"))
    val minRep = graft.operators.Curation.curate(d, minQuality = 0.1)
      .collect().map(_.getLong(0)).toSet
    val bestRep = graft.operators.Curation.curateKeepBest(d, minQuality = 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(minRep === Set(1L, 9L))  // min-id representative
    assert(bestRep === Set(2L, 9L)) // highest-quality representative
  }

  test("spectral peak picks the stronger of two mixed tones") {
    val s = spark
    import s.implicits._
    val n = 64
    def tone(b1: Int, a1: Double, b2: Int, a2: Double) =
      Array.tabulate[Short](n)(j => math.round(
        a1 * math.sin(2 * math.Pi * b1 * j / n) +
          a2 * math.sin(2 * math.Pi * b2 * j / n)).toShort)
    val media = Seq(
      (1L, Multimodal.makePcmWav(8000, 1, tone(5, 8000, 12, 3000))),
      (2L, Multimodal.makePcmWav(8000, 1, tone(5, 3000, 12, 8000))))
      .toDF("doc_id", "blob")
    val res = Multimodal.spectralPeak(s, media).collect()
      .map(r => r.doc_id -> r.dominant_bin).toMap
    assert(res === Map(1L -> 5L, 2L -> 12L))
  }

  test("incremental dedup drops batch docs against corpus and within batch, never corpus docs") {
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val other = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the windowsill with evident disdain every morning"
    val third = "pack my box with five dozen liquor jugs and then take " +
      "the boxes down to the harbor before the evening tide arrives"
    val accepted = docs(1L -> lorem, 2L -> other)
    val incoming = docs(
      10L -> lorem,                               // exact dup of accepted 1
      11L -> third,                               // novel → survives
      12L -> third,                               // exact dup of 11 → dropped
      13L -> other.replace("morning", "evening")) // near-dup of accepted 2
    // exact: 10 (vs corpus) and 12 (vs smaller-id 11) drop; 11 and 13 stay
    val ex = Dedup.incrementalExact(accepted, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ex === Set(11L, 13L))
    // LSH: 13's one-word edit still collides with accepted 2 → dropped too
    val near = Dedup.incrementalLsh(accepted, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(near === Set(11L))
    // asymmetry: an accepted-only near-dup pair must NOT affect the batch —
    // accepted×accepted candidates are never formed
    val acc2 = docs(1L -> lorem, 2L -> lorem, 3L -> other)
    val surv = Dedup.incrementalLsh(acc2, docs(20L -> third))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv === Set(20L))
  }

  test("incremental LSH store path never reads accepted text, matches bootstrap") {
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val other = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from the windowsill with evident disdain every morning"
    val third = "pack my box with five dozen liquor jugs and then take " +
      "the boxes down to the harbor before the evening tide arrives"
    val accepted = docs(1L -> lorem, 2L -> other)
    val incoming = docs(10L -> lorem, 11L -> third, 12L -> third,
      13L -> other.replace("morning", "evening"))
    // the store is persisted parquet — accepted TEXT does not even exist
    // on the incremental path's input, only narrow signatures
    val sigDir =
      java.nio.file.Files.createTempDirectory("graft-lshstore").toString
    Dedup.minhashStore(accepted).write.mode("overwrite")
      .parquet(s"$sigDir/sig")
    val (surv, survSig) = Dedup.incrementalLshAgainstStore(
      spark.read.parquet(s"$sigDir/sig"), incoming)
    // STRUCTURAL pin: every file scan in the plan reads signature columns
    // only — no parquet leaf carries a `text` column (incoming text enters
    // as an in-memory relation here, so any file-scanned `text` would be
    // an accepted-side re-read)
    val fileSchemas = surv.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.schema.fieldNames.toSeq
    }
    assert(fileSchemas.nonEmpty, "expected the signature store scan")
    assert(fileSchemas.forall(!_.contains("text")),
      s"incremental path scans accepted text: $fileSchemas")
    // result identical to the bootstrap (text-derived) path
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(11L))
    // the survivor signatures are exactly the store rows the next batch
    // needs: appending them reproduces minhashStore over the survivors
    val expectSig = Dedup.minhashStore(docs(11L -> third))
      .collect().map(_.toSeq).toSet
    assert(survSig.collect().map(_.toSeq).toSet === expectSig)
    // second day against the UPDATED store: 11's near-twin now collides
    survSig.write.mode("append").parquet(s"$sigDir/sig")
    val day2 = Dedup.incrementalLshAgainstStore(
      spark.read.parquet(s"$sigDir/sig"),
      docs(30L -> third.replace("evening", "morning"), 31L -> lorem))._1
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(day2 === Set.empty[Long],
      s"store update lost day-1 acceptances: $day2 survived")
  }

  test("binned range join equals the naive cross-join at bin boundaries") {
    import graft.operators.RangeJoin
    val s = spark
    import s.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // window = 10s; bins are [0,10), [10,20), ... Probes sit on bin edges
    // and mid-bin; build rows probe every boundary of the half-open
    // window [p-10, p): exactly p-10 (in), p-10+ε analog (in), exactly p
    // (OUT: strictly prior), p+1 (out), and far away (out).
    val probes = Seq((1L, t(20)), (2L, t(25)), (3L, t(7)))
      .toDF("pid", "ts")
    val builds = Seq(t(10), t(15), t(19), t(20), t(21), t(25), t(3), t(50))
      .map(Tuple1(_)).toDF("ts")
    val got = RangeJoin.countPrior(probes, builds, "ts", "ts",
        windowSec = 10L, keyCols = Seq("pid"))
      .collect().map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior"))
      .toMap
    // naive reference: count builds with p-10 <= b < p
    // pid 1 (p=20): {10,15,19} = 3  (20 excluded: not strictly prior)
    // pid 2 (p=25): {15,19,20,21} = 4 (25 excluded)
    // pid 3 (p=7):  {3} = 1
    assert(got === Map(1L -> 3L, 2L -> 4L, 3L -> 1L))
    // hierarchical (pre-aggregated fine bins + edge-only raw join) form
    // is EXACT: equal to the flat form on every probe, including probes
    // aligned to fine-bin and window boundaries
    val alignedProbes = Seq((1L, t(20)), (2L, t(25)), (3L, t(7)),
      (4L, t(30)), (5L, t(12)))  // t(30): window [20,30) aligned both ends
      .toDF("pid", "ts")
    val flat = RangeJoin.countPrior(alignedProbes, builds, "ts", "ts",
        10L, Seq("pid")).collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior")).toMap
    val hier = RangeJoin.countPriorBinned(alignedProbes, builds, "ts", "ts",
        10L, m = 5, keyCols = Seq("pid")).collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior")).toMap
    assert(hier === flat)

    // pre-epoch (negative micros) timestamps: `div` truncates toward
    // zero where floor bins are needed — the hierarchical form must
    // still equal the flat form across epoch zero
    def nt(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val negProbes = Seq((10L, nt(-10)), (11L, nt(5)), (12L, nt(-70)))
      .toDF("pid", "ts")
    val negBuilds = Seq(nt(-65), nt(-20), nt(-15), nt(-5), nt(0), nt(3), nt(-125))
      .map(Tuple1(_)).toDF("ts")
    val negFlat = RangeJoin.countPrior(negProbes, negBuilds, "ts", "ts",
        60L, Seq("pid")).collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior")).toMap
    val negHier = RangeJoin.countPriorBinned(negProbes, negBuilds, "ts", "ts",
        60L, m = 4, keyCols = Seq("pid")).collect()
      .map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior")).toMap
    // naive reference: [p-60, p) — pid 10: {-65,-20,-15} = 3;
    // pid 11: {-20,-15,-5,0,3} = 5; pid 12: {-125} = 1
    assert(negFlat === Map(10L -> 3L, 11L -> 5L, 12L -> 1L))
    assert(negHier === negFlat)

    // general pair form agrees with an explicit cross-join filter
    val pairs = RangeJoin.joinPrior(
        probes, builds.withColumnRenamed("ts", "b_ts"), "ts", "b_ts", 10L)
      .select(col("pid"), col("b_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L)).toSet
    val naive = probes.crossJoin(builds.withColumnRenamed("ts", "b_ts"))
      .filter(col("b_ts") >= col("ts") - expr("INTERVAL 10 SECONDS") &&
        col("b_ts") < col("ts"))
      .select(col("pid"), col("b_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L)).toSet
    assert(pairs === naive)
  }

  test("range join: non-unique keyCols fail LOUDLY instead of merging counts") {
    import graft.operators.RangeJoin
    val s = spark
    import s.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // two DISTINCT probe rows share pid=1 — grouping by pid would
    // silently emit one merged count (3+4=7) for both rows
    val dupProbes = Seq((1L, t(20)), (1L, t(25)), (3L, t(7)))
      .toDF("pid", "ts")
    val builds = Seq(t(10), t(15), t(19), t(20), t(21), t(25), t(3), t(50))
      .map(Tuple1(_)).toDF("ts")
    def failureMsg(body: => Unit): String = {
      val e = intercept[Exception] { body }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    val eFlat = failureMsg {
      RangeJoin.countPrior(dupProbes, builds, "ts", "ts", 10L,
        Seq("pid")).collect()
    }
    assert(eFlat.contains("uniquely"),
      s"expected the uniqueness guard, got: $eFlat")
    val eHier = failureMsg {
      RangeJoin.countPriorBinned(dupProbes, builds, "ts", "ts", 10L,
        m = 5, keyCols = Seq("pid")).collect()
    }
    assert(eHier.contains("uniquely"),
      s"expected the uniqueness guard, got: $eHier")
    // unique keys still pass (the guard costs no extra job — it rides
    // the existing aggregate)
    val ok = RangeJoin.countPrior(Seq((1L, t(20))).toDF("pid", "ts"),
        builds, "ts", "ts", 10L, Seq("pid"))
      .collect().map(r => r.getAs[Long]("pid") -> r.getAs[Long]("n_prior"))
      .toMap
    assert(ok === Map(1L -> 3L))
  }
}
