package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** sf1-scale soak for the dedup/ANN/curation family: generates a 10×
  * documents/embeddings corpus (50k docs, 20k vectors — same shape and
  * vocabulary style as the driver's sf0.1 testdata) plus TPC-H sf1, runs
  * each pipeline operator once, and prints per-operator wall times next to
  * their linear extrapolation from sf0.1. The point is catching
  * super-linear blowups (skewed joins, cluster-size degeneration, GC
  * pressure) one scale step before a real cluster would.
  *
  * Usage: `runMain graft.Soak [outDir]` — generates into outDir (default
  * `target/sf1`) if absent, then runs. Timings go to stdout as one JSON
  * line per query plus a `soak_total`.
  */
object Soak {

  private val vocab: Array[String] = Array(
    "spark", "query", "table", "scan", "filter", "group", "agg", "join",
    "sort", "order", "window", "stream", "batch", "row", "column", "value",
    "key", "hash", "merge", "data", "part", "line", "customer", "vector",
    "fast", "slow", "big", "small", "the", "a")

  /** Deterministic doc text from a per-doc RNG; ~1/10 docs are an exact
    * copy of their predecessor and ~1/10 a near-copy (one word changed), so
    * the dedup family has planted structure to find, like the testdata.
    */
  private def docText(id: Long): String = {
    val rnd = new java.util.Random(id * 2654435761L + 42L)
    val len = 15 + rnd.nextInt(65)
    val words = Array.fill(len)(vocab(rnd.nextInt(vocab.length)))
    (id % 10) match {
      case 9 => docText(id - 1) // exact duplicate of predecessor
      case 8 => // near-duplicate: regenerate predecessor, flip one word
        val prev = docText(id - 1).split(" ")
        prev(prev.length / 2) = vocab((id % vocab.length).toInt)
        prev.mkString(" ")
      case _ => words.mkString(" ")
    }
  }

  private def genDocuments(spark: SparkSession, n: Long, out: String): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val langs = Array("en", "en", "en", "zh", "es", "fr", "de", "ja", "pt", "ru")
    val rdd = spark.range(n).rdd.map { idBoxed =>
      val id: Long = idBoxed
      val text = docText(id)
      Row(id, text, langs((id % langs.length).toInt),
        s"src${id % 20}", text.length.toLong)
    }
    spark.createDataFrame(rdd, schema)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  private def genEmbeddings(spark: SparkSession, n: Long, dim: Int, out: String): Unit = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    def vec(id: Long): Array[Float] = {
      val rnd = new java.util.Random(id * 40503L + 7L)
      val label = (id % 10).toInt
      // cluster structure: a per-label center plus noise; ~1/20 vectors
      // are a small perturbation of their predecessor (planted near-dups)
      if (id % 20 == 19) {
        val prev = vec(id - 1)
        prev.map(v => v + (rnd.nextFloat() - 0.5f) * 0.01f)
      } else {
        val center = new java.util.Random(label * 7919L)
        Array.fill(dim)((center.nextFloat() - 0.5f) + (rnd.nextFloat() - 0.5f) * 0.6f)
      }
    }
    val rdd = spark.range(n).rdd.map { idBoxed =>
      val id: Long = idBoxed
      Row(id, vec(id).toSeq, (id % 10).toInt)
    }
    spark.createDataFrame(rdd, schema)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Synthetic events at 10× the sf0.1 shape (1M rows over 30 days,
    * five types, zipfy users) so the event-analytics operators soak too.
    */
  private def genEvents(spark: SparkSession, n: Long, out: String): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))
    val types = Array("view", "click", "cart", "purchase", "refund")
    val t0 = 1704067200000000L // 2024-01-01 UTC, micros
    val span = 30L * 24 * 3600 * 1000000L
    val rdd = spark.range(n).rdd.map { idBoxed =>
      val id: Long = idBoxed
      val rnd = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
      val ts = new java.sql.Timestamp(0L)
      val micros = t0 + (math.abs(rnd.nextLong()) % span)
      ts.setTime(micros / 1000)
      ts.setNanos(((micros % 1000000L) * 1000L).toInt)
      Row(id, ts, math.abs(rnd.nextLong()) % (n / 10),
        types(rnd.nextInt(types.length)), rnd.nextInt(10000) / 100.0,
        s"""{"k":${rnd.nextInt(100)}}""")
    }
    spark.createDataFrame(rdd, schema)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/sf1")
    val spark = core.SessionFactory.plain(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      println(s"[soak] generating sf1 corpus into $out ...")
      genDocuments(spark, 50000L, out)
      genEmbeddings(spark, 20000L, 64, out)
      genEvents(spark, 1000000L, out)
      // TPC-H sf1 in the flat testdata layout the queries read
      graft.core.TpchGen.tpchTables.foreach { t =>
        core.TpchDataGen.generators(t)(spark, 1.0)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      println("[soak] generation done")
    }

    // sf0.1 mins from the r8 clean-floor bench/probes, for the 10x
    // extrapolation (ops without a measured sf0.1 row carry no baseline —
    // timed, ratio null). t05/t11 re-baselined after the round-8 switch to
    // real merges-file BPE; d10/d11/cnt02/qz02 are round-8 operators
    // (PerfProbe warm run2 at sf0.1).
    val sf01Base = Map(
      "d01_dedup_exact" -> 0.35, "d02_ngram_jaccard" -> 1.57,
      "d02b_ngram_jaccard_capped" -> 0.74, "d03_minhash_lsh" -> 1.49,
      "d04_simhash" -> 0.45, "d06_embed_lsh" -> 1.95,
      "d06b_embed_lsh_capped" -> 0.64, "d07_dedup_clusters" -> 2.06,
      "d08_semantic_dedup" -> 1.15,
      "d10_dup_span_extents" -> 2.44, "d11_excise_spans" -> 3.37,
      "a01_ann_bruteforce" -> 0.43, "a02_ann_ivf" -> 0.65,
      "a03_ann_lsh" -> 0.50, "a04_kmeans" -> 0.90,
      "c01_curation" -> 2.36, "cnt02_ngram_contamination" -> 1.26,
      "qz01_embed_quantize" -> 0.55, "qz02_product_quantize" -> 5.73,
      "smp04_source_cap" -> 0.30, "t05_bpe_tokens" -> 3.31,
      "t11_chunking" -> 1.11,
      // round-11 additions (PerfProbe warm run2 at sf0.1, measured after
      // the a06 residual-relation checkpoint)
      "c03_pretrain_pipeline" -> 2.50, "a05_ann_pq" -> 4.12,
      "a06_ann_ivfpq" -> 5.19, "t13_bpe_train" -> 0.46,
      // round-12 additions (PerfProbe warm run2 at sf0.1)
      "t14_bpe_train_apply" -> 1.20,
      "d12_incremental_dedup" -> 0.83, "d12b_incremental_lsh" -> 2.17,
      "t15_perplexity_gate" -> 1.52, "a09_ann_recall" -> 0.83,
      "smp06_split" -> 0.19, "e13_stream_ingest_dedup" -> 2.09,
      "c04_curation_keep_best" -> 2.80, "t16_novelty" -> 0.67,
      "qz03_binary_quantize" -> 0.40, "a11_bq_rerank" -> 0.56,
      "a10_recall_sweep" -> 1.58, "m05_spectral_peak" -> 0.88,
      "smp07_weighted_sample" -> 0.16,
      // round-12 second batch (PerfProbe warm run2 at sf0.1)
      "cnt03_bloom_decontaminate" -> 1.63, "d13_containment" -> 2.13,
      "c05_quality_classifier" -> 1.44, "smp08_epoch_mix" -> 0.62,
      "t18_vocab_coverage" -> 0.69, "t19_readability" -> 0.62,
      "m07_mp4_headers" -> 0.32, "a13_mmr" -> 1.04,
      "f06_hll_sketches" -> 0.41,
      "d13b_containment_capped" -> 1.10, "c07_corpus_report" -> 0.81,
      // round-12 third batch (PerfProbe warm run2 at sf0.1; qz04 after
      // the per-element-quantize rewrite)
      "t20_zipf_fit" -> 0.76, "a16_triangle_count" -> 3.28,
      "a18_hybrid_rrf" -> 0.93, "qz04_int4_pack" -> 1.61,
      "e20_event_transitions" -> 0.50, "x16_delta_merge" -> 1.68,
      "x17_delta_skip" -> 0.68, "x18_delta_delete" -> 1.12,
      "p03_footer_minmax" -> 0.11, "p04_bloom_lookup" -> 0.50,
      "a16b_triangle_capped" -> 2.10, "x19_delta_vacuum" -> 1.75,
      "c08_token_fertility" -> 0.80, "e21_user_growth" -> 0.74,
      "f07_count_min" -> 1.64,
      // round-12 fourth batch (PerfProbe warm run2 at sf0.1)
      "e22_stream_cdc" -> 2.55, "e23_range_join_bin" -> 0.84,
      "e24_stream_delta_upsert" -> 12.4, "x20_delta_checkpoint" -> 1.84,
      "x21_delta_restore" -> 0.77, "x22_iceberg_skip" -> 0.65,
      "e23b_range_join_hier" -> 1.37,
      // round-12 fifth batch (PerfProbe warm run2 at sf0.1)
      "d14_frequent_segments" -> 1.63, "a19_hard_negatives" -> 0.57,
      "a20_matryoshka_recall" -> 1.12, "x23_iceberg_delete" -> 1.35,
      "x24_iceberg_expire" -> 1.14, "x25_delta_part_write" -> 0.64,
      "x26_delta_part_prune" -> 0.50, "x27_delta_txn" -> 0.65,
      "x28_delta_optimize" -> 2.27, "p05_delta_count" -> 0.43,
      // round-14 additions (PerfProbe warm run2 at sf0.1)
      "x30_iceberg_v2_deletes" -> 3.69, "x31_iceberg_rewrite" -> 3.20,
      "x32_iceberg_part_write" -> 0.86, "x33_iceberg_part_prune" -> 1.05,
      "x34_delta_merge_evolve" -> 1.96, "e16_stream_ingest_lsh" -> 7.03,
      // round-14 second batch (PerfProbe warm run2 at sf0.1)
      "x36_delta_dv_deletes" -> 2.28, "x37_delta_dv_purge" -> 1.95,
      "x38_delta_cdf" -> 4.73, "x39_delta_cdf_mirror" -> 15.43,
      "x40_delta_column_mapping" -> 1.16, "x41_iceberg_incremental" -> 2.89,
      "x42_iceberg_spec_evolution" -> 1.85, "x43_iceberg_refs" -> 2.69,
      // round-15 additions (PerfProbe warm run2 at sf0.1)
      "x44_convert_delta" -> 1.34, "x45_iceberg_add_files" -> 1.21,
      "x46_uniform_iceberg" -> 1.95, "x47_shallow_clone" -> 1.51,
      "x48_delta_history" -> 1.43, "x49_iceberg_to_delta" -> 1.55,
      // x50 re-baselined r17 (Bench min-of-4, clean interleaved A/B):
      // 1.80 was the r15 LINEAR-rank number; range ranks (r16) cost one
      // extra quantile pass at sf0.1 — the r16 soak's 0.97x ratio was
      // this stale baseline, not super-linearity (HEAD beat the r16
      // bytecode on every A/B leg)
      "x50_zorder_optimize" -> 2.85, "x51_iceberg_rollback" -> 1.66,
      "x52_check_constraints" -> 1.75, "e26_stream_uniform" -> 2.91,
      // round-16 additions (Bench min-of-3 at sf0.1, clean floor)
      "t15b_perplexity_gate_approx" -> 1.84,
      "x40b_delta_mapping_id_rename" -> 0.81,
      "x46b_uniform_partitioned" -> 1.55,
      "x36b_delta_dv_partitioned" -> 1.51,
      // round-17 additions (PerfProbe warm run2 at sf0.1)
      "x50b_zorder_mapped" -> 2.81, "x36c_delta_dv_mapped" -> 1.42,
      "x46c_uniform_partitioned_mapped" -> 0.92,
      // round-18 additions (PerfProbe warm run2 at sf0.1)
      "x16b_delta_merge_partitioned" -> 3.22,
      "x16c_delta_merge_mor" -> 2.51,
      "x18b_delta_delete_partitioned" -> 1.54,
      "x38c_delta_cdf_partitioned" -> 4.67,
      // round-19 additions (PerfProbe warm run2 at sf0.1)
      "x16d_delta_merge_conditional" -> 3.36,
      "x53_replace_where" -> 2.16,
      "x53b_replace_where_iceberg" -> 1.77,
      "x54_iceberg_merge" -> 3.51,
      "x54b_iceberg_merge_partitioned" -> 2.69,
      "x55_iceberg_changelog" -> 4.47,
      "x54c_iceberg_merge_conditional" -> 3.10,
      "x55b_iceberg_changelog_mor" -> 5.75)

    val queries = Seq(
      "d01_dedup_exact", "d02_ngram_jaccard", "d02b_ngram_jaccard_capped",
      "d03_minhash_lsh", "d04_simhash", "d06_embed_lsh",
      "d06b_embed_lsh_capped", "d07_dedup_clusters",
      "d08_semantic_dedup", "d09_dup_ngram_spans",
      "d10_dup_span_extents", "d11_excise_spans",
      "a01_ann_bruteforce", "a02_ann_ivf", "a03_ann_lsh",
      "a04_kmeans", "a05_ann_pq", "a06_ann_ivfpq",
      "c01_curation", "c02_canonical_source", "c03_pretrain_pipeline",
      "cnt02_ngram_contamination",
      "qz01_embed_quantize", "qz02_product_quantize", "smp04_source_cap",
      "t05_bpe_tokens", "t11_chunking", "t13_bpe_train",
      "t14_bpe_train_apply", "m03_media_headers",
      "d12_incremental_dedup", "d12b_incremental_lsh",
      "t15_perplexity_gate", "a09_ann_recall", "smp06_split",
      "e13_stream_ingest_dedup",
      "c04_curation_keep_best", "t16_novelty", "qz03_binary_quantize",
      "a11_bq_rerank", "a10_recall_sweep", "m05_spectral_peak",
      "smp07_weighted_sample",
      "cnt03_bloom_decontaminate", "d13_containment",
      "c05_quality_classifier", "smp08_epoch_mix", "t18_vocab_coverage",
      "t19_readability", "m07_mp4_headers", "a13_mmr", "f06_hll_sketches",
      "d13b_containment_capped", "c07_corpus_report",
      "t20_zipf_fit", "a16_triangle_count", "a18_hybrid_rrf",
      "qz04_int4_pack", "e20_event_transitions", "x16_delta_merge",
      "x17_delta_skip", "x18_delta_delete", "p03_footer_minmax",
      "p04_bloom_lookup", "a16b_triangle_capped", "x19_delta_vacuum",
      "c08_token_fertility", "e21_user_growth", "f07_count_min",
      "e22_stream_cdc", "e23_range_join_bin", "e24_stream_delta_upsert",
      "x20_delta_checkpoint", "x21_delta_restore", "x22_iceberg_skip",
      "e23b_range_join_hier",
      "d14_frequent_segments", "a19_hard_negatives", "a20_matryoshka_recall",
      "x23_iceberg_delete", "x24_iceberg_expire", "x25_delta_part_write",
      "x26_delta_part_prune", "x27_delta_txn", "x28_delta_optimize",
      "p05_delta_count",
      // round-14 additions: the v2 MoR lifecycle (deletes → compaction),
      // Iceberg partitioned writes/pruning, Delta schema evolution, and
      // the store-backed streaming LSH ingest (three micro-batches over a
      // GROWING signature store — the per-batch cost staying flat is the
      // incremental-dedup scale contract)
      "x30_iceberg_v2_deletes", "x31_iceberg_rewrite",
      "x32_iceberg_part_write", "x33_iceberg_part_prune",
      "x34_delta_merge_evolve", "e16_stream_ingest_lsh",
      // Delta deletion vectors: MoR delete + purge lifecycle — the DV
      // bitmap filter's cost staying sublinear (bitmap bytes, not rows)
      // is the scale contract
      "x36_delta_dv_deletes", "x37_delta_dv_purge",
      // change data feed: emission + read must track CHANGED bytes, not
      // table size; the mirror consumer is the full
      // bootstrap+increments pipeline
      "x38_delta_cdf", "x39_delta_cdf_mirror",
      // column-mapped decode and the Iceberg incremental read — both
      // must track their own bytes (mapped scan = one scan + rename;
      // incremental = appended bytes only)
      "x40_delta_column_mapping", "x41_iceberg_incremental",
      // partition evolution: per-spec manifests must stay sound AND
      // selective as epochs and file counts grow
      "x42_iceberg_spec_evolution",
      // refs: tag-pinned retention across mutations + expiry
      "x43_iceberg_refs",
      // round-15: zero-copy adoption + cross-format mirrors — all four
      // must stay O(files) metadata as the data decade-scales (conversion
      // cost = footer reads + one commit; mirrors = one metadata commit
      // per sync; clone = one commit referencing the source)
      "x44_convert_delta", "x45_iceberg_add_files", "x46_uniform_iceberg",
      "x47_shallow_clone", "x48_delta_history", "x49_iceberg_to_delta",
      // z-order re-clustering (one range shuffle + sort — the only
      // data-scale op in the round-15 batch) and metadata-only rollback
      "x50_zorder_optimize", "x51_iceberg_rollback",
      // writer-enforced CHECK constraints: per-batch cost, never a scan
      "x52_check_constraints",
      // streaming ingest landing exactly-once in BOTH protocol views:
      // per-batch cost = one idempotent Delta commit + one metadata sync
      "e26_stream_uniform",
      // round-16: the perplexity gate's PRODUCTION shape (broadcast
      // approx-percentile threshold — the corpus never sees a global
      // sort, so the 10x ratio staying ~linear is the whole point),
      // id-mode mapped reads + metadata-only rename, and the partitioned
      // UniForm mirror (one metadata commit; manifest-only pruning)
      "t15b_perplexity_gate_approx", "x40b_delta_mapping_id_rename",
      "x46b_uniform_partitioned",
      // partitioned MoR deletes + per-group purge: cost must track
      // touched partitions and deleted rows, never table size
      "x36b_delta_dv_partitioned",
      // round-17: every mutation on COLUMN-MAPPED tables — zorder's
      // physical-bytes rewrite (ids re-stamped), the GDPR MoR shape
      // across a rename, and the partitioned+mapped UniForm mirror
      "x50b_zorder_mapped", "x36c_delta_dv_mapped",
      "x46c_uniform_partitioned_mapped",
      // round-18: the partitioned copy-on-write surface — merge cost
      // must track touched tuples + batch, delete cost the pruned
      // partition's bytes, the feed O(changed bytes); x16c pins that
      // reading THROUGH deletion vectors adds no scale term to merge
      "x16b_delta_merge_partitioned", "x16c_delta_merge_mor",
      "x18b_delta_delete_partitioned", "x38c_delta_cdf_partitioned",
      // round-19: the conditional merge (prune must hold at 10x), both
      // protocols' REPLACE WHERE (cost = replaced range + batch), the
      // Iceberg merge twins, and the changelog read (O(touched bytes)
      // per snapshot, never table-sized)
      "x16d_delta_merge_conditional", "x53_replace_where",
      "x53b_replace_where_iceberg", "x54_iceberg_merge",
      "x54b_iceberg_merge_partitioned", "x55_iceberg_changelog",
      // the second protocol's conditional merge (manifest-tuple prune at
      // 10x) and the MoR changelog (cost = named files, never the table)
      "x54c_iceberg_merge_conditional", "x55b_iceberg_changelog_mor",
      // round-20: hidden partitioning (day-range scans must track the
      // range's bytes at 10x; bucket merges the batch buckets' bytes),
      // the evolving merge (one metadata file + touched files), and the
      // MoR merge (bytes WRITTEN must track the batch, never the
      // touched files)
      "x56_iceberg_days_transform", "x56b_iceberg_bucket_transform",
      "x57_iceberg_merge_evolve", "x58_iceberg_merge_mor_write",
      // the Delta twin of x58: DV bitmaps instead of position-delete
      // files, same O(batch + bitmap bytes) write contract
      "x16e_delta_merge_dv_write",
      // partitioned evolution: one metadata file + the touched
      // partitions' files, tuples intact at 10x
      "x57b_iceberg_merge_evolve_partitioned")

    if (!new java.io.File(s"$out/events.parquet").exists())
      genEvents(spark, 1000000L, out) // corpora generated before events joined

    // Optional local-iteration filter (Verify's GRAFT_VERIFY_ONLY analog):
    // GRAFT_SOAK_ONLY=x36,x37 soaks only matching prefixes. Driver/full
    // runs set nothing.
    val selected = sys.env.get("GRAFT_SOAK_ONLY") match {
      case Some(ps) =>
        val prefixes = ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        queries.filter(n => prefixes.exists(n.startsWith))
      case None => queries
    }
    var total = 0.0
    var ran = 0
    def runOne(label: String, name: String): Unit = {
      spark.catalog.clearCache()
      // drop leaked localCheckpoint blocks from the previous query: the
      // catalog cache doesn't track them, and across a 64-query session
      // they accumulate until the heap OOMs (observed on a back-to-back
      // soak re-run in one JVM) — the same leak a long-lived server hits
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val (run, status) = exec.QueryProfile.jvm {
        try {
          SparkEntry.queries(name)(spark, out)
            .write.mode("overwrite").format("noop").save()
          "ok"
        } catch { case e: Throwable => s"failed: ${e.getMessage.take(120)}" }
      }
      val sec = run.secs
      total += sec
      ran += 1
      val extrap = sf01Base.get(label).orElse(sf01Base.get(name)).map(_ * 10)
      val ratio = extrap.map(e => sec / e)
      println(f"""{"soak":"$label","sec":$sec%.2f,"extrapolated_10x":${
        extrap.fold("null")(e => f"$e%.2f")},"ratio":${
        ratio.fold("null")(r => f"$r%.2f")},"status":"$status"}""")
      System.gc()
    }
    selected.foreach(name => runOne(name, name))
    // The EXECUTOR-side packed-DV write path gets its own soak row: the
    // distributed shape (bitmaps merged and written from the task
    // holding each file's positions, one shared DV file per task
    // partition) is spec-pinned row-identical to the driver path but had
    // no at-scale run on record. graft.dv.maxCollectBytes=0 makes the
    // x36b query take it unconditionally; the baseline is x36b's own
    // sf0.1 number, so the ratio reads against the same work.
    if (selected.contains("x36b_delta_dv_partitioned")) {
      System.setProperty("graft.dv.maxCollectBytes", "0")
      try runOne("x36b_dv_executor", "x36b_delta_dv_partitioned")
      finally System.clearProperty("graft.dv.maxCollectBytes")
    }
    println(f"""{"soak_total":$total%.2f,"queries":$ran}""")
    spark.stop()
  }
}
