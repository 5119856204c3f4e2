package graft
import org.apache.spark.sql.functions._

/** 10× scale probe for the heavy query family: the driver's testdata stops
  * at sf0.1, so this tool self-multiplies the documents corpus ~10× and
  * measures how the heavy queries' wall time scales. Replicas get disjoint
  * id ranges AND a per-replica suffix on every 4th token — that drops
  * cross-replica 2-gram-shingle Jaccard to ~0.33 (no cross-replica
  * near-dups: naive duplication would near-clique every document with its
  * 9 copies and measure a quadratic blowup the real workload does not
  * have) while PRESERVING per-token statistics (stopword hits, word
  * lengths) that the curation filters key on. Vocabulary grows with the
  * corpus, which is how real corpora grow.
  *
  * Usage: Test/runMain graft.ScaleProbe [sfDir] [query...] — prints one JSON
  * line per query with 1× and N× seconds (post-warm-up) and the scaling
  * factor. The multiplier N defaults to 10; set SPARK_GRAFT_SCALE to probe
  * another octave (the r9 convention is 30 for the capped-band + CC
  * family, checking whether their 10× super-linearity settles).
  */
object ScaleProbe {
  val Heavy = Seq("p13_near_dedup", "p42_curation_pipeline",
    "p43_incremental_neardedup", "p44_corpus_report", "p49_domain_mix",
    "p24_neardup_groups", "p28_dedup_keep_best", "p21_pipeline_e2e",
    "p51_line_dedup", "p53_audio_meta", "p54_source_cap",
    "p57_video_frames", "p58_substring_dedup", "p59_importance_resample",
    "p60_curation_v2", "p61_image_phash_dedup", "p62_audio_fingerprint_dedup",
    "p63_video_clip_matches", "p52_semantic_dedup", "p55_semantic_dedup_refined",
    "p65_perplexity_buckets", "p66_token_budget", "p67_lang_token_budget",
    "p68_corpus_diff", "p69_ccnet_pipeline", "p70_classifier_score",
    "p71_bigram_lm", "p72_bigram_lm_cross",
    "p73_asof_join", "p75_cohort_retention", "p76_hopping_stats",
    "p77_classifier_train", "p78_funnel_steps", "p79_kmv_vocab", "p80_ann_pq",
    "p83_event_features", "p84_warc_roundtrip", "p85_html_extract", "p86_crawl_pipeline",
    "p88_pagerank", "p89_authority_mix",
    "p90_bpe_train", "p91_bpe_encode", "p92_triangles", "p93_lpa_communities",
    "p95_prefix_jaccard_join", "p96_random_walks", "p97_kcore",
    "p98_graph_features", "p99_walk_pmi", "p100_warc_gz_roundtrip",
    "p101_link_prediction", "p102_group_split", "p103_retrieval_metrics", "p104_dedup_eval",
    "p105_personalized_pagerank", "p106_weighted_sample", "p107_rate_anomaly", "p108_apply_changes",
    "p109_heavy_hitters", "p110_lang_quantiles", "p111_lang_heavy_tokens",
    "p112_char_entropy")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val picked = if (args.length > 1) Heavy.filter(args.drop(1).contains(_)) else Heavy
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val out = s"/tmp/graft-scale${mult}x"
    val spark = LocalSession()

    val d = spark.read.parquet(s"$base/documents.parquet")
    // replica ids stride by 1e9 so they stay clear of the +1e7/+2e7
    // synthetic-copy id offsets the p6x queries add on top of doc_id
    val reps = spark.range(mult).select(col("id").as("__k"))
    d.crossJoin(reps).select(
        (col("doc_id") + col("__k") * 1000000000L).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"), (t, i) =>
          when(i % 4 === 3, concat(t, lit("q"), col("__k"))).otherwise(t)), " ")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings multiply the same way for the semantic-dedup probes:
    // disjoint id ranges, and each replica perturbs one coordinate by a
    // replica-dependent offset — a direction change, so replicas are NOT
    // cosine-near their originals (naive duplication would hand semantic
    // dedup a 10-clique per vector and measure a blowup the real
    // workload does not have); cluster geometry stays realistic because
    // most coordinates are untouched.
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    e.crossJoin(reps).select(
        (col("vec_id") + col("__k") * 1000000000L).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(i === pmod(col("__k") * 7 + 3, lit(dim)),
            v + (col("__k") + 1).cast("float") * 0.37f).otherwise(v))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events multiply by replicating USERS (disjoint user/event id
    // ranges, timestamps untouched): more users is how an event log
    // grows; per-key event counts — the per-partition window/state cost
    // of the event-analytics family — stay realistic instead of
    // multiplying each user's timeline.
    val ev = spark.read.parquet(s"$base/events.parquet")
    ev.crossJoin(reps).select(
        (col("event_id") + col("__k") * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("__k") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // noop sink, not count(): count() lets Catalyst collapse row-preserving
    // plans (projections, left joins against aggregated-unique keys) down
    // to a bare parquet row count — p58's entire gram pipeline vanished and
    // "10x data" measured FASTER than 1x. The noop write demands every
    // output column, so the probe times the full computation the user gets.
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    picked.foreach { n => time(n, base) } // warm: codegen + JIT once
    picked.foreach { n =>
      val t1 = time(n, base)
      val t10 = time(n, out)
      println(f"""{"query":"$n","sec_1x":$t1%.2f,"sec_${mult}x":$t10%.2f,"factor":${t10 / t1}%.2f}""")
    }
    spark.stop()
  }
}
