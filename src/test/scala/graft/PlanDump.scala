package graft

/** Regenerates PLANS.md: formatted physical plans for a representative
  * query set at sf0.01. Run: `Test/runMain graft.PlanDump`. */
object PlanDump {
  val Captured = Seq("q01_lineitem_agg", "h3_02_parent_rollup", "h3_12_latlng_cell",
    "p05_minhash_sigs", "p06_lsh_pairs", "p13_near_dedup", "p18_embed_neardup",
    "p26_chunks", "p29_ann_projected", "p33_bm25", "p34_mix_sample",
    "p37_pack_sequences", "p38_decontam", "p41_sessions",
    "p43_incremental_neardedup", "p44_corpus_report", "p45_hybrid_search",
    "p46_lm_score", "p47_domain_tag", "p49_domain_mix", "p50_image_meta",
    "p52_semantic_dedup", "p54_source_cap", "p58_substring_dedup",
    "p59_importance_resample", "p60_curation_v2", "p61_image_phash_dedup",
    "p62_audio_fingerprint_dedup", "p63_video_clip_matches",
    "p65_perplexity_buckets", "p66_token_budget", "p67_lang_token_budget",
    "p68_corpus_diff", "p69_ccnet_pipeline", "p70_classifier_score",
    "p71_bigram_lm", "p72_bigram_lm_cross",
    "p73_asof_join", "p74_funnel", "p77_classifier_train",
    "p78_funnel_steps", "h3_30_spiral_window",
    "p76_hopping_stats", "p79_kmv_vocab",
    "p80_ann_pq", "p82_rolling_stats", "p83_event_features",
    "p86_crawl_pipeline", "p88_pagerank",
    "p91_bpe_encode", "p92_triangles", "p93_lpa_communities",
    "p94_sampled_quantiles", "p95_prefix_jaccard_join", "p96_random_walks",
    "p97_kcore", "p98_graph_features", "p99_walk_pmi", "p101_link_prediction",
    "p103_retrieval_metrics", "p105_personalized_pagerank",
    "p106_weighted_sample", "p107_rate_anomaly", "p108_apply_changes",
    "p109_heavy_hitters", "p110_lang_quantiles", "p111_lang_heavy_tokens",
    "p112_char_entropy", "p113_ann_recall", "p114_sssp_iterative",
    "h3_25_spatial_bench",
    "p115_germany_route", "p116_sssp_paths", "p117_bpe_train_distributed",
    "r03_r_tiff_compact", "h3_31_misc_laws")

  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.01"
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plan evidence (generated at sf0.01 by PlanDump)\n\n")
    sb.append("""Plans are the FINAL adaptive plans (each query is executed first), so
AQE's runtime decisions — broadcast conversions, coalesced reads — are
visible alongside the static shape.

What to look for: `PushedFilters` reaching the parquet scan, pruned
`ReadSchema`, `WholeStageCodegen` spans around H3 expressions, map-side
`partial_` aggregation before each exchange, broadcast joins for small
sides, and (p05) the cheap token-count filter BEFORE the md5 pipeline —
filtering on the hashed array itself re-evaluated the hashing once for
the predicate and once for the projection.

Audited shapes pinned here against regression:
- p13/p43 (near-dedup): `Scan ExistingRDD` nodes are the localCheckpoint
  barriers that keep the LSH→verify chain from re-evaluating per
  consumer; the verify joins run candidate-bounded (BroadcastHashJoin
  under AQE at this SF — the broadcast side is the candidate set, never
  the corpus; p43's reference corpus never shuffles).
- p44 (corpus report): BOTH Window nodes sit above the (lang, length)
  histogram stage (rowCount ≈ distinct lengths, not documents) — the
  percentile rank lookup never sorts the document frame.
- p49 (domain mix): one corpus-stats aggregate broadcast back over the
  corpus; the mix explode carries no filter on the computed copy count
  (a pushed filter previously became a per-row interpreted BNLJ join
  condition embedding the whole domain-argmax expression).
- p54 (source cap): three-branch union — the under-cap branch is
  scan→broadcast-join→filter with NO Sort/Window node; the over-cap
  branch windows only the checkpointed hash-prefilter survivors, with
  the rank filter rewritten to WindowGroupLimit BEFORE the exchange
  (partial top-cap map-side, the shuffle carries ≤cap rows per source);
  the fallback branch's exchange carries zero rows in the common case —
  its only standing cost is a filter-only probe pass.
- p58 (EXACTSUBSTR dedup): grams exchange as 60-bit longs (ReadSchema
  shows the gram string dying before the shuffle); the occurrence-marking
  join's build side is the count>1 gram frame only; the covered-position
  set joins back per doc id — no Window or Sort over raw documents
  anywhere in the plan.
- p59 (DSIR): two vocabulary aggregates (map-side partials), the
  log-ratio join on token, and a broadcast of the top-k id frame — the
  document text never shuffles; the global rank is a TakeOrderedAndProject
  over (score, id) pairs, not a Sort of the corpus.
- p60 (curation v2 = substring dedup → gopher gate → DSIR): ONE plan.
  A single `Scan ExistingRDD` barrier holds the cleaned-text frame that
  feeds the gopher gate, the keep-join and both DSIR LM consumers — the
  substring-dedup subtree appears ONCE, not four times; downstream keeps
  the p58/p40/p59 shapes (no Window/Sort over documents, gate join
  broadcast, TakeOrderedAndProject for selection).
- p61/p62 (perceptual image/audio dedup): payload bytes die at the
  fingerprint projection (only the 8-byte hash shuffles — ReadSchema of
  every exchange shows no binary column); the band join is an equi-join
  on (band idx, band bits) with the pair explode bucket-local; the
  rep-collapsed component graph resolves in the bounded driver
  union-find regime (edges scale with distinct content), so the final
  plan shows the components result as a parallelized leaf, not loop
  rounds — graphs past the layout bound (`graft.layout.clusterMinRows`)
  run the distributed loop instead.
- p65 (perplexity buckets): both Window nodes run over the aggregated
  (lang, score) CLASS frame (rowCount ≈ distinct lattice scores per
  language, not documents), and the bucket assignment joins back as a
  BroadcastHashJoin — no Sort or Window over the document frame.
- p66 (token budget): the only single-partition Window sits above the
  (score, id-bucket) CELL aggregate; the within-cell cumsum Window is
  hash-partitioned by the compound key; cell prefixes return via
  BroadcastHashJoin — the corpus is never globally sorted.
- p68 (corpus diff): both snapshots die at their (id, 8-byte hash)
  projections before the full outer join — ReadSchema shows no text
  column crossing an exchange.
- p69 (composed CCNet): ONE plan — the LM-score subtree appears once
  (checkpoint barrier), the class-frame windows and bucket broadcast
  keep the p65 shape, and the retention report is a map-side-partial
  aggregate over the joined-back slim frame.
- p70 (hashed classifier): scan → Project → Sort and NOTHING else — no
  Exchange anywhere above the scan except the final output sort; the
  hashing-trick weight formula keeps inference a pure projection (the
  whole point at 100 TB: one pass, zero shuffle, no weight table).
- p77 (classifier TRAIN): the returned plan's only shuffles are
  broadcasts — the slim (doc_id, y, bucket, count) frame is checkpointed
  hash-partitioned+sorted by doc_id (CheckpointLayout), so the final
  per-doc aggregate (and each GD iteration's window, same requirement)
  runs over `Scan ExistingRDD` with NO Exchange and NO Sort; the weight
  table rides in as a LocalTableScan broadcast (4096-bucket bounded
  driver-held frame).
- p71/p72 (bigram LM): the gram-count aggregates show partial_count
  before their Exchange; context and right-unigram tables hang off the
  AGGREGATED gram/vocab frames (rowCount ≈ distinct grams, not token
  instances); score join-back on the gram key is BroadcastHashJoin at
  this SF (AQE — the trained LM fits) and degrades to a shuffled hash
  join, never a sort of the corpus, when it does not; p72's LEFT joins
  (OOV backoff) preserve every scored position. No text column crosses
  an exchange — ReadSchema dies at the tokenizer projection.
- p113 (ANN recall): the four top-k subtrees each broadcast the 20-query
  frame against the corpus scan (BroadcastNestedLoopJoin is the
  intentional scored crossJoin for brute/PQ; IVF and projected keep
  their bucket/coarse-prune joins); the planted-hit check is a map-side
  partial aggregate per method — nothing corpus-sized shuffles except
  each method's own scoring pass.
- p114 (iterative SSSP): the final plan is a broadcast join of the
  destination frame against the CONVERGED best-cost frame (a
  parallelized localCheckpoint leaf) — the relaxation rounds happened
  eagerly, each a frontier-edges equi-join bounded by the frontier
  size, never materializing paths; round count is diameter-bound by the
  express-edge construction.
- p115 (Germany real-data route): the parsed 312k-edge fixture is one
  parallelized leaf feeding the dup-min aggregate behind a
  localCheckpoint barrier that BOTH the Dijkstra collect and the
  walk-law join read (the edge list materializes once); the walk-cost
  verification joins the exploded 2-row path frame (broadcast) against
  that barrier — the fixture is never re-parsed or re-shuffled.
- p116 (iterative SSSP paths): relaxation keeps the p114 shape (frontier
  -edges equi-join, argmin fold now carrying the pred column); the
  reconstruction rounds each broadcast the 4-row walk table against the
  converged best frame — `BroadcastHashJoin ... ExistingRDD` with the
  walk side as build, so the best-cost table is scanned, never
  exchanged; the final output joins the in-plan walk-cost law the same
  way.
- p117 (distributed BPE): each merge round's plan is the pair explode
  (projection-bound transform over the bound `__a` attribute — no
  re-evaluated subtree per element) into a two-phase partial/final
  aggregate and a 1-row TakeOrdered argmax; applyMerge rounds stack as
  pure projections between ExistingRDD barrier cuts — the vocab frame
  never leaves the cluster and nothing corpus-sized appears after the
  one wordCounts scan.
- r03 (real-raster macro): the plan is segment-parallel end to end — the
  500-strip ExistingRDD feeds the per-tile mapPartitions conversion
  (data-box pruned), one partial/final compact aggregate on value, and a
  projection computing the coverage sum; the only exchange carries the
  per-value compacted buffers, never raw cells-by-pixel rows.
- h3_31 (misc laws): the per-event law columns are one codegen'd
  projection over the events scan; the F5/G6 global booleans arrive as
  three broadcast 1-row frames — no shuffle over events except the
  final presentation sort.

Codegen coverage audit (round 14): every hot geometry expression runs
inside WholeStageCodegen — h3_25's Final Plan is a single codegen span
(explode(h3_grid_disk) in Generate, the h3_cell_bbox envelope predicate
and h3_cell_intersects_polygon in the same `* Project [codegen id : 1]`,
partial aggregate included), and h3_12/h3_02/h3_31 show
h3_latlng_to_cell / h3_cell_to_latlng / h3_cell_to_parent / area-length
expressions inside `*`-starred operators. When scanning this file for
codegen evidence, read the `== Final Plan ==` section only: AQE prints
the `== Initial Plan ==` operators WITHOUT codegen annotations, so they
look interpreted but never execute in that form. The only genuinely
interpreted sites, both by construction: ObjectHashAggregate for
h3_compact_agg (TypedImperativeAggregate — object-based by design, the
buffer is a cell set) and higher-order-function lambdas (Spark evaluates
LambdaFunction bodies interpreted; the hot per-row array kernels already
have dedicated codegen expressions — SortedLongArrayIntersectSize,
DoubleArrayDot, MinHashSignature — and the remaining lambdas sit over
bounded arrays like h3_30's 7-element disk filter).

""")
    for (name <- Captured) {
      val df = SparkEntry.queries(name)(spark, dir)
      // execute through the SAME QueryExecution so the dump is the FINAL
      // adaptive plan (AQE broadcast conversions, coalesced/skewed reads)
      // rather than the static guess — a count() would plan separately
      df.collect()
      sb.append(s"## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n```\n\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/root/repo/PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote ${sb.length} chars for ${Captured.length} plans")
    spark.stop()
  }
}
