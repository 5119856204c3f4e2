package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{InSet, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

import graft.expr.NgramHashKernel
import graft.util.Barriers.freeAll
import graft.util.DriverRegime

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard (engine extension beyond the reference).
 *
 * Scale design (100 TB): every operator is a declarative plan —
 *  - exact dedup shuffles a 64-bit content hash, never the full text;
 *  - MinHash signatures are one explode + one hash-partitioned aggregate
 *    with map-side partial min; LSH candidate generation is an equi-join on
 *    (band index, band value), i.e. the classic bucket join, skew-safe under
 *    AQE;
 *  - pairwise verification only runs on LSH candidates, never all pairs.
 */
object Dedup {

  val MinHashPrime: Long = 2147483647L // 2^31 - 1, Mersenne

  /** Exact dedup: keep the row with the smallest `tieBreak` per distinct
    * `key`. Partitions by (60-bit hash, key): the hash spreads giant keys
    * evenly across the shuffle while the full key disambiguates hash
    * collisions — at billions of documents, 60-bit birthday collisions are
    * expected, and hashing alone would silently drop distinct rows. */
  def exactDedup(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    // xxhash64: the hash is engine-internal (only the shuffle key), so the
    // codegen-native hash beats md5 with identical semantics
    val w = Window.partitionBy(xxhash64(key), key).orderBy(tieBreak.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** (a_i, b_i) coefficients for the i-th MinHash permutation — fixed,
    * engine-independent constants. */
  def minHashCoeffs(i: Int): (Long, Long) = graft.expr.MinHashKernel.coeffs(i)

  /** Per-document MinHash signature over word-`ngram` shingles.
    * Output: idCol, minhash_0..minhash_{k-1}; documents with no shingles
    * produce no row.
    *
    * Entirely per-row array arithmetic — shingle bytes, md5, and the k
    * permutation minima fused into ONE codegen'd kernel pass
    * ([[graft.expr.MinHashSignature]]; the composed transform+aggregate
    * form paid an interpreted lambda per shingle and k struct rebuilds
    * per element). Signatures therefore need NO explode and NO shuffle
    * (a groupBy formulation shuffles |docs| x |shingles| rows; at 100 TB
    * that shuffle IS the job).
    *
    * The no-shingle filter runs BEFORE hashing, on the cheap token count
    * (>= 1 shingle <=> >= ngram tokens): filtering on the signature
    * output would collapse into the scan stage and re-evaluate the md5
    * pipeline once for the predicate and once for the projection. */
  def minHashSignatures(df: DataFrame, id: Column, text: Column, k: Int, ngram: Int = 2): DataFrame = {
    df.filter(size(TextOps.tokens(text)) >= ngram)
      .select(id.as("__id"),
        graft.functions.minhash_signature(TextOps.tokens(text), ngram, k).as("__sig"))
      .select((col("__id") +:
        (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"minhash_$i"))): _*)
  }

  /** LSH banding over a MinHash signature: `bands` bands of `rowsPerBand`
    * signature rows, each band packed into one 64-bit value
    * (m1 * p + m2 fits: p^2 < 2^63). Output: __id, band_idx, band_val. */
  def lshBands(sig: DataFrame, k: Int, rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0)
    // positional packing m1 * p + m2 requires p^rowsPerBand < 2^63; beyond
    // two rows it overflows int64 and bands silently collide
    require(rowsPerBand <= 2, s"rowsPerBand=$rowsPerBand overflows 64-bit band packing (max 2)")
    val bands = k / rowsPerBand
    val bandCols = (0 until bands).map { b =>
      (0 until rowsPerBand).map(r => col(s"minhash_${b * rowsPerBand + r}"))
        .reduce((x, y) => x * MinHashPrime + y)
    }
    sig.select(col("__id"), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
  }

  /** Hard ceiling on PAIRWISE LSH bucket membership: a bucket larger than
    * this has its quadratic pair expansion truncated (smallest
    * `MaxLshBucket` ids kept) instead of exploding — a hot band value
    * (near-empty or templated documents sharing one signature) would
    * otherwise make a single task's pair expansion unbounded
    * (OOM/straggler at scale). Members beyond the cap are NOT lost:
    * every member of an overflowing bucket additionally gets a LINEAR
    * "star" candidate pair against the bucket's minimum id, so a true
    * mega-duplicate group still collapses to one representative under
    * [[nearDedup]] (verified by DedupSkewProbe with a 10k-member clone
    * group) while the bucket's candidate volume stays O(|bucket|).
    * Truncation degrades only which NON-star pairs are enumerated for
    * the pathological bucket. */
  val MaxLshBucket: Int = 4096

  /** Candidate near-dup pairs: documents sharing at least one LSH band.
    * Bucket-local pair generation: group by (band_idx, band_val), collect
    * the (small) member set per bucket, and explode its ordered pairs —
    * ONE pass over the signature pipeline and one shuffle, where a
    * self-join would evaluate the whole MinHash subtree twice (aliased
    * branches defeat exchange reuse). Near-dup buckets are tiny by
    * construction; a pathological hot bucket is truncated at
    * [[MaxLshBucket]] so it degrades recall instead of killing the job.
    *
    * Small regime (integral ids): the measured frame is the band rows, one
    * per (document, band), computed in one scan job by the same
    * signature and band expressions. At or under
    * `graft.layout.clusterMinRows` they are collected and bucketed on the
    * driver with the same semantics (the `maxBucket` smallest distinct
    * ids per bucket, plus the overflow stars), and the distinct pairs come
    * back as a local relation — unless the enumeration would pass the
    * bound too, in which case the distributed path runs over the band
    * rows already materialized. */
  def lshCandidatePairs(df: DataFrame, id: Column, text: Column, k: Int = 8,
      rowsPerBand: Int = 2, ngram: Int = 2, maxBucket: Int = MaxLshBucket): DataFrame =
    lshCandidatePairsFreeable(df, id, text, k, rowsPerBand, ngram, maxBucket)._1

  /** [[lshCandidatePairs]] plus the release thunk for the band checkpoint
    * the distributed path pins when capped or past the bound (a no-op
    * otherwise, and in the small regime). Same contract as
    * `Barriers.freeThunk`: invoke only after every consumer of the
    * returned frame has materialized — the blocks ARE the frame's lineage.
    * The thunk-less overload above leaves the blocks pinned for the
    * session (the bench/oracle harnesses drop them between queries via
    * `Bench.dropLeakedBlocks`); library callers composing further work in
    * one session should use this variant ([[nearDedupFreeable]] does). */
  def lshCandidatePairsFreeable(df: DataFrame, id: Column, text: Column, k: Int = 8,
      rowsPerBand: Int = 2, ngram: Int = 2,
      maxBucket: Int = MaxLshBucket): (DataFrame, () => Unit) = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val bands0 = lshBands(minHashSignatures(df, id, text, k, ngram), k, rowsPerBand)
    val idType = bands0.schema("__id").dataType
    val integral = DriverRegime.integral(idType)
    // the star branch below reads the band frame a second time, and the
    // small regime measures it; checkpoint the slim (id, band_idx,
    // band_val) rows so the whole signature pipeline does not re-run per
    // consumer (uncapped callers with other ids — the p06 oracle contract
    // is uncapped — keep the single-pass plan, no checkpoint)
    val capped = maxBucket < Int.MaxValue
    val (bands, freeBands) =
      if (capped || integral) { val b = bands0.localCheckpoint(false); (b, freeAll(Seq(b))) }
      else (bands0, NoopFree)
    if (integral) {
      val local = DriverRegime.collectIfSmall(bands, NoopFree)
        .flatMap(lshPairsLocal(df.sparkSession, _, maxBucket, idType))
      if (local.isDefined) { freeBands(); return (local.get, NoopFree) }
    }
    val pairwise = bands
      .groupBy(col("band_idx"), col("band_val"))
      // bounded min-k aggregate == slice(sort_array(collect_set), 1, cap)
      // but the buffer is O(cap) BY CONSTRUCTION: a degenerate hot band of a
      // billion members shuffles partitions×cap ids, not a billion
      .agg(graft.functions.collect_min_k(col("__id"), maxBucket).as("ids"))
      .filter(size(col("ids")) >= 2)
      // two-level explode STREAMS the ordered pairs through codegen with
      // O(cap) peak task memory (one ids array held per input row) — a
      // flatten(transform(transform)) materialized the full O(cap^2) pair
      // array per bucket row first (~8.4M structs / ~134 MB for a
      // truncated 4096-member mega-dup bucket: one task's heap spike at
      // scale). Identical pair set (p06 oracle-pinned).
      .select(col("ids"), posexplode(col("ids")).as(Seq("__i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("__i") + lit(2), size(col("ids")))).as("id_b"))
    if (!capped) return (pairwise.distinct(), freeBands)
    // OVERFLOW STARS: truncation alone leaves every beyond-cap member of a
    // mega-dup bucket in NO candidate pair — a 10k-member duplicate group
    // would keep ~6k near-identical survivors (measured by DedupSkewProbe).
    // For each overflowing bucket, emit the LINEAR star (bucket-min,
    // member) for every member instead: the group's canonical minimum gets
    // a verified pair with each clone, so a true mega-dup group collapses
    // to one representative while the pair count stays O(|bucket|), never
    // O(|bucket|^2). The overflow keys come from a LIGHT second aggregate
    // over the checkpointed band rows (count+min, no array buffer — the
    // min-k aggregate above keeps its original single-consumer shape).
    // Overflow buckets number at most |bands| / cap — normally a handful,
    // which AQE broadcasts from its exact runtime size; no forced hint,
    // so the everything-overflows pathology still gets a safe shuffled
    // join instead of an unbounded broadcast build.
    // countDistinct, not count: collect_min_k above is SET-semantic, so a
    // caller feeding duplicate ids must not trip the overflow branch for a
    // bucket whose distinct membership is within the cap (the oracle
    // models one row per representative)
    val overflow = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(countDistinct(col("__id")).as("__n"), min(col("__id")).as("__min"))
      .filter(col("__n") > maxBucket)
      .select(col("band_idx"), col("band_val"), col("__min"))
    val stars = bands.join(overflow, Seq("band_idx", "band_val"))
      .filter(col("__id") =!= col("__min"))
      .select(col("__min").as("id_a"), col("__id").as("id_b"))
    (pairwise.unionByName(stars).distinct(), freeBands)
  }

  /** no-op release thunk (uncapped paths create no checkpoint). */
  private val NoopFree: () => Unit = () => ()

  /** The small regime of [[lshCandidatePairsFreeable]] over the collected
    * `(__id, band_idx, band_val)` rows: per bucket, the distinct ids
    * ascending cut to the `maxBucket` smallest (`collect_min_k`) give their
    * ordered pairs, and a bucket of more distinct ids also gives the star
    * (bucket minimum, member) for every other member. Null ids drop out,
    * as they do from the aggregates. The distinct pairs as a local
    * relation, or None when enumerating them would pass the layout bound. */
  private def lshPairsLocal(spark: SparkSession, bands: Array[Row], maxBucket: Int,
      idType: DataType): Option[DataFrame] = {
    val buckets = bands.filter(_.getAs[Any]("__id") != null)
      .groupBy(r => (r.getAs[Int]("band_idx"), r.getAs[Long]("band_val")))
      .values.map(_.map(_.getAs[Number]("__id").longValue).distinct.sorted)
    // an upper bound on the pairs before the distinct: the pairs of the
    // kept ids plus one star per other member
    val enumerated = buckets.iterator.map { ids =>
      val kept = math.min(ids.length, maxBucket).toLong
      kept * (kept - 1) / 2 + (if (ids.length > maxBucket) ids.length - 1 else 0)
    }.sum
    if (!CheckpointLayout.smallRegime(spark, enumerated)) None
    else {
      val pairs = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      buckets.foreach { ids =>
        val kept = math.min(ids.length, maxBucket)
        for (i <- 0 until kept; j <- i + 1 until kept) pairs += ((ids(i), ids(j)))
        if (ids.length > maxBucket) ids.iterator.drop(1).foreach(x => pairs += ((ids(0), x)))
      }
      def v(x: Long) = DriverRegime.idValue(idType, x)
      Some(DriverRegime.frame(spark, pairs.toSeq.map { case (a, b) => Row(v(a), v(b)) },
        StructType(idPairFields(idType))))
    }
  }

  /** The `(id_a, id_b)` fields of a small-regime pair frame. */
  private def idPairFields(idType: DataType): Seq[StructField] =
    Seq(StructField("id_a", idType, nullable = false), StructField("id_b", idType, nullable = false))

  /** Exact n-gram Jaccard similarity over the whole input: distinct
    * character `n`-gram sets, every pair whose e4-quantized similarity
    * reaches `threshold` — no false negatives.
    *
    * Candidates come from PREFIX FILTERING (same principle as
    * [[prefixJaccardJoin]]): a pair at quantized similarity >= threshold
    * has true similarity >= `(2*ceil(threshold*1e4) - 1) / 20000`, so the
    * two documents must share a gram inside their rarity-ordered prefixes
    * of length `|x| - ceil(t'*|x|) + 1`. The candidate join therefore runs
    * only on each doc's rarest ~(1-t') gram fraction — the previous
    * all-shared-grams self-join paid SUM(df^2) over EVERY gram, which is
    * quadratic in duplicate-group size (measured: 117 s at the sf1.0
    * rehearsal's 10-member near-dup groups vs ~2 s via prefixes, identical
    * output). `t'` is lowered one e4 lattice step so double rounding at
    * the quantize boundary can never drop a pair the final filter — the
    * UNCHANGED float expression, hash-pinned by the p07 oracle — keeps. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double): DataFrame =
    ngramJaccardPairsFreeable(df, id, text, n, threshold)._1

  /** [[ngramJaccardPairs]] plus the release thunk for its four pinned
    * staging checkpoints (grams / doc arrays / prefixes / intersections). */
  def ngramJaccardPairsFreeable(df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double): (DataFrame, () => Unit) = {
    // the final filter keeps lattice value k/1e4 >= threshold, whose
    // smallest surviving k is >= round(threshold*1e4) (proof: if t*1e4
    // rounds up to k then t > (k-0.5)/1e4 > (k-1)/1e4, so k-1 cannot
    // survive) — and k/1e4 >= threshold requires true similarity
    // x >= (k-0.5)/1e4. ceil() here would OVERSHOOT for thresholds whose
    // double renders as t*1e4 = k + 1e-12 (576 of the 10000 e4 lattice
    // doubles), consuming the safety margin and dropping boundary pairs.
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tE4 = math.round(threshold * 10000.0)
    // loose rational bound (tE4-1)/1e4: a full half lattice step (5e-5,
    // >> any double rounding) below the smallest similarity the final
    // filter can keep
    val (tNum, tDen) = (math.max(2 * tE4 - 2, 1L), 20000L)
    ngramJaccardPairsImpl(df, id, text, n, threshold, tNum, tDen)
  }

  private def ngramJaccardPairsImpl(df: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double, tNum: Long, tDen: Long): (DataFrame, () => Unit) = {
    val grams = df.select(id.as("__id"),
      explode(graft.functions.sorted_distinct_ngram_hashes(lower(trim(text)), n)).as("__g"))
      .localCheckpoint(false)
    val dfreq = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    // per-doc gram list rarest-first; one frame feeds the prefix explode
    // and both verify sides (barrier against re-derivation)
    val docArr = grams.join(dfreq, Seq("__g"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__g")))).as("__a"))
      .select(col("__id"), transform(col("__a"), x => x.getField("__g")).as("__toks"),
        size(col("__a")).cast("long").as("__n"))
      .localCheckpoint(false)
    val plen = (col("__n") - expr(s"(($tNum * __n + ${tDen - 1}) div $tDen)") + 1)
      .cast("int")
    // checkpointed: both aliased sides of the self-join read this frame,
    // and aliased branches defeat exchange reuse (the lesson the previous
    // implementation measured on its gram table)
    val pref = docArr.select(col("__id"),
      explode(slice(col("__toks"), lit(1), plen)).as("__pt"))
      .localCheckpoint(false)
    val cand = pref.select(col("__pt"), col("__id").as("id_a"))
      .join(pref.select(col("__pt"), col("__id").as("id_b")), Seq("__pt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = cand
      .join(docArr.select(col("__id").as("id_a"), col("__toks").as("__ta"),
        col("__n").as("__na")), "id_a")
      .join(docArr.select(col("__id").as("id_b"), col("__toks").as("__tb"),
        col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ta"), col("__tb"))).cast("long").as("__inter"),
        col("__na"), col("__nb"))
      .localCheckpoint(false) // barrier: keep the jaccard arithmetic out of pushdown
    (inter
      .withColumn("jaccard", // floor-quantized: see TextOps.qualityScore note
        floor(col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter")).cast("double") * 10000.0 + 0.5)
          .cast("double") / 10000.0)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard")),
      freeAll(Seq(grams, docArr, pref, inter)))
  }

  /**
   * EXACT n-gram Jaccard similarity join by prefix filtering (SSJoin,
   * Chaudhuri et al. ICDE'06; All-Pairs, Bayardo et al. WWW'07): every
   * pair at or above `tNum/tDen` is returned — no false negatives,
   * unlike MinHash banding — yet candidates never form on common grams.
   *
   * Principle: order each document's gram set by global rarity (df asc,
   * gram asc — any total order works); if J(A,B) ≥ t, then A and B must
   * share a gram within their PREFIXES of length |x| − ⌈t·|x|⌉ + 1
   * (otherwise the overlap is too small to reach t). So the candidate
   * join runs only on each doc's rarest ~(1−t) fraction of grams — the
   * stopword gram that pairs half the corpus in [[ngramJaccardPairs]]'
   * all-shared-gram join never generates a candidate here, because it
   * sorts to the END of every prefix-truncated list. Join cost drops
   * from Σ df² over all grams to Σ df² over rare prefix grams.
   *
   * Threshold is a rational `tNum/tDen` and the filter compares
   * `inter·tDen ≥ union·tNum` in integers — engine-exact. Output:
   * `(id_a, id_b, inter, uni, jac_e6)`, each qualifying pair once.
   */
  def prefixJaccardJoin(df: DataFrame, id: Column, text: Column, n: Int,
      tNum: Int, tDen: Int): DataFrame =
    prefixJaccardJoinFreeable(df, id, text, n, tNum, tDen)._1

  /** [[prefixJaccardJoin]] plus the release thunk for its three pinned
    * staging checkpoints (grams / doc arrays / prefixes). */
  def prefixJaccardJoinFreeable(df: DataFrame, id: Column, text: Column, n: Int,
      tNum: Int, tDen: Int): (DataFrame, () => Unit) = {
    require(tNum > 0 && tNum <= tDen, s"need 0 < tNum/tDen <= 1, got $tNum/$tDen")
    val grams = df.select(id.cast("long").as("__id"),
      explode(graft.functions.sorted_distinct_ngram_hashes(lower(trim(text)), n)).as("__g"))
      .localCheckpoint(false)
    val dfreq = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    // per-doc gram list, rarest first; one frame feeds the prefix
    // explode and both verify sides (barrier against re-derivation)
    val docArr = grams.join(dfreq, Seq("__g"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__g")))).as("__a"))
      .select(col("__id"), transform(col("__a"), x => x.getField("__g")).as("__toks"),
        size(col("__a")).cast("long").as("__sz"))
      .localCheckpoint(false)
    val plen = (col("__sz") - expr(s"(($tNum * __sz + ${tDen - 1}) div $tDen)") + 1)
      .cast("int")
    // checkpointed: both aliased sides of the self-join read this frame
    // (aliased branches defeat exchange reuse)
    val pref = docArr.select(col("__id"),
      explode(slice(col("__toks"), lit(1), plen)).as("__pt"))
      .localCheckpoint(false)
    val cand = pref.select(col("__pt"), col("__id").as("id_a"))
      .join(pref.select(col("__pt"), col("__id").as("id_b")), Seq("__pt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    (cand
      .join(docArr.select(col("__id").as("id_a"), col("__toks").as("__ta"),
        col("__sz").as("__sa")), "id_a")
      .join(docArr.select(col("__id").as("id_b"), col("__toks").as("__tb"),
        col("__sz").as("__sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("uni", col("__sa") + col("__sb") - col("inter"))
      .filter(col("inter") * lit(tDen.toLong) >= col("uni") * lit(tNum.toLong))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        expr("(inter * 1000000) div uni").as("jac_e6")),
      freeAll(Seq(grams, docArr, pref)))
  }

  /** Verify candidate pairs by exact character-n-gram Jaccard, computing
    * gram sets ONLY for documents that appear in a candidate pair (the
    * scale-critical restriction: verification cost scales with candidates,
    * not the corpus). Output: (id_a, id_b, jaccard) for pairs at or above
    * `threshold`.
    *
    * Small regime (pair and corpus ids of one integral type): the measured
    * frame is the candidate pairs, read without a job when they are a
    * local relation (a small-regime [[lshCandidatePairs]]). At or under
    * `graft.layout.clusterMinRows` one scan job collects, for candidate
    * ids only, the text hash, the gram count and the sorted gram hashes by
    * the same expressions; the driver then runs the same identical-text
    * fast path, intersection kernel and quantized Jaccard, keeps the
    * joins' row multiplicity for repeated corpus ids, and returns a local
    * relation. */
  def ngramJaccardVerify(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, pairs0: DataFrame): DataFrame =
    ngramJaccardVerifyFreeable(df, id, text, n, threshold, pairs0)._1

  /** [[ngramJaccardVerify]] plus the release thunk for its internal
    * staging checkpoints (pairs/fingerprints/hash-join/intersections) —
    * `Barriers.freeThunk` contract: call only after every consumer
    * of the returned frame has materialized. */
  def ngramJaccardVerifyFreeable(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, pairs0: DataFrame): (DataFrame, () => Unit) = {
    val idType = df.select(id).schema.head.dataType
    val integral = DriverRegime.integral(idType) &&
      Seq("id_a", "id_b").forall(pairs0.schema(_).dataType == idType)
    val local = if (integral) DriverRegime.localRows(pairs0) else None
    if (local.isDefined) return (verifyLocal(df, id, text, n, threshold, local.get, idType), NoopFree)
    // pairs feeds three consumers and grams three more; without a
    // materialization barrier Spark re-evaluates the full upstream pipeline
    // (the MinHash subtree for pairs, the md5 gram explode) once per
    // consumer — measured 4x cost at sf0.1. These are the small
    // intermediates of the pipeline, exactly what production staging would
    // persist.
    // Identical-text fast path: at scale, near-dup corpora are dominated
    // by pairs of byte-identical documents, whose gram sets are equal, so
    // jaccard is exactly 1.0 — no intersection needed. Text fingerprints
    // (id, hash, gram count) are restricted to CANDIDATE ids before the
    // broadcast: the broadcast side must be bounded by the candidate set,
    // not the corpus — a full-corpus broadcast OOMs the driver at the
    // billions-of-documents scale this pipeline is designed for.
    // `__gn > 0` preserves the NULL-drop semantics of 0/0 for texts
    // shorter than the gram size. Gram sets are then built ONLY for docs
    // appearing in some differing-text pair.
    val pairs = pairs0.localCheckpoint(false)
    val collected =
      if (integral) DriverRegime.collectIfSmall(pairs, freeAll(Seq(pairs))) else None
    if (collected.isDefined)
      return (verifyLocal(df, id, text, n, threshold, collected.get, idType), NoopFree)
    val candIds = pairs.select(col("id_a").as("__id"))
      .unionByName(pairs.select(col("id_b").as("__id"))).distinct()
    val textInfo = df.select(id.as("__id"), xxhash64(text).as("__th"),
      greatest(length(lower(trim(text))) - (n - 1), lit(0)).as("__gn"))
      .join(candIds, "__id")
      .localCheckpoint(false)
    val pairsH = pairs
      .join(broadcast(textInfo.select(col("__id").as("id_a"), col("__th").as("__ta"),
        col("__gn").as("__gna"))), Seq("id_a"))
      .join(broadcast(textInfo.select(col("__id").as("id_b"), col("__th").as("__tb"))), Seq("id_b"))
      .localCheckpoint(false)
    val identical = pairsH.filter(col("__ta") === col("__tb") && col("__gna") > 0)
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val differing = pairsH.filter(col("__ta") =!= col("__tb"))
      .select(col("id_a"), col("id_b"))
    val diffIds = differing.select(col("id_a").as("__id"))
      .unionByName(differing.select(col("id_b").as("__id"))).distinct()
    // one gram-set row per differing-pair doc; intersections then run as
    // cheap per-pair array ops instead of a pairs x grams fan-out join
    // (which shuffles |pairs| * |grams/doc| rows — 31M at sf0.1). Grams
    // are xxhash64'd to longs (codegen-native, 25x cheaper than md5; counts
    // unaffected short of a 2^-64 collision), deduplicated, and SORTED so
    // the per-pair intersection is a single merge walk
    // (SortedLongArrayIntersectSize) instead of a per-evaluation hash set.
    // one codegen'd loop per doc (SortedDistinctNgramHashes). NOT
    // checkpointed: the kernel made recomputation cheaper than
    // materializing the wide gram arrays into block storage (measured
    // ~0.2 s per re-evaluation vs ~1.9 s for the checkpoint at sf0.1);
    // the two broadcast consumers just evaluate the slim subtree twice.
    val gramSets = df.select(id.as("__id"), text.as("__text")).join(diffIds, "__id")
      .select(col("__id"),
        graft.functions.sorted_distinct_ngram_hashes(lower(trim(col("__text"))), n).as("__gs"))
      .select(col("__id"), col("__gs"), size(col("__gs")).cast("long").as("__n"))
    // candidate gram sets are small (candidates only, ~3.6 KB/doc): hash
    // them to every task instead of shuffling pair rows carrying arrays.
    // The slim (ids, counts) projection is checkpointed BEFORE the jaccard
    // arithmetic: filter pushdown would otherwise inline the intersection
    // expression into both the predicate and the projection, evaluating
    // the merge walk several times per pair.
    val interCol = graft.functions.sorted_long_array_intersect_size(col("__ga"), col("__gb"))
    val inter = differing
      .join(broadcast(gramSets.select(col("__id").as("id_a"), col("__gs").as("__ga"),
        col("__n").as("__na"))), Seq("id_a"))
      .join(broadcast(gramSets.select(col("__id").as("id_b"), col("__gs").as("__gb"),
        col("__n").as("__nb"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"), interCol.as("__inter"), col("__na"), col("__nb"))
      .localCheckpoint(false)
    // two gram sets empty (texts shorter than n) leave a NULL jaccard,
    // which the threshold filter drops: the NULL-drop semantics of 0/0
    val union = col("__na") + col("__nb") - col("__inter")
    val verified = inter
      .withColumn("jaccard", when(union > 0,
        floor(col("__inter").cast("double") / union.cast("double") * 10000.0 + 0.5)
          .cast("double") / 10000.0))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (identical.unionByName(verified), freeAll(Seq(pairs, textInfo, pairsH, inter)))
  }

  /** The small regime of [[ngramJaccardVerifyFreeable]] over the collected
    * candidate `pairs`. Like the distributed joins, a pair meets every
    * corpus row of each of its ids: each combination of byte-identical
    * texts with grams gives a 1.0 row, and each combination of differing
    * texts gives one copy of the Jaccard rows over all combinations. */
  private def verifyLocal(df: DataFrame, id: Column, text: Column, n: Int,
      threshold: Double, pairs: Array[Row], idType: DataType): DataFrame = {
    val spark = df.sparkSession
    final class Doc(val hash: Long, val gramCount: Long, val gramSet: ArrayData)
    val ids = pairs.iterator.flatMap(r => Iterator(r.getAs[Any]("id_a"), r.getAs[Any]("id_b")))
      .filter(_ != null).toSet
    val t = lower(trim(text))
    val docs = df.select(id.as("__id"), xxhash64(text).as("__th"),
        greatest(length(t) - (n - 1), lit(0)).as("__gn"),
        graft.functions.sorted_distinct_ngram_hashes(t, n).as("__gs"))
      .filter(shims.column(InSet(shims.expression(col("__id")), ids)))
      .collect()
      .groupBy(_.getAs[Any]("__id"))
      .map { case (k, rs) => k -> rs.map { r =>
        new Doc(r.getAs[Long]("__th"), r.getAs[Int]("__gn").toLong,
          Option(r.getAs[scala.collection.Seq[Long]]("__gs"))
            .map(g => UnsafeArrayData.fromPrimitiveArray(g.toArray)).orNull)
      } }
    val out = Seq.newBuilder[Row]
    pairs.foreach { p =>
      val (a, b) = (p.getAs[Any]("id_a"), p.getAs[Any]("id_b"))
      val (da, db) = (docs.getOrElse(a, Array.empty[Doc]), docs.getOrElse(b, Array.empty[Doc]))
      var differing = 0
      for (x <- da; y <- db) {
        if (x.hash != y.hash) differing += 1
        else if (x.gramCount > 0 && 1.0 >= threshold) out += Row(a, b, 1.0)
      }
      if (differing > 0) {
        val verified = for (x <- da; y <- db if x.gramSet != null && y.gramSet != null;
            j <- jaccardE4(NgramHashKernel.intersectSize(x.gramSet, y.gramSet),
              x.gramSet.numElements(), y.gramSet.numElements()) if j >= threshold)
          yield Row(a, b, j)
        for (_ <- 1 to differing) out ++= verified
      }
    }
    DriverRegime.frame(spark, out.result(),
      StructType(idPairFields(idType) :+ StructField("jaccard", DoubleType, nullable = false)))
  }

  /** The verifier's floor-quantized Jaccard of two gram sets of sizes `na`
    * and `nb` sharing `inter`, evaluated as its Spark expression is; none
    * for two empty sets, which that expression leaves NULL. */
  private def jaccardE4(inter: Long, na: Long, nb: Long): Option[Double] = {
    val union = na + nb - inter
    Option.when(union > 0)(
      math.floor(inter.toDouble / union.toDouble * 10000.0 + 0.5).toLong.toDouble / 10000.0)
  }

  /** End-to-end near-duplicate removal: LSH candidate generation, exact
    * Jaccard verification on candidates only, then drop the higher id of
    * every verified pair (keep the canonical minimum representative). */
  def nearDedup(df: DataFrame, id: Column, text: Column, k: Int = 8,
      rowsPerBand: Int = 2, ngram: Int = 2, verifyN: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = MaxLshBucket): DataFrame =
    nearDedupFreeable(df, id, text, k, rowsPerBand, ngram, verifyN, threshold,
      maxBucket)._1

  /** [[nearDedup]] plus one release thunk for EVERY lazy checkpoint the
    * composition pins (the corpus barrier, the capped band frame, the
    * verify staging frames). The thunk-less overload leaves those
    * MEMORY_AND_DISK blocks pinned for the session — fine under the
    * bench/verify harnesses, which drop leaked blocks between queries, but
    * a library caller composing downstream work in one long-lived session
    * (the 100 TB path: leaked generations squeeze later queries' execution
    * memory, measured 10 s → 29 s at sf1.0) should use this variant and
    * invoke the thunk once every consumer of the returned survivors frame
    * has materialized. After the thunk runs the returned frame is DEAD
    * (its lineage is truncated at the freed blocks) — write it out or
    * re-checkpoint first. */
  def nearDedupFreeable(df: DataFrame, id: Column, text: Column, k: Int = 8,
      rowsPerBand: Int = 2, ngram: Int = 2, verifyN: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = MaxLshBucket): (DataFrame, () => Unit) = {
    // four consumers read the corpus (signatures, fingerprints, gram sets,
    // the final drop); one materialization replaces four scans of the
    // upstream plan (source union/filters re-run per consumer otherwise)
    val dfc = df.localCheckpoint(false)
    val (pairs, freePairs) =
      lshCandidatePairsFreeable(dfc, id, text, k, rowsPerBand, ngram, maxBucket)
    val (verified, freeVerify) =
      ngramJaccardVerifyFreeable(dfc, id, text, verifyN, threshold, pairs)
    (dropVerified(dfc, id, verified),
      () => { freePairs(); freeVerify(); freeAll(Seq(dfc))() })
  }

  /** floor-quantized 4-decimal cosine from pre-computed norms — the
    * cross-engine-safe quantization (Spark round() is decimal HALF_UP,
    * DuckDB round() differs on .5 boundaries; floor(x*1e4+0.5) agrees
    * bit-for-bit, the same convention as jaccard/quality). */
  private def quantizedCosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    Similarity.quantize4(Similarity.dot(va, vb) / (na * nb))

  /** near-dedup retention policy: drop the higher id of every verified
    * pair, keeping the canonical minimum representative. The small
    * regime's verified pairs are a local relation: their ids filter the
    * corpus in place (a join would broadcast them through a job of its
    * own); NULL ids stay, as under the anti-join. */
  private def dropVerified(df: DataFrame, id: Column, verified: DataFrame): DataFrame =
    (if (DriverRegime.integral(verified.schema("id_b").dataType))
      DriverRegime.localRows(verified) else None) match {
      case Some(rows) =>
        val drop = rows.iterator.map(_.getAs[Any]("id_b")).filter(_ != null).toSet
        df.filter(id.isNull || !shims.column(InSet(shims.expression(id), drop)))
      case None =>
        df.join(verified.select(col("id_b").as("__drop")).distinct(),
          id === col("__drop"), "left_anti")
    }

  /** Exact embedding near-duplicate pairs: all (id_a < id_b) pairs with
    * quantized cosine similarity >= `threshold`. Brute-force N^2 — the
    * verification-quality op; at scale feed it LSH-bucketed candidates
    * ([[embeddingNearDupLsh]]) instead of the full corpus. The slim
    * projection is checkpointed before the threshold filter so pushdown
    * cannot inline the 64-dim cosine into both predicate and projection. */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame =
    embeddingNearDupPairsFreeable(df, id, vec, threshold)._1

  /** [[embeddingNearDupPairs]] plus the release thunk for the pinned sim
    * barrier (`Barriers.freeThunk` contract). */
  def embeddingNearDupPairsFreeable(df: DataFrame, id: Column, vec: Column,
      threshold: Double): (DataFrame, () => Unit) = {
    val a = df.select(id.as("id_a"), vec.cast("array<double>").as("__va"))
      .withColumn("__na", Similarity.l2Norm(col("__va")))
    val b = df.select(id.as("id_b"), vec.cast("array<double>").as("__vb"))
      .withColumn("__nb", Similarity.l2Norm(col("__vb")))
    val sims = a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        quantizedCosine(col("__va"), col("__vb"), col("__na"), col("__nb")).as("sim"))
      .localCheckpoint(false)
    (sims.filter(col("sim") >= threshold), freeAll(Seq(sims)))
  }

  /** Embedding near-dedup, scale path: bucket by deterministic
    * random-hyperplane signature (sign pattern is invariant under positive
    * scaling, so scaled duplicates always share a bucket), generate pairs
    * within buckets only, verify by exact cosine, drop the higher id of
    * each verified pair. Candidate cost ~ corpus^2 / 2^bits; recall is
    * bounded by bucket collisions (spec-checked against brute force). */
  def embeddingNearDupLsh(df: DataFrame, id: Column, vec: Column,
      dim: Int, bits: Int, threshold: Double): DataFrame =
    embeddingNearDupLshFreeable(df, id, vec, dim, bits, threshold)._1

  /** [[embeddingNearDupLsh]] plus the release thunk for its pinned
    * checkpoints (bucket frame + sim barrier). */
  def embeddingNearDupLshFreeable(df: DataFrame, id: Column, vec: Column,
      dim: Int, bits: Int, threshold: Double): (DataFrame, () => Unit) = {
    val bk = Similarity.hyperplaneBuckets(df.select(id.as("__id"), vec.as("__v")),
      col("__id"), col("__v"), dim, bits).localCheckpoint(false)
    val a = bk.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").cast("array<double>").as("__va"))
      .withColumn("__na", Similarity.l2Norm(col("__va")))
    val b = bk.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").cast("array<double>").as("__vb"))
      .withColumn("__nb", Similarity.l2Norm(col("__vb")))
    val sims = a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        quantizedCosine(col("__va"), col("__vb"), col("__na"), col("__nb")).as("sim"))
      .localCheckpoint(false)
    val verified = sims.filter(col("sim") >= threshold)
    (dropVerified(df, id, verified), freeAll(Seq(bk, sims)))
  }

  /** SemDeDup-style SEMANTIC dedup (the Abbas et al. 2023 shape,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * deduplicate WITHIN clusters only — a vector is dropped when a
    * lower-id vector in the SAME cluster has quantized cosine >=
    * `threshold`. Output: (vec_id, centroid_id) for the survivors.
    *
    * This is the scale path between brute force and LSH: pairwise cost is
    * Σ_c size_c² instead of N², and `m` grows with the corpus so
    * per-cluster size stays bounded (100-TB tuning: m ≈ N/10⁵ keeps
    * clusters ~10⁵ vectors; the centroid frame is m rows — broadcast-sized
    * at any realistic m — and training cost is [[Similarity.kMeansCentroids]]'s
    * iters × (broadcast crossJoin + slim shuffle)). Unlike hyperplane LSH
    * the partition is DATA-ADAPTIVE: dense regions split into many
    * clusters, so near-dup candidates concentrate instead of colliding
    * with unrelated vectors in fixed sign-buckets.
    *
    * The lower-id-wins retention rule is [[embeddingNearDupLsh]]'s:
    * deterministic, engine-exact, and keeps exactly one representative of
    * every mutually-similar clique. The slim pair projection is
    * checkpoint-barriered before the threshold filter so pushdown cannot
    * inline the 64-dim cosine into both predicate and projection.
    *
    * HOT-CLUSTER GUARD (`refineBits` > 0, requires `dim`): a cluster
    * larger than `refineMinSize` is sub-bucketed by the deterministic
    * `refineBits`-bit hyperplane signature ([[Similarity.hyperplaneBuckets]]'
    * planes) and pairs are generated within (cluster, bucket) only —
    * per-cluster pair cost drops ~2^refineBits-fold. The trade is the
    * standard LSH one: recall inside a refined cluster is bounded by
    * sign-bucket collisions (scaled duplicates ALWAYS collide — the sign
    * pattern is invariant under positive scaling). Small clusters are
    * untouched (bucket 0), so the guard costs nothing until a cluster is
    * actually hot — the embedding-space analogue of the MinHash path's
    * hot-bucket cap. */
  def semanticDedup(df: DataFrame, id: Column, vec: Column, m: Int,
      iters: Int, threshold: Double, dim: Int = 0, refineBits: Int = 0,
      refineMinSize: Long = Long.MaxValue): DataFrame =
    semanticDedupFreeable(df, id, vec, m, iters, threshold, dim, refineBits,
      refineMinSize)._1

  /** [[semanticDedup]] plus the release thunk for its pinned checkpoints
    * (cluster assignment + sim barrier). */
  def semanticDedupFreeable(df: DataFrame, id: Column, vec: Column, m: Int,
      iters: Int, threshold: Double, dim: Int = 0, refineBits: Int = 0,
      refineMinSize: Long = Long.MaxValue): (DataFrame, () => Unit) = {
    require(refineBits == 0 || dim > 0, "refineBits needs the vector dim")
    val (cents, freeCents) = Similarity.kMeansCentroidsFreeable(df, id, vec, m, iters)
    val assigned0 = Similarity.ivfAssign(
        df.select(id.as("vec_id"), vec.cast("array<double>").as("embedding")),
        col("vec_id"), col("embedding"), cents, nprobe = 1)
      .localCheckpoint(false)
    val assigned =
      if (refineBits == 0) assigned0.withColumn("__bkt", lit(0L))
      else {
        val sizes = assigned0.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("__cn"))
        assigned0.join(broadcast(sizes), "centroid_id")
          .withColumn("__bkt", when(col("__cn") > refineMinSize,
            Similarity.hyperplaneSignature(col("embedding"), dim, refineBits))
            .otherwise(lit(0L)))
          .drop("__cn")
      }
    val a = assigned.select(col("centroid_id"), col("__bkt"),
      col("vec_id").as("id_a"), col("embedding").as("__va"))
      .withColumn("__na", Similarity.l2Norm(col("__va")))
    val b = assigned.select(col("centroid_id"), col("__bkt"),
      col("vec_id").as("id_b"), col("embedding").as("__vb"))
      .withColumn("__nb", Similarity.l2Norm(col("__vb")))
    val sims = a.join(b, Seq("centroid_id", "__bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"),
        quantizedCosine(col("__va"), col("__vb"), col("__na"), col("__nb")).as("sim"))
      .localCheckpoint(false)
    val verified = sims.filter(col("sim") >= threshold)
    (assigned.join(verified.select(col("id_b").as("__drop")).distinct(),
        col("vec_id") === col("__drop"), "left_anti")
      .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id")),
      () => { freeCents(); freeAll(Seq(assigned0, sims))() })
  }

  /** Connected components over an undirected pair table: one row per
    * distinct endpoint id, labeled with the minimum id reachable from it
    * (the canonical component representative). Output: (id, component).
    *
    * Iterative min-label propagation WITH pointer halving: each round
    * sends every node's label across its edges, keeps the minimum, then
    * follows the representative's own label one step (`label(id) :=
    * label(label(id))` — labels are always node ids, so the lookup is a
    * self-join on the label frame). Edge relaxation alone converges in
    * O(component diameter) rounds, which a chain-shaped component turns
    * into a real failure mode (a 50-link chain of pairwise-similar items
    * exceeded the old 30-round budget); the compression step roughly
    * doubles the propagated distance per round, so convergence is
    * O(log diameter) — 30 rounds covers any component a real corpus can
    * produce. 3 shuffles per round on slim (id, label) frames. Each
    * round is barrier'd: without it the plan doubles per
    * iteration and round N re-executes rounds 1..N-1. `checkpointDir`
    * upgrades every few rounds from lineage-only `localCheckpoint` to a
    * reliable checkpoint that survives executor loss (see
    * [[graft.util.Barriers]]) — at 100 TB a lineage-only barrier loses
    * the whole job to one executor death mid-iteration.
    * At 100 TB this is the standard distributed CC formulation — no
    * driver-side adjacency, state is one (id, label) row per node.
    *
    * If `maxRounds` is exhausted while labels are still changing the
    * result under-merges (one true component splits into several); that is
    * logged as a warning rather than silently returned.
    *
    * Small-graph regime: when the (deduplicated, bidirectional) edge list
    * has integral ids and at most the session's layout bound of rows
    * (`CheckpointLayout.smallRegime`, measured and collected by
    * `DriverRegime.collectIfSmall`), components are solved by a
    * driver-side union-find over the collected edges (1M edges = 16 MB;
    * the bound, not the corpus, bounds driver memory). A `pairs` frame
    * that is a local relation (another driver regime's result, such as a
    * small-regime [[ngramJaccardVerify]]) is measured in pair rows and
    * read without a job: the union-find needs neither the dedup nor both
    * directions. The result is a local relation. The iterative loop
    * costs ~4 sequential shuffle waves PER ROUND regardless of data size —
    * on the post-rep-collapse graphs the perceptual dedup family produces
    * (edges scale with distinct CONTENT, not corpus size: 3.8k edges at
    * sf0.1, and still well under the bound at the 30× probe), loop job
    * overhead WAS most of the query (measured 7.0 s of p62's 7.8 s).
    * Linking the larger root under the smaller makes each final root the
    * component's minimum id, so the output is IDENTICAL to the distributed
    * loop's min-label closure (spec-pinned on random graphs).
    * `graft.layout.clusterMinRows=0` forces the distributed path; graphs
    * over the bound use it automatically. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val directed = pairs.select(col("id_a").as("__src"), col("id_b").as("__dst"))
    val bidirectional = directed
      .unionByName(pairs.select(col("id_b").as("__src"), col("id_a").as("__dst")))
    val idType = bidirectional.schema("__src").dataType
    val integral = DriverRegime.integral(idType)
    val local = if (integral) DriverRegime.localRows(directed) else None
    if (local.isDefined) return driverComponents(spark, local.get, idType)
    // statSafe, not a bare localCheckpoint: the pairs subtree's size
    // ESTIMATE is untrustworthy (distinct over an exploded band join) and
    // a too-small estimate makes the static planner broadcast the edge
    // list into every relax round — a rebuilt 10M-row broadcast per round
    // at the 30× probe, and an OOM at 100 TB. With the estimate reset,
    // AQE still broadcasts the genuinely-small side (labels) from exact
    // runtime sizes.
    val (edges0, freeEdges0) = graft.util.Barriers.statSafeFreeable(
      // a NULL endpoint is not an edge: without this the distributed loop
      // would propagate a phantom null node
      bidirectional.filter(col("__src").isNotNull && col("__dst").isNotNull).distinct())
    // the measurement doubles as the edge materialization the loop's first
    // round would otherwise pay (edges0 is a lazy checkpoint)
    val small = if (integral) DriverRegime.collectIfSmall(edges0, freeEdges0) else None
    if (small.isDefined) return driverComponents(spark, small.get, idType)
    // Distributed regime. Past ClusterLayoutMinRows nodes the edge frame
    // is re-laid-out ONCE clustered by __src off its materialized blocks:
    // in the non-broadcast regime every relax round's edges⋈labels join
    // then streams the edge frame in place (no per-round exchange OR sort
    // of the big side) — each round shuffles only the slim label frame.
    // Below it, labels broadcast under AQE and the plain frame already
    // streams.
    // The regime gate keys on the LABEL frame's node count — what
    // broadcast viability actually depends on — not the edge count: a
    // dense graph (>1M edges, few distinct nodes) keeps AQE's runtime
    // broadcast + skew-split for its rounds. The distinct-node count is
    // cheap here (one count over the edge blocks) and doubles as labels0's
    // materialization, which round 1 would otherwise pay.
    val (labels0, freeLabels0) = graft.util.Barriers.statSafeFreeable(
      edges0.select(col("__src").as("id")).distinct()
        .withColumn("component", col("id")))
    val nodeCount = labels0.count()
    val (edges, freeEdges, _) = CheckpointLayout.statSafeReclusterIfOver(
      edges0, freeEdges0, measured = nodeCount, key = "__src")
    val labelType = labels0.schema("component").dataType
    // the final labels generation is its own checkpoint, so the edge
    // table's blocks are released once a round has run (with maxRounds
    // <= 0 the result is labels0, whose lineage still reads the edges)
    val res = graft.util.Fixpoint.converge(labels0, freeLabels0, maxRounds,
        checkpointDir, release = freeEdges) { (state, _) =>
      val labels = state.select(col("id"), col("component"))
      // each node's PREVIOUS label rides through the relax (labels rows
      // carry it, message rows contribute null; one labels row per id so
      // max() recovers it exactly) — convergence is then read off the same
      // materialized frame instead of a per-round join-against-old-labels
      // job, halving driver-side actions per round
      // NO slim-side hint here, deliberately (r16): unlike the PR/LPA
      // loops (lazy small-regime chains, where the hint wins 1.11-1.17x),
      // CC materializes every round through its counting barrier and the
      // measured A/B read the forced broadcast as a 5-7% LOSS on
      // p13/p24 — AQE's runtime broadcast already serves the per-round
      // jobs here without putting a blocking broadcast build on each
      // round's critical path.
      val msgs = edges.join(labels, edges("__src") === labels("id"))
        .select(col("__dst").as("id"), col("component"),
          lit(null).cast(labelType).as("__prev"))
      // the slim relaxed frame is barrier'd BEFORE the compression
      // self-join — with the union+aggregate on both join sides it would
      // evaluate twice per round (and feed Catalyst's size-only stats a
      // join of two unknown-size subtrees)
      val (relaxed, freeRelaxed) = graft.util.Barriers.statSafeFreeable(
        labels.select(col("id"), col("component"), col("component").as("__prev"))
          .unionByName(msgs)
          .groupBy(col("id")).agg(min(col("component")).as("component"),
            max(col("__prev")).as("__prev")))
      // pointer halving: a label is itself a node id, so hop once through
      // the representative's own label — min-reachable is preserved (the
      // hop stays inside the component) and propagation distance doubles.
      // Change detection rides the SAME job that materializes the round
      // barrier: exactly one action per round — on slim label frames the
      // loop cost IS job count.
      graft.util.Fixpoint.Round(
        relaxed.join(
            relaxed.select(col("id").as("__rid"), col("component").as("__rcomp")),
            relaxed("component") === col("__rid"), "left")
          .select(col("id"),
            coalesce(col("__rcomp"), col("component")).as("component"),
            col("__prev")),
        graft.util.Fixpoint.differs("component", "__prev"), Seq(freeRelaxed))
    }
    if (!res.converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped after maxRounds=$maxRounds with labels " +
          "still changing: components may be split; raise maxRounds")
    res.frame.select(col("id"), col("component"))
  }

  /** Driver union-find whose every root is its component's minimum id:
    * a larger root links under a smaller one, so `find` returns exactly
    * the min-label fixpoint of the distributed loops. Shared by the
    * driver regimes of [[connectedComponents]] and
    * `H3Clusters.cellClusters`. */
  private[graft] final class MinRootUnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]
    def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    /** Every id added so far, ascending. */
    def ids: Array[Long] = parent.keysIterator.toArray.sorted
  }

  /** Driver union-find over the collected `(__src, __dst)` edge rows (the
    * [[connectedComponents]] small-graph regime); a row with a null
    * endpoint is not an edge. */
  private def driverComponents(spark: SparkSession, edges: Array[Row],
      idType: DataType): DataFrame = {
    val uf = new MinRootUnionFind
    edges.foreach { r =>
      val (a, b) = (r.getAs[Number]("__src"), r.getAs[Number]("__dst"))
      if (a != null && b != null) uf.union(a.longValue, b.longValue)
    }
    def lit(v: Long): Any = DriverRegime.idValue(idType, v)
    val rows: Seq[Row] = uf.ids.toSeq.map(id => Row(lit(id), lit(uf.find(id))))
    DriverRegime.frame(spark, rows, StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("component", idType, nullable = false))))
  }

  /** Near-dup GROUPS straight from a perceptual-hash column, with
    * exact-duplicate hashes collapsed to ONE representative (the min id
    * per hash value) BEFORE the banded pairwise path. The id→group output
    * is identical to `nearDupGroups(hashed, id, bandedHammingPairs(...))`
    * whenever the hot-band cap does not bind — identical hashes are
    * hamming-0 pairs, so every member of a hash class lands in its
    * representative's component, and the component minimum over
    * representatives IS the global minimum id of the group.
    *
    * Why this exists: duplicate-heavy corpora CONCENTRATE. The 30× scale
    * probe measured 201k images with only 80k distinct pHashes and hash
    * classes of 2.6k members; each such class saturated every band bucket
    * and the capped explode emitted C(1024,2) ≈ 524k verified pairs PER
    * CLASS — 5.2M edges of pure cliques that connected components then
    * chewed for 66 s (82 % of the query). Collapsing first, the pairwise
    * machinery sees each hash ONCE: band buckets hold distinct values
    * only, clique edges vanish (a hash class is grouped by its rep in one
    * groupBy), and the CC graph shrinks to genuine cross-hash near-dups.
    * At 100 TB this is the difference between pair volume scaling with
    * corpus size and scaling with DISTINCT-CONTENT size. When the cap
    * does bind, it now truncates to the smallest-k distinct HASHES
    * (by representative id) per bucket — strictly more diverse than
    * min-k raw ids, so recall inside a hot bucket only improves.
    * NULL-hash rows stay singleton groups (their own id), matching
    * [[nearDupGroups]]. */
  def hashNearDupGroups(hashed: DataFrame, id: Column, hash: Column,
      bits: Int, maxHamming: Int, maxBand: Int = MaxSimHashBand): DataFrame = {
    val slim = hashed.select(id.as("__id"), hash.as("__h"))
    // statSafe: feeds the banding AND two joins below; a groupBy's size
    // estimate is untrustworthy and must not elect a static broadcast
    val reps = graft.util.Barriers.statSafe(
      slim.filter(col("__h").isNotNull)
        .groupBy(col("__h")).agg(min(col("__id")).as("__rep"))
        .withColumnRenamed("__h", "__rh"))
    val repPairs = bandedHammingPairs(reps, col("__rep"), col("__rh"),
      bits, maxHamming, maxBand)
    val comps = connectedComponents(repPairs)
    slim
      .join(reps, col("__h") === col("__rh"), "left")
      .join(comps.select(col("id").as("__cid"), col("component")),
        col("__rep") === col("__cid"), "left")
      .select(col("__id").as("doc_id"),
        coalesce(col("component"), col("__rep"), col("__id")).as("group_id"))
  }

  /** Near-duplicate GROUPING: the transitive closure of the verified-pair
    * relation. Every document gets a `group_id` — the minimum doc id of its
    * connected component in the verified near-dup graph; documents with no
    * near-dup are their own group. Group-based retention (keep min per
    * group) is the production corpus-dedup semantics: pair-based dropping
    * can keep two documents that are only transitively similar.
    *
    * Small regime: [[connectedComponents]] reads a local `verified` frame
    * (a small-regime [[ngramJaccardVerify]]) without a job, and its local
    * components reach the corpus as a broadcast lookup rather than a
    * broadcast join, whose build side would cost a job of its own: the
    * groups then take the one scan job that consumes them. */
  def nearDupGroups(df: DataFrame, id: Column, verified: DataFrame): DataFrame = {
    val comps = connectedComponents(verified.select(col("id_a"), col("id_b")))
    val docs = df.select(id.as("doc_id"))
    val idType = docs.schema("doc_id").dataType
    val local = if (comps.schema("id").dataType == idType)
      DriverRegime.localRows(comps) else None
    local match {
      case Some(rows) =>
        val lookup = df.sparkSession.sparkContext.broadcast(scala.collection.mutable.LongMap(
          rows.toSeq.map(r => r.getAs[Number]("id").longValue ->
            r.getAs[Number]("component").longValue): _*))
        val group = udf((d: Long) => lookup.value.getOrElse(d, d))
        docs.select(col("doc_id"), group(col("doc_id").cast("long")).cast(idType).as("group_id"))
      case None =>
        docs.join(comps.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("group_id"))
    }
  }

  /** Group-aware retention: keep exactly ONE document per near-dup group —
    * the highest `score`, ties broken by lowest id. `groups` is the
    * (doc_id, group_id) frame from [[nearDupGroups]]. This is the policy
    * production curation wants ("keep the best-quality copy"), which
    * pair-based dropping cannot express: the canonical-min doc of a group
    * may be its worst copy. One shuffle on group_id; group sizes are
    * near-dup cluster sizes (bounded by the candidate caps upstream), so
    * no skew beyond what the LSH caps already bound. */
  def keepBestPerGroup(df: DataFrame, id: Column, score: Column,
      groups: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__gid")).orderBy(score.desc, id.asc)
    df.join(groups.select(col("doc_id").as("__jid"), col("group_id").as("__gid")),
        id === col("__jid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__jid", "__gid", "__rn")
  }

  /** Guarded xxhash64 Bloom over `key`: the sentinel row keeps the sketch
    * constructible on an EMPTY reference (Spark's stat.bloomFilter NPEs
    * deserializing the null aggregation buffer of zero rows). The bloom
    * only PRUNES; the sentinel's own contribution is a false positive for
    * keys hashing to exactly 0L (probability 2^-64 per key) — resolved
    * exactly by the anti-join consumers, and far below the configured
    * `fpp` for the bloom-approximate consumers (streaming line/substring
    * strip). Shared by the batch and streaming incremental dedups and the
    * streaming boilerplate strippers. */
  private[graft] def keyBloom(ref: DataFrame, key: Column, expectedItems: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    ref.select(xxhash64(key).as("__h"))
      .unionByName(ref.sparkSession.range(1).select(lit(0L).as("__h")))
      .stat.bloomFilter("__h", expectedItems, fpp)

  /** Incremental exact dedup of a new batch against an existing reference
    * corpus: keep new rows whose `newKey` does not appear in `refKeys`
    * (the "dedup tonight's crawl against the 100 TB corpus" op).
    *
    * Scale design: the reference side is summarized once into a Bloom
    * filter over 64-bit key hashes (`expectedRefItems`/`fpp` size it) and
    * shipped to every task — a few hundred MB covers billions of keys.
    * Bloom "no" is definitive (no false negatives), so those rows pass
    * through WITHOUT touching the shuffle; only the ~fpp false-positive
    * sliver plus true duplicates reach the exact anti-join, whose build
    * side shrinks from |corpus| to |candidate keys|. Results are exactly
    * the anti-join semantics — the filter only prunes work — which is why
    * the operator keeps a full-value oracle. */
  def incrementalDedup(newDf: DataFrame, refDf: DataFrame, newKey: Column,
      refKey: Column, expectedRefItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame =
    incrementalDedupFreeable(newDf, refDf, newKey, refKey, expectedRefItems,
      fpp)._1

  /** [[incrementalDedup]] plus the release thunk for the pinned
    * bloom-probe barrier (`Barriers.freeThunk` contract). */
  def incrementalDedupFreeable(newDf: DataFrame, refDf: DataFrame, newKey: Column,
      refKey: Column, expectedRefItems: Long = 1000000L,
      fpp: Double = 0.01): (DataFrame, () => Unit) = {
    val refKeys = refDf.select(refKey.as("__rk"))
    val bf = keyBloom(refKeys, col("__rk"), expectedRefItems, fpp)
    // codegen'd probe (BloomFilterMightContain via the shim) — the former
    // Scala UDF split the whole-stage span around every bloom-gated filter
    val keyed = newDf.withColumn("__maybe",
        org.apache.spark.sql.graft.shims.bloomMightContain(bf, xxhash64(newKey)))
      .localCheckpoint(false) // evaluate the bloom probe once per row
    val definite = keyed.filter(!col("__maybe"))
    // exact verification joins on the FULL key (hashes only gate the
    // bloom): a 2^-64 hash collision must not drop a genuinely new row
    val survivors = keyed.filter(col("__maybe"))
      .join(refKeys.distinct(), newKey === col("__rk"), "left_anti")
    (definite.unionByName(survivors).drop("__maybe"), freeAll(Seq(keyed)))
  }

  /** SimHash width: all 60 bits of the portable md5-derived token hash
    * ([[TextOps.md5Long]]). 60 bits keep every band of the pigeonhole
    * banding wide (15 bits at the default maxHamming=3): with the previous
    * 31-bit hash, bands carried only ~8 bits — 256 distinct values — so the
    * band self-join degenerated toward ~N²/1024 pairs at corpus scale. The
    * assembled hash stays inside positive int64 (2^60 - 1 max). */
  val SimHashBits: Int = 60

  /** 60-bit SimHash per document over whitespace tokens (duplicates
    * weighted by frequency). A pure per-row projection through the fused
    * kernel ([[graft.expr.SimHash60]]) — the earlier explode + groupBy
    * formulation shuffled |docs| x |tokens| rows to compute what is a
    * per-row value; at 100 TB that shuffle was the whole job. Null-text
    * docs drop (the explode form's semantics). */
  def simHash(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), simHashColumn(text).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Hamming distance between two SimHash values (codegen'd bit_count). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Per-ROW SimHash — identical values to [[simHash]] (bit sums are
    * order-independent integer sums) but computed as one stateless
    * projection, no explode and no aggregation. This is the form
    * streaming pipelines need: Structured Streaming allows one stateful
    * operator per query, and the explode + groupBy formulation would
    * spend it before the near-dup state does. Hashing and all 60 bit
    * counters run fused in one kernel pass ([[graft.expr.SimHash60]];
    * the earlier struct-fold paid 60 interpreted field rebuilds per
    * token). */
  def simHashColumn(text: Column): Column =
    graft.functions.simhash60(TextOps.tokens(text))

  /** The pigeonhole band values of a SimHash as an array (same band
    * layout as [[simHashNearDupPairs]]). */
  def simHashBandValues(simhash: Column, maxHamming: Int): Column =
    bandValues(simhash, SimHashBits, maxHamming)

  /** Pigeonhole band values of ANY `bits`-wide hash as an array — the
    * column form of [[bandedHammingPairs]]'s band split, for callers that
    * band two frames separately (e.g. a stream joined against a
    * pre-banded static reference). */
  def bandValues(hash: Column, bits: Int, maxHamming: Int): Column =
    array(bandBounds(bits, maxHamming + 1).map { case (lo, width) =>
      shiftright(hash, lo).bitwiseAND((1L << width) - 1)
    }: _*)

  /** Hard ceiling on SimHash band membership, mirroring [[MaxLshBucket]]:
    * a hot band value (templated/near-empty documents collapsing to one
    * SimHash) is truncated to the smallest `MaxSimHashBand` ids instead of
    * exploding quadratically in a single task. */
  val MaxSimHashBand: Int = 4096

  /** (lo, width) bit ranges splitting a `bits`-wide hash into `nBands`
    * bands as evenly as possible (the first `bits % nBands` bands one bit
    * wider) — every band keeps width >= bits/nBands >= 1. */
  private def bandBounds(bits: Int, nBands: Int): Seq[(Int, Int)] = {
    val base = bits / nBands
    val rem = bits % nBands
    val widths = (0 until nBands).map(b => base + (if (b < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Minimum pigeonhole band width at a given hamming threshold — the
    * selectivity floor of the band join (2^width distinct values). */
  def simHashBandWidth(maxHamming: Int): Int = SimHashBits / (maxHamming + 1)

  /** SimHash near-duplicate pairs: hamming(simhash_a, simhash_b) <=
    * `maxHamming`, id_a < id_b. Pigeonhole banding: split the
    * [[SimHashBits]]-bit hash into `maxHamming + 1` bands — any pair
    * within the threshold matches on at least one full band, so the
    * equi-join on (band index, band bits) finds every qualifying pair
    * (recall 1.0) while scanning only same-band candidates. Pair
    * generation is bucket-local (groupBy band, explode ordered member
    * pairs — one shuffle) with a hot-band cap at `maxBand`: recall
    * degrades only inside a pathological band instead of the band join
    * going quadratic. The verify is a codegen'd xor/bit_count. */
  /** Incremental NEAR-dedup of a new batch against a reference corpus:
    * drop new documents whose exact n-gram Jaccard against ANY reference
    * document reaches `threshold` — the "near-dedup tonight's crawl
    * against the 100 TB corpus" op, the LSH twin of
    * [[incrementalDedup]]'s exact hashes.
    *
    * Scale shape: the new batch is small relative to the corpus by
    * construction, so its LSH bands are BROADCAST and the reference
    * corpus streams its own bands through a broadcast-hash join — the
    * reference side is never shuffled, and candidate pairs are bounded
    * by band collisions with the batch. Verification then computes gram
    * sets ONLY for candidate documents of either side (the
    * [[ngramJaccardVerify]] restriction). Ids must be unique ACROSS the
    * two frames (caller contract; verification unions them).
    * Within-batch duplicates are intentionally untouched — compose with
    * [[nearDedup]] on the batch for that. */
  def incrementalNearDedup(newDf: DataFrame, refDf: DataFrame,
      newId: Column, newText: Column, refId: Column, refText: Column,
      k: Int = 8, rowsPerBand: Int = 2, ngram: Int = 2, verifyN: Int = 8,
      threshold: Double = 0.5): DataFrame =
    incrementalNearDedupFreeable(newDf, refDf, newId, newText, refId, refText,
      k, rowsPerBand, ngram, verifyN, threshold)._1

  /** [[incrementalNearDedup]] plus the release thunk for its pinned
    * checkpoints (new-batch barrier + the verify staging frames). */
  def incrementalNearDedupFreeable(newDf: DataFrame, refDf: DataFrame,
      newId: Column, newText: Column, refId: Column, refText: Column,
      k: Int = 8, rowsPerBand: Int = 2, ngram: Int = 2, verifyN: Int = 8,
      threshold: Double = 0.5): (DataFrame, () => Unit) = {
    val newC = newDf.select(newId.as("__id"), newText.as("__text")).localCheckpoint(false)
    val refC = refDf.select(refId.as("__id"), refText.as("__text"))
    val newBands = lshBands(minHashSignatures(newC, col("__id"), col("__text"), k, ngram),
      k, rowsPerBand)
    val refBands = lshBands(minHashSignatures(refC, col("__id"), col("__text"), k, ngram),
      k, rowsPerBand)
    // orientation is (id_a = reference, id_b = new) regardless of id order
    val pairs = refBands
      .join(broadcast(newBands.withColumnRenamed("__id", "__nid")),
        Seq("band_idx", "band_val"))
      .select(col("__id").as("id_a"), col("__nid").as("id_b"))
      .distinct()
    val union = newC.unionByName(refC)
    val (verified, freeVerify) = ngramJaccardVerifyFreeable(union, col("__id"),
      col("__text"), verifyN, threshold, pairs)
    (newDf.join(verified.select(col("id_b").as("__dup")).distinct(),
      newId === col("__dup"), "left_anti"),
      () => { freeVerify(); freeAll(Seq(newC))() })
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * `n`-gram with an evaluation set (the standard test-set-leakage filter
    * run before training; n=13 in the common recipe, configurable here).
    *
    * Scale shape: eval sets are tiny relative to the corpus, so the
    * DISTINCT eval gram set — hashed to 60-bit md5 longs, never the gram
    * strings — is broadcast, and corpus grams stream through a
    * broadcast-hash LEFT SEMI join: no shuffle of the exploded corpus
    * side at all. The only corpus-keyed exchange is the final flag join
    * on ids (one hash shuffle of (id) pairs). Output: the corpus columns
    * plus a `contaminated` boolean. */
  def decontaminate(corpus: DataFrame, id: Column, text: Column,
      evalSet: DataFrame, evalText: Column, n: Int = 13): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val evalGrams = evalSet
      .select(explode(graft.functions.word_ngram_md5_hashes(
        TextOps.tokens(evalText), n)).as("__gh"))
      .distinct()
    val hitIds = corpus
      .select(id.as("__cid"), explode(graft.functions.word_ngram_md5_hashes(
        TextOps.tokens(text), n)).as("__gh"))
      .join(broadcast(evalGrams), Seq("__gh"), "leftsemi")
      .select(col("__cid"))
      .distinct()
    corpus
      .join(hitIds.withColumn("__hit", lit(true)), id === col("__cid"), "left")
      .withColumn("contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__cid", "__hit")
  }

  /** Exact duplicated-substring removal (the EXACTSUBSTR pass of Lee et
    * al. 2021, arXiv:2107.06499 §4.1): any token `n`-gram occurring more
    * than once ACROSS the corpus marks all of its occurrences except the
    * globally-first one (minimal `(id, pos)`); every token covered by a
    * marked occurrence is removed and the survivors re-join with single
    * spaces. The paper builds a corpus suffix array — a single-machine
    * artifact; the Spark-shaped equivalent is a corpus-wide gram-key
    * shuffle, the same reformulation `decontaminate` uses for its
    * eval-gram membership test.
    *
    * Scale shape: grams shuffle as 60-bit md5 longs (8-byte keys, never
    * the n-token strings); grams occurring once — the overwhelming
    * majority of any real corpus — drop at the aggregate, so the
    * occurrence-marking join's build side is only the duplicated-gram
    * frame; covered positions collapse to one set per affected doc; the
    * final reassembly is a per-row projection (array filter by position).
    * Two gram-keyed exchanges plus one id-keyed left join — nothing
    * quadratic, no windows over raw documents.
    *
    * Output: `doc_id`, deduplicated `text`, original `n_tokens`, and
    * `n_removed` (count of tokens cut).
    *
    * Collision bound: grams are keyed by their 60-bit hash, not the gram
    * string, so two DISTINCT grams colliding makes both look duplicated
    * and cuts up to `n` unique tokens from each site. By the birthday
    * bound the expected number of colliding pairs over G distinct grams
    * is ~G²/2^61 — at a 100-TB-corpus-scale G = 10^12 that is ~870
    * affected gram pairs across the whole corpus (≈10^-9 of grams), each
    * costing at most n tokens; false NEGATIVES are impossible (equal
    * grams always hash equal). That asymmetry — vanishingly rare spurious
    * removal, never a missed duplicate — is the right trade for a dedup
    * pass; callers needing zero spurious cuts can verify flagged spans by
    * re-joining gram STRINGS on the (tiny) duplicated-gram frame. */
  // r16 note: barriers on this operator's shared subtrees (tokenized
  // frame, gram-occurrence frame) were tried and MEASURED SLOWER at sf0.1
  // (p58 warm 0.15 s -> 0.33 s with both; still ~2x worse with the token
  // barrier alone) — the lazy double evaluation of the cheap tokenize/
  // explode kernels beats materializing either frame, so the pre-r16
  // shape stands (guide §5: cache only when recompute costs more than the
  // memory pressure the cache creates).
  def substringDedup(df: DataFrame, id: Column, text: Column, n: Int = 10): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val base = df.select(id.as("__id"), TextOps.tokens(text).as("__ts"))
    // gram hashing fused into one kernel pass per doc (WordNgramMd5Hashes);
    // the hash IS md5Long of the concat_ws gram string, so grouping is
    // unchanged and the string-keyed oracle still agrees
    val occ = base
      .select(col("__id"),
        posexplode(graft.functions.word_ngram_md5_hashes(col("__ts"), n)))
      .select(col("__id"), (col("pos") + 1).as("__pos"), col("col").as("__gh"))
    val dupGrams = occ.groupBy(col("__gh"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("__gh"), col("__first"))
    val covered = occ.join(dupGrams, Seq("__gh"))
      .filter(struct(col("__id"), col("__pos")) =!= col("__first"))
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1))).as("__cp"))
      .groupBy(col("__id"))
      .agg(collect_set(col("__cp")).as("__cov"))
    base.join(covered, Seq("__id"), "left")
      .select(col("__id").as("doc_id"),
        // null text -> null out (the catalog's nullable convention);
        // concat_ws would otherwise quietly render a null array as ""
        when(col("__ts").isNotNull,
          concat_ws(" ", filter(col("__ts"), (t, i) =>
            !coalesce(array_contains(col("__cov"), i + lit(1)), lit(false))))).as("text"),
        size(col("__ts")).cast("long").as("n_tokens"),
        when(col("__ts").isNotNull, coalesce(size(col("__cov")), lit(0)))
          .cast("long").as("n_removed"))
  }

  def simHashNearDupPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, maxBand: Int = MaxSimHashBand): DataFrame =
    bandedHammingPairs(simHash(df, id, text), col("__id"), col("simhash"),
      SimHashBits, maxHamming, maxBand)

  /** [[simHashNearDupPairs]] with the release thunk for its pinned
    * checkpoints (the [[bandedHammingPairsFreeable]] contract). */
  def simHashNearDupPairsFreeable(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, maxBand: Int = MaxSimHashBand): (DataFrame, () => Unit) =
    bandedHammingPairsFreeable(simHash(df, id, text), col("__id"), col("simhash"),
      SimHashBits, maxHamming, maxBand)

  /** Incremental PERCEPTUAL dedup of a hashed batch against a reference
    * hash frame — the fingerprint-space sibling of [[incrementalDedup]]
    * (exact keys) and [[incrementalNearDedup]] (text shingles): drop
    * batch rows whose `hashCol` is within `maxHamming` of ANY reference
    * hash; rows with a NULL hash (undecodable payloads) pass through —
    * an unreadable blob is not a duplicate.
    *
    * Scale shape: both sides band with the shared pigeonhole split, the
    * candidate check is an equi-join on (band idx, band bits) + a
    * codegen'd xor/bit_count — recall 1.0 by pigeonhole. The batch side
    * is expected small relative to the reference (tonight's crawl vs the
    * corpus) so AQE broadcasts it and the reference hash frame never
    * shuffles. */
  def perceptualDedupAgainst(batch: DataFrame, id: Column, hash: Column,
      refHashes: DataFrame, refHash: Column, bits: Int,
      maxHamming: Int): DataFrame = {
    val refB = refHashes.select(refHash.as("__rh"),
      posexplode(bandValues(refHash, bits, maxHamming)).as(Seq("__bi", "__bv")))
    val batchB = batch.filter(hash.isNotNull)
      .select(id.as("__bid"), hash.as("__bh"),
        posexplode(bandValues(hash, bits, maxHamming)).as(Seq("__bi", "__bv")))
    val dupIds = batchB.join(refB, Seq("__bi", "__bv"))
      .filter(bit_count(col("__bh").bitwiseXOR(col("__rh"))) <= maxHamming)
      .select(col("__bid")).distinct()
    batch.join(dupIds, id === col("__bid"), "left_anti")
  }

  /** Video clip detection over per-frame perceptual hashes
    * ([[graft.pipeline.Multimodal.withVideoFramePHashes]] rows): one row
    * per ordered video pair that shares at least one near-identical
    * frame, with the count of matching frame pairs — a re-cut, re-muxed
    * or embedded clip shares its source's frame hashes even when the
    * container bytes differ entirely. DISTINCT frame hashes ride the
    * SAME pigeonhole banding as image/audio dedup, keyed by a
    * representative composite (video, frame) id (`frame_idx` must stay
    * below `frameBase`); within-video matches are discarded and
    * `vid_a < vid_b` ordering holds in the output. Scale shape:
    * everything [[bandedHammingPairs]] guarantees — band-local pair
    * generation, hot-band cap, only 8-byte hashes shuffle — applied to
    * the distinct-hash frame, plus count-product joins against the slim
    * (hash, video, count) summary and one aggregation keyed by the
    * video pair. */
  def videoClipMatches(frames: DataFrame, vid: Column, frameIdx: Column,
      hash: Column, maxHamming: Int = 2, maxBand: Int = MaxSimHashBand,
      frameBase: Long = 1000000L,
      maxVideosPerHash: Int = MaxSimHashBand): DataFrame = {
    // Identical frame hashes collapse BEFORE the pairwise path (the same
    // move as [[hashNearDupGroups]]): a re-used frame — black leader, a
    // standard test card, a popular clip — enters the pairwise machinery
    // ONCE per distinct hash instead of once per occurrence, so pair
    // volume scales with distinct frame CONTENT, not corpus size. The
    // match count is recovered exactly from count products:
    //   same hash   : cnt(va, h) x cnt(vb, h)        for va < vb
    //   near hashes : cnt(va, ha) x cnt(vb, hb)      folded to unordered
    // which equals the direct per-frame-pair formulation (each qualifying
    // frame pair contributes exactly once). The hot-band cap now
    // truncates to the smallest-k DISTINCT hashes per bucket (by
    // representative composite id) — more diverse than min-k frame ids —
    // and per-hash VIDEO participation is capped at maxVideosPerHash
    // (smallest video ids) so a frame shared across millions of videos
    // cannot explode the count-product joins.
    val f = frames.select(vid.as("__vid"), frameIdx.as("__fi"), hash.as("__h"))
      .filter(col("__h").isNotNull)
    // per-(hash, video) frame counts; statSafe — feeds three joins below
    // and a groupBy's size estimate must not elect a static broadcast
    val vcnt = graft.util.Barriers.statSafe(
      f.groupBy(col("__h"), col("__vid")).agg(count(lit(1)).as("__cnt"),
        min(col("__vid") * frameBase + col("__fi")).as("__minc")))
    val reps = graft.util.Barriers.statSafe(
      vcnt.groupBy(col("__h")).agg(min(col("__minc")).as("__rep")))
    // hot-hash cap: a hash shared by N videos would otherwise self-join
    // into N^2 within-class rows (and N-per-side cross-class products) —
    // the same unbounded blowup the band cap exists to prevent, just
    // moved to the count-product joins. Keep the maxVideosPerHash
    // SMALLEST video ids per hash (collect_min_k: O(k) buffer, map-side
    // partials bound the shuffled state); a knob SEPARATE from maxBand —
    // the two caps bound different blowups (band membership vs
    // count-product fan-out) and must tune independently. Truncation
    // semantics match every other capped path; the oracle replicates the
    // rank rule.
    val vcap = graft.util.Barriers.statSafe(
      vcnt.groupBy(col("__h"))
        .agg(graft.functions.collect_min_k(
          struct(col("__vid"), col("__cnt")), maxVideosPerHash).as("__vs"))
        .select(col("__h"), explode(col("__vs")).as("__v"))
        .select(col("__h"), col("__v.__vid").as("__vid"), col("__v.__cnt").as("__cnt")))
    // within-class: identical frames shared across different videos
    val within = vcap.select(col("__h"), col("__vid").as("__va"), col("__cnt").as("__ca"))
      .join(vcap.select(col("__h"), col("__vid").as("__vb"), col("__cnt").as("__cb")), Seq("__h"))
      .filter(col("__va") < col("__vb"))
      .select(col("__va").as("vid_a"), col("__vb").as("vid_b"),
        (col("__ca") * col("__cb")).as("__n"))
    // cross-class: near-identical DISTINCT hashes via the banded rep pairs
    val repPairs = bandedHammingPairs(reps, col("__rep"), col("__h"),
      bits = 63, maxHamming, maxBand)
    val hp = repPairs
      .join(reps.select(col("__rep").as("__ra"), col("__h").as("__ha")),
        col("id_a") === col("__ra"))
      .join(reps.select(col("__rep").as("__rb"), col("__h").as("__hb")),
        col("id_b") === col("__rb"))
      .select(col("__ha"), col("__hb"))
    val cross = hp
      .join(vcap.select(col("__h").as("__ha"), col("__vid").as("__va"),
        col("__cnt").as("__ca")), Seq("__ha"))
      .join(vcap.select(col("__h").as("__hb"), col("__vid").as("__vb"),
        col("__cnt").as("__cb")), Seq("__hb"))
      .filter(col("__va") =!= col("__vb"))
      .select(least(col("__va"), col("__vb")).as("vid_a"),
        greatest(col("__va"), col("__vb")).as("vid_b"),
        (col("__ca") * col("__cb")).as("__n"))
    within.unionByName(cross)
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(sum(col("__n")).as("n_frame_matches"))
  }

  /** Clip detection of a (small) batch of videos AGAINST a static frame-
    * hash corpus — the cross-corpus twin of [[videoClipMatches]] and the
    * per-micro-batch kernel of
    * [[graft.streaming.H3Streaming.streamingVideoClipMatches]]: one row
    * per (batch video, corpus video) pair sharing >= 1 near-identical
    * frame (`hamming <= maxHamming` on the 63-bit frame pHash), with the
    * count of matching frame pairs.
    *
    * Scale shape mirrors [[perceptualDedupAgainst]]: the corpus is its
    * frame-hash summary (three longs per frame — billions of frames fit
    * an executor-cache-friendly frame; pre-band or cache it), both sides
    * band with the SHARED pigeonhole split ([[bandValues]]) and equi-join
    * on (band idx, band bits) — recall 1.0, only same-band candidates
    * verified, and a small batch side is AQE-broadcast so the corpus
    * never shuffles. The distinct() collapses multi-band hits of the
    * same frame pair before counting. */
  def videoClipMatchesAgainst(frames: DataFrame, vid: Column, frameIdx: Column,
      hash: Column, refFrames: DataFrame, refVid: Column, refFrameIdx: Column,
      refHash: Column, maxHamming: Int = 2): DataFrame = {
    val bits = 63
    val b = frames.filter(hash.isNotNull)
      .select(vid.as("__vid"), frameIdx.as("__fi"), hash.as("__h"))
      .select(col("__vid"), col("__fi"), col("__h"),
        posexplode(bandValues(col("__h"), bits, maxHamming)).as(Seq("__bi", "__bv")))
    val r = refFrames.filter(refHash.isNotNull)
      .select(refVid.as("__rvid"), refFrameIdx.as("__rfi"), refHash.as("__rh"))
      .select(col("__rvid"), col("__rfi"), col("__rh"),
        posexplode(bandValues(col("__rh"), bits, maxHamming)).as(Seq("__bi", "__bv")))
    b.join(r, Seq("__bi", "__bv"))
      .filter(bit_count(col("__h").bitwiseXOR(col("__rh"))) <= maxHamming &&
        col("__vid") =!= col("__rvid"))
      .select(col("__vid"), col("__fi"), col("__rvid"), col("__rfi"))
      .distinct()
      .groupBy(col("__vid").as("vid"), col("__rvid").as("ref_vid"))
      .agg(count(lit(1)).as("n_frame_matches"))
  }

  /** Pigeonhole-banded Hamming pairs over ANY `bits`-wide hash column:
    * every pair with `hamming <= maxHamming`, id_a < id_b. Split the hash
    * into `maxHamming + 1` bands — a qualifying pair matches on at least
    * one full band (recall 1.0 when uncapped), so the equi-join on
    * (band index, band bits) scans only same-band candidates. Pair
    * generation is bucket-local (groupBy band, explode ordered member
    * pairs — one shuffle) with a hot-band cap at `maxBand`: recall
    * degrades only inside a pathological band instead of the band join
    * going quadratic. The verify is a codegen'd xor/bit_count. Shared by
    * the text (SimHash, 60-bit) and image (pHash, 63-bit) near-dup paths. */
  def bandedHammingPairs(hashed: DataFrame, id: Column, hash: Column,
      bits: Int, maxHamming: Int, maxBand: Int = MaxSimHashBand): DataFrame =
    bandedHammingPairsFreeable(hashed, id, hash, bits, maxHamming, maxBand)._1

  /** [[bandedHammingPairs]] plus the release thunk for the checkpoints the
    * capped path pins (hash projection + band frame) —
    * `Barriers.freeThunk` contract: invoke only after every
    * consumer of the returned frame has materialized. */
  def bandedHammingPairsFreeable(hashed: DataFrame, id: Column, hash: Column,
      bits: Int, maxHamming: Int,
      maxBand: Int = MaxSimHashBand): (DataFrame, () => Unit) = {
    val nBands = maxHamming + 1
    // every band must carry >= 1 bit or the pigeonhole structure silently
    // degenerates (a 0-bit band matches EVERY pair)
    require(nBands <= bits,
      s"maxHamming=$maxHamming needs $nBands pigeonhole bands but the hash has only $bits bits")
    val sh = hashed.select(id.as("__id"), hash.as("__h"))
      .filter(col("__h").isNotNull).localCheckpoint(false)
    val bandCols = bandBounds(bits, nBands).map { case (lo, width) =>
      shiftright(col("__h"), lo).bitwiseAND((1L << width) - 1)
    }
    // members ride through the aggregation as (id, hash) structs so the
    // pair explode emits hamming directly — no join-back to the hashes
    val bands0 = sh.select(struct(col("__id").as("id"), col("__h").as("h")).as("m"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
    // star branch re-reads the band frame — checkpoint the slim rows
    // (see lshCandidatePairs; the uncapped path keeps the single pass)
    val capped = maxBand < Int.MaxValue
    val bands = if (capped) bands0.localCheckpoint(false) else bands0
    val pairwise = bands
      .groupBy(col("band_idx"), col("band_val"))
      // bounded min-k aggregate == slice(sort_array(collect_set), 1, cap)
      // with an O(cap) buffer — the hot-band (all-identical pHash) OOM guard
      .agg(graft.functions.collect_min_k(col("m"), maxBand).as("ms"))
      .filter(size(col("ms")) >= 2)
      // streamed two-level explode: O(cap) peak task memory, not an
      // O(cap^2) materialized pair array per hot band (see
      // lshCandidatePairs) — identical pair set
      .select(col("ms"), posexplode(col("ms")).as(Seq("__i", "a")))
      .select(col("a"),
        explode(slice(col("ms"), col("__i") + lit(2), size(col("ms")))).as("b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.h"), col("b.h")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    if (!capped) return (pairwise.distinct(), freeAll(Seq(sh)))
    // overflow stars (the MaxLshBucket contract): beyond-cap members of a
    // mega-band each get a LINEAR candidate against the band's minimum-id
    // member, hamming-filtered like any pair — an all-identical-pHash
    // group collapses fully instead of keeping its beyond-cap tail
    // countDistinct for the same set-semantics reason as lshCandidatePairs
    val overflow = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(countDistinct(col("m")).as("__n"), min(col("m")).as("__min"))
      .filter(col("__n") > maxBand)
      .select(col("band_idx"), col("band_val"), col("__min"))
    val stars = bands.join(overflow, Seq("band_idx", "band_val"))
      .filter(col("m.id") =!= col("__min.id"))
      .select(col("__min.id").as("id_a"), col("m.id").as("id_b"),
        hammingDistance(col("__min.h"), col("m.h")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (pairwise.unionByName(stars).distinct(), freeAll(Seq(sh, bands)))
  }
}
