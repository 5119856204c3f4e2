package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SparkTestSession
import graft.util.Regimes

/** The near-dup pipeline (`lshCandidatePairs` -> `ngramJaccardVerify` ->
  * `nearDupGroups`, and `nearDedup`) in its two regimes: every case is
  * collected with its small input on the driver and with the distributed
  * path forced, and the rows must agree. */
class NearDupRegimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Seeded random documents, exact copies (ids + 10000) and tail-edited
    * copies (ids + 20000) of some of them. */
  private def corpus(seed: Long, docs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.fill(300)(
      new String(Array.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar)))
    val base = (0L until docs.toLong).map(i =>
      i -> Seq.fill(15 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    base ++ base.filter(_._1 % 7 == 3).map { case (i, t) => (i + 10000L, t) } ++
      base.filter(_._1 % 7 == 5).map { case (i, t) => (i + 20000L, t + " extra tail words") }
  }

  /** [[corpus]] plus the awkward rows: doc 0 cloned under four more ids
    * (an LSH bucket of five), null texts, two identical texts shorter
    * than the gram size, doc 5 repeated under its own id and doc 6
    * repeated with doc 8's text. */
  private def edgeCorpus(seed: Long): Seq[(Long, String)] = {
    val c = corpus(seed, 120)
    val text = c.toMap
    c ++ (40000L to 40003L).map(_ -> text(0L)) ++
      Seq(30000L -> null, 30001L -> null, 30002L -> "ab cd", 30003L -> "ab cd",
        5L -> text(5L), 6L -> text(8L))
  }

  private def longDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
  private def intDf(rows: Seq[(Long, String)]): DataFrame =
    rows.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text")

  private def pairs(df: DataFrame, maxBucket: Int): DataFrame =
    Dedup.lshCandidatePairs(df, col("doc_id"), col("text"), maxBucket = maxBucket)

  private def verified(df: DataFrame, maxBucket: Int): DataFrame =
    Dedup.ngramJaccardVerify(df, col("doc_id"), col("text"), 8, 0.5, pairs(df, maxBucket))

  private val caps = Seq(Int.MaxValue, Dedup.MaxLshBucket, 2)

  private def both(run: => DataFrame) = Regimes.bothRegimes(spark)(run)

  test("lshCandidatePairs: both regimes agree, overflow stars and repeated ids included") {
    for (df <- Seq(longDf(edgeCorpus(3)), intDf(edgeCorpus(4))); cap <- caps) {
      val got = both(pairs(df, cap))
      assert(got.length > 20, s"cap $cap: ${got.length} pairs")
      val ps = got.map(r => (r.getAs[Number]("id_a").longValue, r.getAs[Number]("id_b").longValue)).toSet
      // the clone group of doc 0 shares every bucket; at cap 2 only the
      // stars reach its fifth member
      assert(ps((0L, 40003L)) && ps((40002L, 40003L)) == (cap > 2), s"cap $cap")
    }
    assert(both(pairs(longDf(Nil), 2)).isEmpty)
  }

  test("ngramJaccardVerify: both regimes agree on LSH pairs, local and not") {
    for (df <- Seq(longDf(edgeCorpus(5)), intDf(edgeCorpus(6))); cap <- Seq(Int.MaxValue, 2)) {
      val got = both(verified(df, cap))
      assert(got.count(_.getAs[Double]("jaccard") == 1.0) > 5)
      assert(got.exists(_.getAs[Double]("jaccard") < 1.0))
      // the same pairs behind a shuffle are measured by a job instead
      val viaShuffle = both(Dedup.ngramJaccardVerify(df, col("doc_id"), col("text"), 8, 0.5,
        pairs(df, cap).repartition(3)))
      assert(viaShuffle.map(_.toString).sorted.sameElements(got.map(_.toString).sorted))
    }
    assert(both(verified(longDf(Nil), Int.MaxValue)).isEmpty)
  }

  test("ngramJaccardVerify: repeated ids, null and short texts, a Jaccard exactly at the threshold") {
    // 12 and 17 distinct characters: 5 of the 10 8-grams shared, 0.5 exactly
    val docs = Seq(1L -> "abcdefghijkl", 2L -> "abcdefghijklmnopq", 3L -> null, 4L -> null,
      5L -> "abc", 6L -> "abcdefghijklmnopq", 6L -> "abcdefghijkl", 7L -> "xyz", 7L -> "xyz",
      8L -> "abcdefghijklmnopq")
    val cands = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(3L), Some(4L)),
      (Some(3L), Some(1L)), (Some(5L), Some(2L)), (Some(1L), Some(6L)), (Some(6L), Some(2L)),
      (Some(6L), Some(2L)), (Some(7L), Some(7L)), (None, Some(2L)), (Some(2L), Some(8L)),
      (Some(9L), Some(1L)))
    for (t <- Seq(0.5, 0.50001, 0.2)) {
      val p = cands.toDF("id_a", "id_b")
      val got = both(Dedup.ngramJaccardVerify(longDf(docs), col("doc_id"), col("text"), 8, t, p))
      val viaShuffle = both(Dedup.ngramJaccardVerify(longDf(docs), col("doc_id"), col("text"), 8, t,
        p.repartition(2)))
      assert(viaShuffle.map(_.toString).sorted.sameElements(got.map(_.toString).sorted))
      // (1, 2) sits exactly on 0.5; (6, 2) is listed twice and doc 6 has
      // two texts, one of them doc 2's
      assert(got.count(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L) ==
        (if (t <= 0.5) 1 else 0), s"threshold $t")
      assert(got.count(r => r.getAs[Long]("id_a") == 6L) > 2, s"threshold $t")
    }
  }

  test("ngramJaccardVerify: two different texts shorter than the gram size give no row in both regimes") {
    val docs = longDf(Seq(1L -> "abc", 2L -> "xyz"))
    assert(both(Dedup.ngramJaccardVerify(docs, col("doc_id"), col("text"), 8, 0.5,
      Seq((1L, 2L)).toDF("id_a", "id_b"))).isEmpty)
  }

  test("nearDedup: short case variants are an LSH pair without a Jaccard and both survive") {
    // LSH lower-cases tokens, so the two texts share every band; both are
    // shorter than the 8-gram, so neither has a gram to compare
    val docs = longDf(Seq(1L -> "ab cd", 2L -> "AB CD"))
    assert(both(pairs(docs, Int.MaxValue)).length == 1)
    assert(both(Dedup.nearDedup(docs, col("doc_id"), col("text"))).length == 2)
  }

  test("nearDupGroups and nearDedup: both regimes agree") {
    for (df <- Seq(longDf(edgeCorpus(7)), intDf(edgeCorpus(8)), longDf(Nil))) {
      val groups = both(Dedup.nearDupGroups(df, col("doc_id"), verified(df, Int.MaxValue)))
      assert(groups.length == df.count())
      both(Dedup.nearDedup(df, col("doc_id"), col("text"), maxBucket = 2))
    }
  }

  test("nearDedup: both regimes keep the same rows; the small regime drops the verified ids without a join job") {
    val df = longDf(corpus(10, 300)).cache()
    def dedup(): DataFrame = Dedup.nearDedup(df, col("doc_id"), col("text"))
    try {
      assert(both(dedup()).length < df.count(), "no near-duplicate was dropped")
      // `both` warmed the operator; a join against the local verified
      // pairs would add two jobs (AQE broadcasts the local relation)
      val (_, jobs) = Regimes.pinsAndJobs(spark)(dedup().collect())
      assert(jobs <= 4, s"$jobs jobs")
    } finally df.unpersist(blocking = true)
  }

  test("lshCandidatePairs: a bucket whose pairs pass the bound runs the distributed path") {
    // 30 identical documents: 120 band rows in 4 buckets of 435 pairs
    val df = longDf((0L until 30L).map(_ -> "the same words in the same order every time"))
    val want = both(pairs(df, Int.MaxValue))
    assert(want.length == 435)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (got, pins) = Regimes.bounded(spark, 200L) {
      val (p, free) = Dedup.lshCandidatePairsFreeable(df, col("doc_id"), col("text"),
        maxBucket = Int.MaxValue)
      val rows = p.collect()
      val pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      free()
      (rows, pinned)
    }
    assert(got.map(_.toString).sorted.sameElements(want.map(_.toString).sorted))
    assert(pins >= 1, "the distributed path did not read the measured band rows")
  }

  test("small regime: the near-dup composition runs in at most 4 jobs and pins nothing") {
    val df = longDf(corpus(9, 600)).cache()
    df.count()
    def groups(): Array[org.apache.spark.sql.Row] = {
      val p = Dedup.lshCandidatePairs(df, col("doc_id"), col("text"), k = 8,
        maxBucket = Int.MaxValue)
      val v = Dedup.ngramJaccardVerify(df, col("doc_id"), col("text"), n = 8,
        threshold = 0.5, p)
      Dedup.nearDupGroups(df, col("doc_id"), v).collect()
    }
    try {
      assert(groups().length == df.count()) // warm
      val (pins, jobs) = Regimes.pinsAndJobs(spark)(groups())
      assert(jobs <= 4, s"$jobs jobs")
      assert(pins == 0, s"$pins RDDs left pinned")
    } finally df.unpersist(blocking = true)
  }
}
