package graft.expr

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TextOps

/** The fused kernels (MinHashSignature, WordNgramMd5Hashes, SimHash60,
  * SortedDistinctNgramHashes, SortedLongArrayIntersectSize) replaced
  * composed Column forms in main code; this spec keeps the
  * composed forms alive AS TEST ORACLES and pins kernel == composed on
  * randomized token arrays — multi-byte UTF-8, empty strings and
  * single-token docs included — so the "bit-equal to the md5 lattice"
  * claim is a checked law, not a memory. */
class KernelConformanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def sample[A](g: Gen[A], seed: Long): A = g.apply(params, Seed(seed)).get

  // word pool stresses byte handling: ASCII, accents, CJK, emoji, empty
  private val pool = Vector("the", "héllo", "wörld", "数据", "🚀x", "a", "", "naïve")

  private val genDocs: Gen[List[Seq[String]]] = for {
    n <- Gen.chooseNum(1, 25)
    docs <- Gen.listOfN(n, for {
      len <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(pool))
    } yield ws)
  } yield docs

  test("word_ngram_md5_hashes equals transform(wordNgramsOfTokens, md5Long)") {
    for (i <- 0 until 4) {
      val docs = sample(genDocs, 10 + i).map(_.toArray)
      val df = docs.zipWithIndex.map { case (ts, id) => (id.toLong, ts) }.toDF("id", "ts")
      for (n <- Seq(2, 3)) {
        val got = df.select($"id", graft.functions.word_ngram_md5_hashes($"ts", n))
          .as[(Long, Seq[Long])].collect().toMap
        val want = df.select($"id",
            transform(TextOps.wordNgramsOfTokens($"ts", n), g => TextOps.md5Long(g)))
          .as[(Long, Seq[Long])].collect().toMap
        assert(got == want, s"iter $i n=$n")
      }
    }
  }

  test("minhash_signature equals the composed transform+aggregate fold") {
    val k = 5
    val p = MinHashKernel.Prime
    for (i <- 0 until 4) {
      val docs = sample(genDocs, 20 + i).map(_.toArray)
      val df = docs.zipWithIndex.map { case (ts, id) => (id.toLong, ts) }.toDF("id", "ts")
      val got = df.select($"id", graft.functions.minhash_signature($"ts", 2, k))
        .as[(Long, Seq[Long])].collect().toMap
      // the pre-kernel formulation, verbatim: md5 % p per shingle, k-field
      // struct fold of permutation minima (shingle dedup dropped: min over
      // set == min over multiset)
      val hashes = transform(TextOps.wordNgramsOfTokens($"ts", 2),
        s => TextOps.md5Long(s) % p)
      val fields = (0 until k).map(j => s"m$j")
      val init = struct(fields.map(f => lit(Long.MaxValue).as(f)): _*)
      val folded = aggregate(hashes, init, (acc, h) =>
        struct((0 until k).map { j =>
          val (a, b) = MinHashKernel.coeffs(j)
          least(acc.getField(s"m$j"), (h * a + b) % p).as(s"m$j")
        }: _*))
      val want = df.select($"id", array(fields.map(f => folded.getField(f)): _*))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got == want, s"iter $i")
    }
  }

  test("simhash60 equals the composed struct-fold form") {
    for (i <- 0 until 4) {
      val docs = sample(genDocs, 30 + i).map(_.toArray)
      val df = docs.zipWithIndex.map { case (ts, id) => (id.toLong, ts) }.toDF("id", "ts")
      val got = df.select($"id", graft.functions.simhash60($"ts"))
        .as[(Long, Long)].collect().toMap
      val bits = 60
      val hs = transform($"ts", t => TextOps.md5Long(t))
      val fields = (0 until bits).map(j => s"b$j")
      val init = struct(fields.map(f => lit(0).as(f)): _*)
      val folded = aggregate(hs, init, (acc, h) =>
        struct((0 until bits).map { j =>
          (acc.getField(s"b$j") +
            when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
        }: _*))
      val assembled = (0 until bits).map { j =>
        when(folded.getField(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      val want = df.select($"id", assembled).as[(Long, Long)].collect().toMap
      assert(got == want, s"iter $i")
    }
  }

  // texts stress the character walk: multi-byte UTF-8, repeats (so grams
  // repeat), padding that trim removes, and texts shorter than the gram
  private val genTexts: Gen[List[String]] = for {
    n <- Gen.chooseNum(1, 25)
    ts <- Gen.listOfN(n, for {
      len <- Gen.chooseNum(0, 10)
      ws <- Gen.listOfN(len, Gen.oneOf(pool))
      pad <- Gen.oneOf("", " ", "  ")
    } yield pad + ws.mkString(" ") + pad)
  } yield ts

  test("sorted_distinct_ngram_hashes equals the sorted distinct xxhash64 of the character n-grams") {
    var sizes = Set.empty[Int]
    for (i <- 0 until 4) {
      val df = sample(genTexts, 40 + i).zipWithIndex.map { case (t, id) => (id.toLong, t) }
        .toDF("id", "text")
      for (n <- Seq(1, 3, 8)) {
        val got = df.select($"id",
            graft.functions.sorted_distinct_ngram_hashes(lower(trim($"text")), n))
          .as[(Long, Seq[Long])].collect().toMap
        val want = df.select($"id",
            sort_array(array_distinct(transform(TextOps.charNgrams($"text", n), g => xxhash64(g)))))
          .as[(Long, Seq[Long])].collect().toMap
        assert(got == want, s"iter $i n=$n")
        sizes ++= got.values.map(_.size)
      }
    }
    assert(sizes(0) && sizes.max > 3, s"gram-set sizes $sizes")
  }

  test("sorted_long_array_intersect_size equals size(array_intersect) on sorted distinct arrays") {
    val genSet: Gen[Seq[Long]] = for {
      span <- Gen.oneOf(8L, 64L, Long.MaxValue)
      xs <- Gen.listOf(Gen.chooseNum(-span, span))
    } yield xs.distinct.sorted
    val genPairs = Gen.listOfN(60, Gen.zip(genSet, genSet))
    for (i <- 0 until 4) {
      val df = sample(genPairs, 50 + i).zipWithIndex.map { case ((a, b), id) => (id.toLong, a, b) }
        .toDF("id", "a", "b")
      val got = df.select($"id", graft.functions.sorted_long_array_intersect_size($"a", $"b"))
        .as[(Long, Long)].collect().toMap
      val want = df.select($"id", size(array_intersect($"a", $"b")).cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"iter $i")
      assert(want.values.exists(_ > 0) && want.values.exists(_ == 0), s"iter $i")
    }
  }
}
