package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** Specs for the hashed linear classifier (p70) and the interpolated
  * bigram LM (p71): each is compared against an independent sequential
  * in-memory reference over real corpus slices, plus edge cases the
  * corpus does not exercise (empty / NULL / single-token documents). */
class TextScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.substring(0, 15), 16)
  }

  private def toks(t: String): Seq[String] =
    Option(t).getOrElse("").trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  // ----- classifier reference -----

  private def refClassifier(text: String): (Long, Double, String) = {
    val tk = toks(text)
    val feats = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    if (feats.isEmpty) (0L, 0.5, "keep")
    else {
      val s = feats.map(f =>
        ((md5Long60(f) % TextOps.ClassifierBuckets) * 2654435761L) % 2000001L - 1000000L).sum
      val logit = (s.toDouble / feats.size.toDouble) / 1000000.0
      val sc = math.floor(1.0 / (1.0 + math.exp(-logit)) * 10000.0 + 0.5) / 10000.0
      (feats.size.toLong, sc, if (sc >= 0.5) "keep" else "drop")
    }
  }

  test("classifier matches the sequential reference on a corpus slice") {
    val slice = docs.limit(50).select($"doc_id", $"text")
    val expected = slice.as[(Long, String)].collect()
      .map { case (id, t) => id -> refClassifier(t) }.toMap
    val got = TextOps.classifierScore(slice, $"doc_id", $"text")
      .as[(Long, Long, Double, String)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, n, sc, lb) =>
      val (en, esc, elb) = expected(id)
      assert(n == en, s"doc $id n_features")
      assert(sc == esc, s"doc $id score")
      assert(lb == elb, s"doc $id label")
    }
    // mean weight is in [-1, 1], so scores live strictly inside the
    // sigmoid image of that interval
    got.foreach { case (_, _, sc, _) => assert(sc >= 0.2689 && sc <= 0.7311) }
  }

  test("classifier: empty and NULL text score 0.5/keep; result is partitioning-invariant") {
    val d = Seq((1L, "hello world"), (2L, ""), (3L, null.asInstanceOf[String]), (4L, "   "))
      .toDF("doc_id", "text")
    val out = TextOps.classifierScore(d, $"doc_id", $"text")
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)
    Seq(2L, 3L, 4L).foreach { id =>
      val r = out.find(_._1 == id).get
      assert(r._2 == 0L && r._3 == 0.5 && r._4 == "keep", s"doc $id")
    }
    // hello world: 2 unigrams + 1 bigram
    assert(out.find(_._1 == 1L).get._2 == 3L)
    val one = TextOps.classifierScore(docs.limit(40).repartition(1), $"doc_id", $"text")
      .as[(Long, Long, Double, String)].collect().toSet
    val many = TextOps.classifierScore(docs.limit(40).repartition(7), $"doc_id", $"text")
      .as[(Long, Long, Double, String)].collect().toSet
    assert(one == many)
  }

  // ----- bigram LM reference -----

  private def refBigramLm(texts: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    val tk = texts.map { case (id, t) => id -> toks(t) }.filter(_._2.nonEmpty)
    val uni = tk.flatMap(_._2).groupBy(identity).map { case (w, l) => w -> l.size.toLong }
    val T = uni.values.sum
    val V = uni.size.toLong
    val denom = (T + V).toDouble
    val bigs = tk.flatMap { case (_, ts) => ts.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
    val c12 = bigs.groupBy(identity).map { case (g, l) => g -> l.size.toLong }
    val c1 = c12.toSeq.groupBy(_._1._1).map { case (w, m) => w -> m.map(_._2).sum }
    def e4(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong
    tk.map { case (id, ts) =>
      val first = e4(math.log((uni(ts.head) + 1).toDouble / denom))
      val rest = ts.sliding(2).filter(_.size == 2).map { p =>
        val c = c12((p(0), p(1)))
        e4(math.log(0.75 * ((c + 1).toDouble / (c1(p(0)) + V).toDouble)
          + 0.25 * ((uni(p(1)) + 1).toDouble / denom)))
      }.toSeq
      val all = first +: rest
      id -> (all.size.toLong, math.floor(all.sum.toDouble / all.size + 0.5) / 10000.0)
    }.toMap
  }

  test("bigram LM matches the sequential reference on a corpus slice") {
    val slice = docs.limit(60).select($"doc_id", $"text")
    val expected = refBigramLm(slice.as[(Long, String)].collect().toSeq)
    val got = TextOps.bigramLogProbScore(slice, $"doc_id", $"text")
      .as[(Long, Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, n, sc) =>
      val (en, esc) = expected(id)
      assert(n == en, s"doc $id n_tokens")
      assert(sc == esc, s"doc $id avg_logprob")
    }
  }

  test("bigram LM: single-token and empty documents; n_tokens equals scored positions") {
    val d = Seq((1L, "alpha beta alpha"), (2L, "alpha"), (3L, ""), (4L, "beta beta"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLogProbScore(d, $"doc_id", $"text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // empty doc is excluded; the rest score every token position
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(out.find(_._1 == 1L).get._2 == 3L)
    assert(out.find(_._1 == 2L).get._2 == 1L)
    val expected = refBigramLm(Seq((1L, "alpha beta alpha"), (2L, "alpha"), (3L, ""), (4L, "beta beta")))
    out.foreach { case (id, n, sc) =>
      assert((n, sc) == expected(id), s"doc $id")
    }
    // single-token doc scores exactly its add-one unigram log-prob:
    // corpus unigrams: alpha x3, beta x3 -> T=6, V=2
    val lpAlpha = math.floor(math.log(4.0 / 8.0) * 10000.0 + 0.5)
    assert(out.find(_._1 == 2L).get._3 == math.floor(lpAlpha / 1.0 + 0.5) / 10000.0)
  }

  test("law: bigramLmScoreAgainst trained on the scored frame itself equals bigramLogProbScore") {
    val slice = docs.limit(80).select($"doc_id", $"text")
    val self = TextOps.bigramLogProbScore(slice, $"doc_id", $"text")
      .as[(Long, Long, Double)].collect().toSet
    val against = TextOps.bigramLmScoreAgainst(slice, $"doc_id", $"text", slice, $"text")
      .as[(Long, Long, Double)].collect().toSet
    assert(self == against)
  }

  test("bigramLmScoreAgainst: out-of-vocabulary documents take count-0 add-one backoff") {
    val corpus = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha gamma"))
      .toDF("doc_id", "text")
    // T=6, V=3; doc "zeta alpha zeta":
    //   first "zeta": OOV -> ln(1/9)
    //   "zeta alpha": c12=0, c1(zeta)=0, c2(alpha)=3 -> ln(.75*(1/3)+.25*(4/9))
    //   "alpha zeta": c12=0, c1(alpha)=3, c2(zeta)=0 -> ln(.75*(1/6)+.25*(1/9))
    def e4(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong
    val lps = Seq(
      e4(math.log(1.0 / 9.0)),
      e4(math.log(0.75 * (1.0 / 3.0) + 0.25 * (4.0 / 9.0))),
      e4(math.log(0.75 * (1.0 / 6.0) + 0.25 * (1.0 / 9.0))))
    val expected = math.floor(lps.sum.toDouble / 3.0 + 0.5) / 10000.0
    val out = TextOps.bigramLmScoreAgainst(
        Seq((9L, "zeta alpha zeta")).toDF("doc_id", "text"),
        $"doc_id", $"text", corpus, $"text")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((9L, 3L, expected)))
  }

  test("htmlToText: scripts/styles/comments die, blocks break lines, entities decode") {
    def x(h: String): String = {
      Seq((1L, h)).toDF("id", "h")
        .select(TextOps.htmlToText($"h").as("t")).head.getString(0)
    }
    assert(x("<p>hello <b>world</b></p>") == "hello world")
    assert(x("<script>var a = '<p>fake</p>';</script>real") == "real")
    assert(x("<style type='text/css'>p { color: red }</style>kept") == "kept")
    assert(x("a<!-- <p>never</p> -->b") == "a b")
    assert(x("<p>one</p><p>two</p><div>three</div>") == "one\ntwo\nthree")
    assert(x("line<br/>break<BR >caps") == "line\nbreak\ncaps")
    assert(x("5 &lt; 6 &amp;&amp; 7 &gt; 2, &quot;q&quot; &#39;s&#39; a&nbsp;b")
      == "5 < 6 && 7 > 2, \"q\" 's' a b")
    // &amp; decodes LAST: the literal string "&amp;lt;" means "&lt;"
    assert(x("&amp;lt;") == "&lt;")
    assert(x("  <p>  spaced\t\tout  </p>  ") == "spaced out")
    assert(x("<SCRIPT>upper</SCRIPT>ok") == "ok")
  }

  // ----- classifier training reference -----

  /** Sequential full-batch GD on the e6 lattice — the exact
    * [[TextOps.classifierTrain]] recurrence. */
  private def refTrain(rows: Seq[(Long, String, Long)], buckets: Long,
      iters: Int, lrDenom: Double): Map[Long, (Long, Double, String)] = {
    // (doc -> (y, Map[bucket, count], n))
    val feats = rows.map { case (id, t, y) =>
      val tk = toks(t)
      val fs = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val bc = fs.groupBy(f => md5Long60(f) % buckets).map { case (b, g) => b -> g.size.toLong }
      (id, y, bc, bc.values.sum)
    }
    val trained = feats.filter(_._4 > 0)
    val nDocs = trained.size.toLong
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    for (it <- 1 to iters) {
      val grad = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      trained.foreach { case (_, y, bc, _) =>
        val pE6 =
          if (it == 1) 500000L
          else {
            val s = bc.map { case (b, c) => c * w(b) }.sum
            math.floor(1.0 / (1.0 + math.exp(-(s.toDouble / 1000000.0))) * 1000000.0 + 0.5).toLong
          }
        val r = pE6 - y * 1000000L
        bc.foreach { case (b, c) => grad(b) += r * c }
      }
      w = grad.map { case (b, g) =>
        b -> (w(b) - math.floor(g.toDouble / (lrDenom * nDocs)).toLong)
      }.toMap.withDefaultValue(0L)
    }
    feats.map { case (id, y, bc, n) =>
      val score = if (n == 0) 0.5 else {
        val s = bc.map { case (b, c) => c * w(b) }.sum
        math.floor(1.0 / (1.0 + math.exp(-(s.toDouble / 1000000.0))) * 10000.0 + 0.5) / 10000.0
      }
      id -> (n, score, if (score >= 0.5) "keep" else "drop")
    }.toMap
  }

  test("classifierTrain matches the sequential lattice-GD reference on a corpus slice") {
    val slice = docs.limit(60).select($"doc_id", $"text",
      when($"lang" === "en", 1L).otherwise(0L).as("y"))
    val rows = slice.as[(Long, String, Long)].collect().toSeq
    val expected = refTrain(rows, buckets = 512L, iters = 3, lrDenom = 4.0)
    val got = TextOps.classifierTrain(slice.repartition(7), $"doc_id", $"text", $"y",
        buckets = 512L, iters = 3, lrDenom = 4.0)
      .as[(Long, Long, Long, Double, String)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, y, n, sc, lb) =>
      val (en, esc, elb) = expected(id)
      assert(n == en, s"doc $id n_features")
      assert(sc == esc, s"doc $id score")
      assert(lb == elb, s"doc $id label")
      assert(y == rows.find(_._1 == id).get._3, s"doc $id y passthrough")
    }
  }

  test("classifierTrain learns: separates the classes and beats the untrained loss") {
    // seed-keyword weak label: the fastText-bootstrap supervision shape
    // (the corpus vocabularies do not differ by lang, so a lang label has
    // no bag-of-words signal — a keyword label does)
    val slice = docs.select($"doc_id", $"text",
      when($"text".contains("vector"), 1L).otherwise(0L).as("y"))
    val out = TextOps.classifierTrain(slice, $"doc_id", $"text", $"y")
      .as[(Long, Long, Long, Double, String)].collect()
    val pos = out.filter(_._2 == 1L).map(_._4)
    val neg = out.filter(_._2 == 0L).map(_._4)
    assert(pos.nonEmpty && neg.nonEmpty)
    // trained scores separate the weak classes in the mean
    assert(pos.sum / pos.size > neg.sum / neg.size + 0.05,
      s"mean(pos)=${pos.sum / pos.size} mean(neg)=${neg.sum / neg.size}")
    // and logistic loss beats the untrained w=0 model (ln 2 everywhere);
    // clamp scores off {0,1} since they ride the e4 lattice
    val eps = 1e-4
    val loss = out.map { case (_, y, _, sc, _) =>
      val p = math.min(1.0 - eps, math.max(eps, sc))
      -(y * math.log(p) + (1 - y) * math.log(1 - p))
    }.sum / out.length
    assert(loss < math.log(2.0) - 0.05, s"loss=$loss")
  }

  test("classifierTrain plan: slim-frame layout makes per-doc stages shuffle-free") {
    // Past the regime bound the checkpointed slim frame and the doc list
    // are repartitioned+sorted by doc_id (the layout declared on their
    // eager checkpoints), so the final per-doc aggregate and join (and
    // each iteration's window, same requirement) need no Exchange: the whole
    // returned plan's only shuffles are broadcasts. Forced via the regime
    // conf (tiny corpora stay on the fully-adaptive plain path); the two
    // regimes must agree on values. Also pin that the session's AQE conf
    // is never disturbed.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val slice = docs.limit(50).select($"doc_id", $"text",
      when($"lang" === "en", 1L).otherwise(0L).as("y"))
    def train() = TextOps.classifierTrain(slice, $"doc_id", $"text", $"y",
      buckets = 128L, iters = 2)
    val plainRows = train().collect().map(_.toString).toSet
    try {
      spark.conf.set("graft.layout.clusterMinRows", "0")
      val out = train()
      val clusteredRows = out.collect() // finalize AQE
      assert(clusteredRows.map(_.toString).toSet == plainRows,
        "clustered and plain classifierTrain regimes disagree")
      assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore,
        "classifierTrain must leave spark.sql.adaptive.enabled untouched")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle exchange above the doc_id-partitioned checkpoint in:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"), s"unexpected sort shuffle:\n$plan")
    } finally spark.conf.unset("graft.layout.clusterMinRows")
  }

  test("classifierTrain: featureless docs score 0.5 and ride through training") {
    val d = Seq((1L, "alpha beta alpha", 1L), (2L, "", 0L),
      (3L, null.asInstanceOf[String], 1L), (4L, "gamma delta", 0L))
      .toDF("doc_id", "text", "y")
    val out = TextOps.classifierTrain(d, $"doc_id", $"text", $"y", buckets = 64L)
      .as[(Long, Long, Long, Double, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    Seq(2L, 3L).foreach { id =>
      val r = out.find(_._1 == id).get
      assert(r._3 == 0L && r._4 == 0.5 && r._5 == "keep", s"doc $id")
    }
    // the two labeled real docs move off 0.5 in the right directions
    assert(out.find(_._1 == 1L).get._4 > 0.5)
    assert(out.find(_._1 == 4L).get._4 < 0.5)
  }

  test("charEntropyE4 matches the sequential lattice reference; signal orders quality") {
    def refE4(t: String): Option[(Long, Long)] = {
      // CODE POINTS, not UTF-16 units: Spark's split(text, "") and
      // DuckDB's string_split(text, '') both emit one element per code
      // point (verified on Spark 4.1.2: 'a😀b' -> [a, 😀, b]), so the
      // reference must too or it would disagree on supplementary chars
      val cs = t.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
      if (cs.isEmpty) None else {
        def lnq(c: Long) = math.floor(math.log(c.toDouble) * 10000.0 + 0.5).toLong
        val counts = cs.groupBy(identity).values.map(_.length.toLong)
        val n = counts.sum
        val clnc = counts.map(c => c * lnq(c)).sum
        Some((n, math.floor((n * lnq(n) - clnc).toDouble / n + 0.5).toLong))
      }
    }
    val texts = Seq(
      1L -> "aaaaaaaaaaaaaaaaaaaa", // repetitive: entropy 0
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "abcdefghijklmnopqrst", // all-distinct: entropy = ln 20
      4L -> "aaaa bbbb aaaa bbbb aaaa",
      7L -> "a😀b😀") // supplementary chars: one element per CODE POINT
    val rows = texts ++ Seq(5L -> (null: String), 6L -> "")
    val got = TextOps.charEntropyE4(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // null/empty texts produce no row
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 7L))
    assert(got(7L)._1 == 4L) // 4 code points, not 6 UTF-16 units
    texts.foreach { case (i, t) => assert(got(i) == refE4(t).get, s"doc $i") }
    assert(got(1L)._2 == 0L) // single-symbol stream has zero entropy
    assert(got(3L)._2 == math.floor(math.log(20.0) * 10000.0 + 0.5).toLong)
    // the quality ordering the filter relies on: repetition < prose
    assert(got(1L)._2 < got(4L)._2 && got(4L)._2 < got(2L)._2)
    // real corpus slice vs the same reference, exact
    val corpus = docs.limit(50).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val gotC = TextOps.charEntropyE4(
        docs.limit(50), col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    corpus.foreach { case (i, t) =>
      assert(refE4(t).forall(_ == gotC(i)), s"corpus doc $i") }
  }
}
