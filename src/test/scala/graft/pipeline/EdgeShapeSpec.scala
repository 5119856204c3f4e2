package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** Degenerate-shape robustness sweep over the public pipeline API: every
  * operator must accept an EMPTY input frame (and an all-NULL-text one)
  * and return an empty (resp. well-formed) result instead of dying in a
  * driver-side `head()`/division ("empty in, empty out"). These shapes
  * are not corner-case decoration: a 100 TB pipeline routinely produces
  * empty partitions-of-work (a filter that matched nothing, a day with
  * no crawl, a language with no documents) and feeds them onward.
  */
class EdgeShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emptyDocs =
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
  private lazy val nullDocs =
    Seq((1L, null.asInstanceOf[String], "en"), (2L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang")
  private lazy val emptyEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
  private lazy val emptyVecs =
    Seq.empty[(Long, Array[Double])].toDF("id", "v")
  private lazy val emptyGraph =
    Seq.empty[(Long, Long, Double)].toDF("origin", "destination", "weight")

  private def emptyOut(name: String)(f: => DataFrame): Unit =
    test(s"empty in, empty out: $name") {
      val out = f
      assert(out.count() == 0L, s"$name returned rows for empty input")
      assert(out.columns.nonEmpty)
    }

  // ---- text analysis ----
  emptyOut("charEntropyE4")(TextOps.charEntropyE4(emptyDocs, $"doc_id", $"text"))
  emptyOut("chunkText")(TextOps.chunkText(emptyDocs, $"doc_id", $"text", size = 64, overlap = 8))
  emptyOut("repetitionStats")(TextOps.repetitionStats(emptyDocs, $"doc_id", $"text"))
  emptyOut("redactPii")(TextOps.redactPii(emptyDocs, $"doc_id", $"text"))
  emptyOut("gopherFilter")(TextOps.gopherFilter(emptyDocs, $"doc_id", $"text"))
  emptyOut("lineDedup")(TextOps.lineDedup(emptyDocs, $"doc_id", $"text"))
  emptyOut("corpusReport")(TextOps.corpusReport(emptyDocs, $"doc_id", $"text", $"lang"))
  emptyOut("unigramLogProbScore")(TextOps.unigramLogProbScore(emptyDocs, $"doc_id", $"text"))
  emptyOut("bigramLogProbScore")(TextOps.bigramLogProbScore(emptyDocs, $"doc_id", $"text"))
  emptyOut("bigramLmScoreAgainst")(TextOps.bigramLmScoreAgainst(
    emptyDocs, $"doc_id", $"text", emptyDocs, $"text"))
  emptyOut("classifierScore")(TextOps.classifierScore(emptyDocs, $"doc_id", $"text"))
  emptyOut("classifierTrain")(TextOps.classifierTrain(
    emptyDocs, $"doc_id", $"text", lit(0L)))
  emptyOut("importanceResample")(TextOps.importanceResample(
    emptyDocs, $"doc_id", $"text", emptyDocs, $"text", k = 5))
  emptyOut("topTerms")(TextOps.topTerms(emptyDocs, $"doc_id", $"text", k = 3))

  // ---- dedup family ----
  emptyOut("exactDedup")(Dedup.exactDedup(
    emptyDocs.withColumn("fp", TextOps.fingerprint($"text")), $"fp", $"doc_id"))
  emptyOut("minHashSignatures")(Dedup.minHashSignatures(emptyDocs, $"doc_id", $"text", k = 8))
  emptyOut("lshCandidatePairs")(Dedup.lshCandidatePairs(emptyDocs, $"doc_id", $"text"))
  emptyOut("ngramJaccardPairs")(Dedup.ngramJaccardPairs(
    emptyDocs, $"doc_id", $"text", n = 2, threshold = 0.5))
  emptyOut("nearDedup")(Dedup.nearDedup(emptyDocs, $"doc_id", $"text"))
  emptyOut("simHash")(Dedup.simHash(emptyDocs, $"doc_id", $"text"))
  emptyOut("embeddingNearDupPairs")(Dedup.embeddingNearDupPairs(
    emptyVecs, $"id", $"v", threshold = 0.9))
  emptyOut("connectedComponents")(Dedup.connectedComponents(emptyEdges))
  emptyOut("connectedComponents distributed")(
    graft.util.Regimes.clustered(spark)(Dedup.connectedComponents(emptyEdges)))
  emptyOut("incrementalDedup")(Dedup.incrementalDedup(
    emptyDocs, emptyDocs, TextOps.fingerprint($"text"), TextOps.fingerprint($"text")))
  emptyOut("substringDedup")(Dedup.substringDedup(emptyDocs, $"doc_id", $"text"))

  // ---- similarity / ANN ----
  emptyOut("ivfCentroids")(Similarity.ivfCentroids(emptyVecs, $"id", $"v", m = 4))
  emptyOut("kMeansCentroids")(Similarity.kMeansCentroids(emptyVecs, $"id", $"v", m = 4, iters = 2))
  emptyOut("cosineTopK")(Similarity.cosineTopK(
    emptyVecs, $"id", $"v", emptyVecs, $"id", $"v", k = 3))

  // ---- graph features ----
  emptyOut("pageRank")(graft.graph.Ranks.pageRank(emptyEdges, $"id_a", $"id_b", iters = 3))
  emptyOut("personalizedPageRank")(graft.graph.Ranks.personalizedPageRank(
    emptyEdges, $"id_a", $"id_b", seeds = Seq(1L), iters = 3))
  emptyOut("labelPropagation")(graft.graph.Communities.labelPropagation(
    emptyEdges, $"id_a", $"id_b", iters = 3))
  emptyOut("walks")(graft.graph.Walks.walks(emptyEdges, $"id_a", $"id_b", steps = 3))
  emptyOut("kCore")(graft.graph.Cores.kCore(emptyEdges, $"id_a", $"id_b", k = 2, rounds = 3))
  emptyOut("triangles")(graft.graph.Triangles.nodeTriangles(emptyEdges, $"id_a", $"id_b"))
  emptyOut("shortestPathsIterative")(graft.graph.H3Graph.shortestPathsIterative(
    spark, emptyGraph, origins = Seq(1L), destinations = Seq(2L)))

  // ---- mixing / packing ----
  emptyOut("mixSample")(Mixing.mixSample(
    emptyDocs, $"doc_id", $"lang", Map("en" -> 1.0), salt = "s"))
  emptyOut("sourceCap")(Mixing.sourceCap(emptyDocs, $"doc_id", $"lang", cap = 3))
  emptyOut("tokenBudgetSelect")(Mixing.tokenBudgetSelect(
    emptyDocs.withColumn("score", lit(1.0)).withColumn("n_tok", lit(1L)),
    $"doc_id", $"score", $"n_tok", budget = 100L))
  emptyOut("tokenBudgetSelectPerStratum")(Mixing.tokenBudgetSelectPerStratum(
    emptyDocs.withColumn("score", lit(1.0)).withColumn("n_tok", lit(1L)),
    $"doc_id", $"score", $"n_tok", $"lang", Map("en" -> 100L)))
  emptyOut("packSequences")(Packing.packSequences(
    emptyDocs.withColumn("n_tok", lit(1L)), $"doc_id", $"n_tok", budget = 128L))

  // ---- NULL endpoints are not edges: every graph op must behave as if
  // the null-endpoint rows were absent (previously pageRank ranked a
  // phantom `null` node and connectedComponents' driver union-find threw
  // reading the id; LPA/kCore/triangles/walks already dropped them via
  // canonicalEdges' null-propagating comparisons). ----
  test("null-endpoint edges behave as if absent across the graph ops") {
    val dirty = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None: Option[Long], Some(4L)), (Some(5L), None: Option[Long]))
      .toDF("s", "d")
    val clean = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    assert(rows(graft.graph.Ranks.pageRank(dirty, $"s", $"d", 2)) ==
      rows(graft.graph.Ranks.pageRank(clean, $"s", $"d", 2)))
    assert(rows(graft.graph.Communities.labelPropagation(dirty, $"s", $"d", 2)) ==
      rows(graft.graph.Communities.labelPropagation(clean, $"s", $"d", 2)))
    assert(rows(graft.graph.Walks.walks(dirty, $"s", $"d", 2)) ==
      rows(graft.graph.Walks.walks(clean, $"s", $"d", 2)))
    assert(rows(graft.graph.Cores.kCore(dirty, $"s", $"d", k = 1, rounds = 1)) ==
      rows(graft.graph.Cores.kCore(clean, $"s", $"d", k = 1, rounds = 1)))
    assert(rows(Dedup.connectedComponents(
        dirty.select($"s".as("id_a"), $"d".as("id_b")))) ==
      rows(Dedup.connectedComponents(
        clean.select($"s".as("id_a"), $"d".as("id_b")))))
    // SSSP additionally treats a NULL WEIGHT as no-edge: before the
    // filter, min(cost) carried nulls so the frontier's improved-check
    // was null-vs-null true forever (no convergence), and the paths
    // variant's struct argmin sorted the null cost FIRST, beating real
    // finite paths
    val dirtyG = dirty.select($"s".as("origin"), $"d".as("destination"),
        lit(1.0).as("weight"))
      .unionByName(Seq((2L, 9L)).toDF("origin", "destination")
        .select($"origin", $"destination", lit(null).cast("double").as("weight")))
    val cleanG = clean.select($"s".as("origin"), $"d".as("destination"),
      lit(1.0).as("weight"))
    assert(rows(graft.graph.H3Graph.shortestPathsIterative(spark,
        dirtyG, origins = Seq(1L), destinations = Seq(3L, 4L, 9L))) ==
      rows(graft.graph.H3Graph.shortestPathsIterative(spark,
        cleanG, origins = Seq(1L), destinations = Seq(3L, 4L, 9L))))
    assert(rows(graft.graph.H3Graph.shortestPathsIterativePaths(spark,
        dirtyG, origins = Seq(1L), destinations = Seq(3L, 9L))) ==
      rows(graft.graph.H3Graph.shortestPathsIterativePaths(spark,
        cleanG, origins = Seq(1L), destinations = Seq(3L, 9L))))
  }

  // ---- EMPTY reference/target with a NON-empty input: the asymmetric
  // shape an incremental pipeline hits on day one (nothing trained yet).
  // Cross-corpus scorers must return empty (no model => nothing scorable),
  // never garbage lattice values from log(x/0) overflow; incremental
  // dedup against an empty corpus must keep everything. ----
  test("empty reference, non-empty input: no garbage scores, no drops") {
    val docs = Seq((1L, "alpha beta gamma", "en"), (2L, "delta epsilon", "en"))
      .toDF("doc_id", "text", "lang")
    assert(TextOps.importanceWeights(docs, $"doc_id", $"text", emptyDocs, $"text")
      .count() == 0)
    val resampled = TextOps.importanceResample(
      docs, $"doc_id", $"text", emptyDocs, $"text", k = 1)
    assert(resampled.count() == 0)
    assert(TextOps.bigramLmScoreAgainst(docs, $"doc_id", $"text", emptyDocs, $"text")
      .count() == 0)
    val kept = Dedup.incrementalDedup(docs, emptyDocs,
      TextOps.fingerprint($"text"), TextOps.fingerprint($"text"))
    assert(kept.count() == 2, "empty reference must keep every new row")
    assert(TextOps.bigramLmScoreAgainst(emptyDocs, $"doc_id", $"text", docs, $"text")
      .count() == 0) // empty input, trained model: vacuous
  }

  // ---- all-NULL text flows through without fabricating content ----
  test("all-NULL text: scorers emit no token rows; per-doc ops keep the docs") {
    assert(TextOps.unigramLogProbScore(nullDocs, $"doc_id", $"text").count() == 0)
    assert(TextOps.bigramLogProbScore(nullDocs, $"doc_id", $"text").count() == 0)
    assert(TextOps.charEntropyE4(nullDocs, $"doc_id", $"text").count() == 0)
    val scored = TextOps.classifierScore(nullDocs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored == Map(1L -> 0.5, 2L -> 0.5)) // featureless => neutral
    val trained = TextOps.classifierTrain(nullDocs, $"doc_id", $"text",
      when($"lang" === "en", 1L).otherwise(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(trained == Map(1L -> 0.5, 2L -> 0.5))
    // nearDedup returns SURVIVORS: null-text docs have no signatures, are
    // duplicates of nothing, and both ride through
    assert(Dedup.nearDedup(nullDocs, $"doc_id", $"text").count() == 2)
    // simHash of null text is null and DROPS (explode-form semantics)
    assert(Dedup.simHash(nullDocs, $"doc_id", $"text").count() == 0)
  }
}
