package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.util.Regimes

/** Label-propagation specs: a brute-force synchronous reference on a
  * seeded random graph, a planted-partition recovery check, and the
  * synchronous-update semantics pinned on an oscillating bipartite
  * pair (the case where async and sync LPA differ). Every case runs in
  * both regimes (one operator and the clustered loop) and the regimes
  * must agree. */
class CommunitiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The canonical simple undirected edges of `edges`. */
  private def undirected(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet

  /** `run`'s `(node, label)` rows in both regimes. */
  private def labels(run: => DataFrame): Map[Long, Long] =
    Regimes.bothRegimes(spark)(run).map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val df = edges.toDF("src", "dst").repartition(5)
    labels(Communities.labelPropagation(df, col("src"), col("dst"), iters))
  }

  private def brute(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = undirected(edges).toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      lab = adj.map { case (n, nb) =>
        val cnt = nb.toSeq.map(lab).groupBy(identity).view.mapValues(_.size).toMap
        val mx = cnt.values.max
        n -> cnt.filter(_._2 == mx).keys.min
      }
    }
    lab
  }

  test("seeded random graph matches the synchronous reference, rounds 1-3") {
    val rnd = new scala.util.Random(55)
    val edges = (1 to 300).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    (1 to 3).foreach { it =>
      assert(run(edges, it) == brute(edges, it), s"round $it")
    }
    // a dense graph (edges > nodes) with the bound at its node count runs
    // the clustered loop
    val und = undirected(edges)
    val nodes = und.flatMap(e => Seq(e._1, e._2)).size.toLong
    assert(nodes < und.size)
    val dense = Regimes.bounded(spark, nodes)(Communities.labelPropagation(
      edges.toDF("src", "dst"), col("src"), col("dst"), 3).collect())
    assert(dense.map(r => r.getLong(0) -> r.getLong(1)).toMap == brute(edges, 3))
  }

  test("synchronous update: a lone edge swaps labels each round") {
    // async LPA would stabilize; the synchronous snapshot oscillates —
    // pinning this distinguishes the implemented semantics
    assert(run(Seq((7L, 9L)), 1) == Map(7L -> 9L, 9L -> 7L))
    assert(run(Seq((7L, 9L)), 2) == Map(7L -> 7L, 9L -> 9L))
  }

  test("planted two-block graph: blocks recover distinct labels") {
    // two 8-cliques joined by one bridge edge
    def clique(base: Long) =
      for { i <- 0L until 8L; j <- (i + 1) until 8L } yield (base + i, base + j)
    val edges = clique(0) ++ clique(100) ++ Seq((0L, 100L))
    val lab = run(edges, 3)
    val blockA = (0L until 8L).map(lab).toSet
    val blockB = (100L until 108L).map(lab).toSet
    assert(blockA.size == 1 && blockB.size == 1 && blockA != blockB)
  }

  test("communities roll-up counts members per final label") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = Regimes.bothRegimes(spark)(Communities.communities(edges.toDF("src", "dst"),
        col("src"), col("dst"), 3))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lab = brute(edges, 3)
    val want = lab.groupBy(_._2).map { case (l, m) =>
      (l, m.size.toLong, m.keys.min)
    }.toSet
    assert(got == want)
  }

  test("Long.MinValue is a label like any other: the arg-max cannot overflow") {
    // the loop orders labels under ANSI arithmetic; a negated
    // Long.MinValue overflows, its bitwise NOT does not
    val edges = Seq((Long.MinValue, 1L), (Long.MinValue, 2L), (1L, 2L), (2L, 3L),
      (3L, Long.MaxValue))
    (1 to 3).foreach { it => assert(run(edges, it) == brute(edges, it), s"round $it") }
    assert(run(edges, 1)(1L) == Long.MinValue)
  }

  test("duplicate edges count once; self-loops and null endpoints are dropped") {
    val rnd = new scala.util.Random(56)
    val edges = (1 to 200).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val noisy = edges ++ edges.take(80) ++ Seq((5L, 5L), (77L, 77L))
    val got3 = run(noisy, 3)
    assert(got3 == brute(edges, 3))
    assert(!got3.contains(77L), "a self-loop alone makes no node")
    val nulls = edges.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(3L)), (Some(4L), None), (None, None))
    val got = labels(Communities.labelPropagation(nulls.toDF("src", "dst"),
      col("src"), col("dst"), 3))
    assert(got == brute(edges, 3))
  }

  test("Int ids label as longs; an empty graph labels no node") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
    val ints = edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst")
    assert(labels(Communities.labelPropagation(ints, col("src"), col("dst"), 2)) ==
      brute(edges, 2))
    assert(Communities.labelPropagation(ints, col("src"), col("dst"), 2)
      .schema.map(_.dataType.simpleString) == Seq("bigint", "bigint"))
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(labels(Communities.labelPropagation(empty, col("src"), col("dst"), 2)).isEmpty)
  }
}
