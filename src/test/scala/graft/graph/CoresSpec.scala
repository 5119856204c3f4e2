package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.util.Regimes

/** k-core peeling specs: round-by-round semantics on a path (peels
  * inward one layer per round), clique cores, and a seeded random
  * graph against a sequential synchronous-peel reference. Every case
  * runs in both regimes (one operator and the loop) and the regimes must
  * agree. */
class CoresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `run`'s `(node, degree)` rows in both regimes. */
  private def cores(run: => DataFrame): Map[Long, Long] =
    Regimes.bothRegimes(spark)(run).map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
    cores(Cores.kCore(edges.toDF("src", "dst").repartition(5), col("src"), col("dst"),
      k, rounds))

  private def brute(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    (1 to rounds).foreach { _ =>
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      und = und.filter(e => keep(e._1) && keep(e._2))
    }
    und.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("a path peels inward exactly one layer per round at k=2") {
    // 0-1-2-3-4-5-6: endpoints have degree 1, peel one pair per round
    val path = (0L until 6L).map(i => (i, i + 1))
    assert(run(path, 2, 1).keySet == (1L to 5L).toSet)
    assert(run(path, 2, 2).keySet == (2L to 4L).toSet)
    // round 3: only the middle node clears k=2, so no edge survives
    assert(run(path, 2, 3).isEmpty)
    assert(run(path, 2, 3) == brute(path, 2, 3))
  }

  test("a clique with a pendant: pendant peels, clique survives any rounds") {
    val clique = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val edges = clique ++ Seq((0L, 99L))
    val got = run(edges, 4, 4)
    assert(got == (0L until 5L).map(_ -> 4L).toMap)
  }

  test("seeded random graph matches the synchronous-peel reference") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 300).map(_ => (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
    for (k <- Seq(3, 5, 7, 10); rounds <- Seq(1, 2, 4)) {
      assert(run(edges, k, rounds) == brute(edges, k, rounds), s"k=$k rounds=$rounds")
    }
    // some probed k actually removes nodes (the peel is exercised)
    assert(Seq(3, 5, 7, 10).exists(k => brute(edges, k, 1).size < 45))
  }

  test("fixpoint exit: a generous round budget equals the exact budget") {
    // the 7-node path at k=2 empties by round 3; a 50-round budget must
    // return the identical (empty) result without paying 47 no-op rounds,
    // and on the clique fixture the budget past convergence is free
    val path = (0L until 6L).map(i => (i, i + 1))
    assert(run(path, 2, 50) == run(path, 2, 3))
    val clique = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    assert(run(clique ++ Seq((0L, 99L)), 4, 50) == run(clique ++ Seq((0L, 99L)), 4, 2))
  }

  test("reliable-checkpoint cadence keeps values exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kcore-rel").toString
    // a 16-node path peels exactly one layer per round at k=2, so the
    // loop genuinely runs 6 rounds and crosses the ReliableEvery boundary
    // (round index 4 writes files) before the fixpoint exit could fire
    val edges = (0L until 15L).map(i => (i, i + 1))
    val default = run(edges, 2, 6)
    assert(default == brute(edges, 2, 6))
    // pinned to the loop: the one-operator regime writes no checkpoint
    val withDir = Regimes.clustered(spark) {
      Cores.kCore(edges.toDF("src", "dst"), col("src"), col("dst"),
          k = 2, rounds = 6, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(withDir == default)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable kCore round wrote nothing")
  }

  test("a round cap short of the fixpoint returns the capped peel") {
    // the 16-node path needs 8 rounds to empty at k=2; 3 rounds leave the
    // middle 10 nodes, the two new ends at degree 1
    val path = (0L until 15L).map(i => (i, i + 1))
    val got = run(path, 2, 3)
    assert(got == brute(path, 2, 3))
    assert(got.keySet == (3L to 12L).toSet && got(3L) == 1L)
  }

  test("duplicate edges count once; self-loops and null endpoints are dropped") {
    val clique = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val edges = clique ++ Seq((0L, 99L), (99L, 98L))
    // duplicates in both directions and self-loops would lift 99 to k=2
    val noisy = edges ++ edges.map(_.swap) ++ Seq((99L, 99L), (98L, 98L), (98L, 98L))
    val got = run(noisy, 2, 4)
    assert(got == brute(edges, 2, 4))
    assert(!got.contains(99L))
    val nulls = edges.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(98L)), (Some(99L), None), (None, None))
    assert(cores(Cores.kCore(nulls.toDF("src", "dst"), col("src"), col("dst"), 2, 4)) ==
      brute(edges, 2, 4))
  }

  test("Int ids peel as longs; an empty graph has no core") {
    val clique = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val ints = (clique :+ ((0L, 99L))).map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst")
    assert(cores(Cores.kCore(ints, col("src"), col("dst"), 4, 4)) ==
      (0L until 5L).map(_ -> 4L).toMap)
    assert(Cores.kCore(ints, col("src"), col("dst"), 4, 4)
      .schema.map(_.dataType.simpleString) == Seq("bigint", "bigint"))
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(cores(Cores.kCore(empty, col("src"), col("dst"), 1, 4)).isEmpty)
  }
}
