package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.util.Regimes

/** Integer-lattice PageRank: sequential-reference equality on a seeded
  * random graph (exact — the recurrence has no floats), partitioning
  * invariance, and ranking laws (authority concentrates on the
  * high-indegree hub; mass never exceeds the initial lattice total).
  * Every case runs in both regimes (one operator and the clustered loop)
  * and the regimes must agree. */
class RanksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  // 40 nodes; node 7 is a hub (every 3rd edge points at it)
  private val edges: Seq[(Long, Long)] = (0 until 300).map { i =>
    val s = rnd.nextInt(40).toLong
    val d = if (i % 3 == 0) 7L else rnd.nextInt(40).toLong
    (s, d)
  }.distinct

  /** `run`'s `(node, rank_e9)` rows in both regimes. */
  private def ranks(run: => DataFrame): Map[Long, Long] =
    Regimes.bothRegimes(spark)(run).map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def refPageRank(all: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val es = all.distinct
    val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.size.toLong
    val tele = (15L * 1000000000L) / (100L * n)
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to iters) {
      val in = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => in(d) += (r(s) * 85L) / (100L * deg(s)) }
      r = nodes.map(v => v -> (tele + in(v))).toMap
    }
    r
  }

  test("pageRank matches the sequential integer recurrence exactly") {
    val df = edges.toDF("s", "d").repartition(9)
    val got = ranks(Ranks.pageRank(df, $"s", $"d", iters = 3))
    val want = refPageRank(edges, 3)
    assert(got == want)
    // a dense graph (edges > nodes) with the bound at its node count runs
    // the clustered loop
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.size.toLong
    assert(nodes < edges.size)
    val dense = Regimes.bounded(spark, nodes)(Ranks.pageRank(df, $"s", $"d", iters = 3).collect())
    assert(dense.map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("loop layout: one shuffle per extra iteration in the non-broadcast regime") {
    // The clustered-edge + keep-layout-round design: withDeg (hash src,
    // sorted) and nodes (hash node, sorted) stream in place through every
    // round's joins even when nothing broadcasts, so each additional
    // iteration adds exactly ONE shuffle stage — the per-node contribution
    // sum. Measured as marginal completed-stage count between iteration
    // budgets (threshold -1 forces the non-broadcast regime the 100 TB
    // cluster lives in; the old unclustered loop paid ~4-5 exchanges per
    // round here).
    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // count SHUFFLE-WRITING stages only: the eager per-round barrier adds
    // a result stage per round by design (the count job), but the layout
    // claim is about data movement — only the contribution sum may write
    // a shuffle each round; the edge/node/rank frames stream in place
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.bytesWritten > 0)
          shuffleStages.incrementAndGet()
        ()
      }
    }
    def measured(iters: Int): Int = {
      // deterministic drain of the async listener bus: both measurements
      // must neither undercount nor inherit the other's late events
      org.apache.spark.graft.TestBusShims.drainListenerBus(spark.sparkContext)
      shuffleStages.set(0)
      Ranks.pageRank(edges.toDF("s", "d").repartition(5), $"s", $"d", iters).collect()
      org.apache.spark.graft.TestBusShims.drainListenerBus(spark.sparkContext)
      shuffleStages.get()
    }
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("graft.layout.clusterMinRows", "0") // force the clustered regime
      spark.sparkContext.addSparkListener(listener)
      val s2 = measured(2)
      val s6 = measured(6)
      val marginalPerIter = (s6 - s2) / 4.0
      assert(marginalPerIter <= 1.0,
        s"expected <=1 shuffle-writing stage per extra iteration, got $marginalPerIter (s2=$s2 s6=$s6)")
      // and the clustered regime's values are identical to the default
      // (one-operator) regime's
      val clusteredRun = Ranks.pageRank(edges.toDF("s", "d"), $"s", $"d", 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.unset("graft.layout.clusterMinRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
      val broadcastRun = Ranks.pageRank(edges.toDF("s", "d"), $"s", $"d", 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clusteredRun == broadcastRun && broadcastRun == refPageRank(edges, 3))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("graft.layout.clusterMinRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
    }
  }

  test("ranking laws: hub dominates; lattice mass bounded; partition-invariant") {
    val a = ranks(Ranks.pageRank(edges.toDF("s", "d").repartition(1), $"s", $"d", 3))
    val b = ranks(Ranks.pageRank(edges.toDF("s", "d").repartition(13), $"s", $"d", 3))
    assert(a == b) // integer arithmetic: no summation-order wiggle at all
    assert(a(7L) == a.values.max, "the hub carries the top rank")
    assert(a(7L) > 3L * (a.values.sum / a.size), "hub well above mean")
    // mass only decays (floor losses + dangling), never appears
    assert(a.values.sum <= 1000000000L)
  }

  /** The seed list's length (duplicates counted) splits the lattice mass;
    * membership is set membership. */
  private def refPpr(all: Seq[(Long, Long)], seedList: Seq[Long], iters: Int): Map[Long, Long] = {
    val es = all.distinct
    val seeds = seedList.toSet
    val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val tele = (15L * 1000000000L) / (100L * seedList.length)
    var r = nodes.map(v => v -> (if (seeds(v)) 1000000000L / seedList.length else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => in(d) += (r(s) * 85L) / (100L * deg(s)) }
      r = nodes.map(v => v -> ((if (seeds(v)) tele else 0L) + in(v))).toMap
    }
    r
  }

  test("personalizedPageRank matches the sequential recurrence; mass localizes at seeds") {
    val seeds = Seq(3L, 11L)
    val df = edges.toDF("s", "d").repartition(9)
    val got = ranks(Ranks.personalizedPageRank(df, $"s", $"d", seeds, iters = 3))
    assert(got == refPpr(edges, seeds, 3))
    // two components joined by NO path: mass never reaches the island
    val island = edges ++ Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val gotI = ranks(
      Ranks.personalizedPageRank(island.toDF("s", "d"), $"s", $"d", seeds, 3))
    assert(Seq(100L, 101L, 102L).forall(n => gotI(n) == 0L))
    assert(gotI.filterKeys(_ < 100L).toMap == refPpr(island, seeds, 3).filterKeys(_ < 100L).toMap)
  }

  test("personalizedPageRank: a repeated seed counts twice, a seed off the graph once") {
    // seeds.length (4) splits the mass; 999 is no node, so its share and
    // teleport reach no one
    val seeds = Seq(3L, 3L, 11L, 999L)
    val got = ranks(Ranks.personalizedPageRank(edges.toDF("s", "d"), $"s", $"d", seeds, 3))
    assert(got == refPpr(edges, seeds, 3))
    assert(!got.contains(999L))
  }

  test("duplicate edges count once; self-loops are kept") {
    val loops = Seq((5L, 5L), (7L, 7L), (50L, 50L)) // 50 has only its self-loop
    val es = edges ++ edges.take(60) ++ loops ++ loops
    val got = ranks(Ranks.pageRank(es.toDF("s", "d").repartition(4), $"s", $"d", 3))
    assert(got == refPageRank(es, 3))
    assert(got.contains(50L))
  }

  test("rows with a null endpoint are dropped; Int ids rank as longs") {
    val nulls = edges.map { case (s, d) => (Option(s), Option(d)) } ++
      Seq((None, Some(3L)), (Some(4L), None), (None, None))
    val gotNulls = ranks(Ranks.pageRank(nulls.toDF("s", "d"), $"s", $"d", 3))
    assert(gotNulls == refPageRank(edges, 3))
    val ints = edges.map { case (s, d) => (s.toInt, d.toInt) }.toDF("s", "d")
    val gotInts = ranks(Ranks.pageRank(ints, $"s", $"d", 3))
    assert(gotInts == refPageRank(edges, 3))
    assert(Ranks.pageRank(ints, $"s", $"d", 3).schema.map(_.dataType.simpleString) ==
      Seq("bigint", "bigint"))
  }

  test("an empty graph ranks no node") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(ranks(Ranks.pageRank(empty, $"s", $"d", 3)).isEmpty)
    assert(ranks(Ranks.personalizedPageRank(empty, $"s", $"d", Seq(1L), 3)).isEmpty)
    assert(Ranks.pageRank(empty, $"s", $"d", 3).columns.toSeq == Seq("node", "rank_e9"))
  }
}
