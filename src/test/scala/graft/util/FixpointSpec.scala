package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SparkTestSession
import graft.h3.{H3Geo, H3Traversal}
import org.apache.spark.graft.TestBusShims

/** The loop combinator: name-resolved convergence, both stop rules, both
  * fixed-round regimes, and — for every loop built on it — block
  * accounting that does not grow with the number of rounds run. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Min-label propagation over `edges`, its step emitting the compared
    * columns in the order (`__prev`, `id`, `label`): a positional change
    * test at the old connected-components indices (1 vs 2) would compare
    * `id` with `label` and never reach zero on a component of 2+ nodes. */
  private def minLabels(edges: Seq[(Long, Long)], maxRounds: Int,
      changed: Fixpoint.Changed = Fixpoint.differs("label", "__prev")): Fixpoint.Result = {
    val e = (edges ++ edges.map(_.swap)).toDF("a", "b")
    val init = e.select(col("a").as("id")).distinct().withColumn("label", col("id"))
    Fixpoint.converge(init, () => (), maxRounds, None) { (state, _) =>
      val labels = state.select(col("id"), col("label"))
      val msgs = e.join(labels, col("a") === col("id")).select(col("b").as("id"), col("label"))
      val next = labels.unionByName(msgs).groupBy(col("id")).agg(min(col("label")).as("label"))
      Fixpoint.Round(
        next.join(labels.select(col("id"), col("label").as("__prev")), "id")
          .select(col("__prev"), col("id"), col("label")),
        changed)
    }
  }

  test("converge: change test resolves columns by name, not position") {
    // two components: a 6-node path (min 0) and a triangle (min 10)
    val edges = (0L until 5L).map(i => (i, i + 1)) ++ Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val res = minLabels(edges, maxRounds = 20)
    assert(res.converged)
    // the path's far end learns label 0 after 5 rounds; one more round
    // observes no change
    assert(res.rounds == 6)
    val got = res.frame.select($"id", $"label").as[(Long, Long)].collect().toMap
    assert(got == (0L to 5L).map(_ -> 0L).toMap ++ (10L to 12L).map(_ -> 10L).toMap)
    assert(res.frame.columns.toSeq == Seq("__prev", "id", "label"))
    // the same step under the old hard-coded indices never converges
    val positional = minLabels(edges, maxRounds = 20, _ => r => r.get(1) != r.get(2))
    assert(!positional.converged && positional.rounds == 20)
  }

  test("converge: the round cap stops an unconverged loop and says so") {
    val res = minLabels((0L until 5L).map(i => (i, i + 1)), maxRounds = 2)
    assert(!res.converged && res.rounds == 2)
    val zero = minLabels(Seq((0L, 1L)), maxRounds = 0)
    assert(!zero.converged && zero.rounds == 0)
  }

  test("converge: sameCount stops a shrinking frame; the step sees the previous count") {
    // each round drops the largest remaining value below 5: counts 9, 8,
    // ..., 5, 5 — the step must see -1 first, then each previous count
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val init = (0L until 10L).toDF("v")
    val res = Fixpoint.converge(init, () => (), 50, None, stop = Fixpoint.sameCount) {
      (state, prev) =>
        seen += prev
        val cut = state.agg(max(col("v"))).head().getLong(0)
        Fixpoint.Round(state.filter(col("v") < math.max(cut, 5L)), Fixpoint.everyRow)
    }
    assert(res.converged && res.rounds == 6)
    assert(seen.toSeq == Seq(-1L, 9L, 8L, 7L, 6L, 5L))
    assert(res.frame.as[Long].collect().sorted.toSeq == (0L until 5L))
  }

  test("fixedRounds: the small and clustered regimes agree, and only the clustered one frees") {
    val sc = spark.sparkContext
    val init = (0L until 20L).toDF("v").repartition(col("v"))
    def run(clustered: Boolean, rounds: Int): (Seq[Long], Int) = {
      val before = sc.getPersistentRDDs.keySet
      val out = Fixpoint.fixedRounds(init, () => (), rounds, clustered, None) { df =>
        df.select((col("v") * 3 + 1).as("v"))
      }
      val vs = out.as[Long].collect().sorted.toSeq
      (vs, (sc.getPersistentRDDs.keySet -- before).size)
    }
    val (small, smallPins) = run(clustered = false, rounds = 4)
    val (clustered, clusteredPins) = run(clustered = true, rounds = 4)
    assert(small == clustered)
    assert(small == (0L until 20L).map(v => (1 to 4).foldLeft(v)((x, _) => x * 3 + 1)).sorted)
    // the lazy chain pins one generation per round; the eager one keeps
    // only the final generation
    assert(smallPins == 4)
    assert(clusteredPins == 1)
    assert(run(clustered = true, rounds = 8)._2 == 1)
  }

  /** RDDs left pinned once the result is collected, and the jobs run.
    * Every RDD persisted during the run is held strongly from the
    * listener, so a leaked generation cannot be hidden by the context
    * cleaner unpersisting it after a GC. */
  private def pinsAndJobs(build: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    TestBusShims.drainListenerBus(sc)
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val jobs = new AtomicInteger
    def hold(): Unit = sc.getPersistentRDDs.valuesIterator.foreach(held.add)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); hold() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = hold()
    }
    sc.addSparkListener(listener)
    try {
      val out = build
      out.collect()
      TestBusShims.drainListenerBus(sc)
      ((sc.getPersistentRDDs.keySet -- before).size, jobs.get)
    } finally {
      sc.removeSparkListener(listener)
      held.clear()
    }
  }

  /** `long` needs about twice the rounds of `short`; the RDDs pinned
    * after collecting must not grow with them. */
  private def assertFlat(name: String, minExtraJobs: Int)(
      short: => DataFrame, long: => DataFrame): Unit = {
    val (pinShort, jobsShort) = pinsAndJobs(short)
    val (pinLong, jobsLong) = pinsAndJobs(long)
    assert(jobsLong >= jobsShort + minExtraJobs,
      s"$name: the long input did not run more rounds ($jobsShort -> $jobsLong jobs)")
    assert(pinLong <= pinShort,
      s"$name: RDDs pinned after the loop grew with its rounds: $pinShort -> $pinLong")
  }

  private def path(n: Int): Seq[(Long, Long)] = (0L until n - 1L).map(i => (i, i + 1))

  private def kCorePath(n: Int): DataFrame = graft.graph.Cores.kCore(
    path(n).toDF("src", "dst"), col("src"), col("dst"), k = 2, rounds = 64)

  test("k-core frees every superseded generation: path graphs of N and 2N rounds") {
    // k=2 peels one node from each end per round
    clustered {
      assertFlat("kCore", minExtraJobs = 4)(kCorePath(10), kCorePath(20))
    }
  }

  test("connected components frees every superseded generation (distributed loop)") {
    // pointer halving: rounds grow with log(diameter)
    def run(n: Int) = graft.pipeline.Dedup.connectedComponents(
      path(n).toDF("id_a", "id_b"), driverEdgeLimit = 0)
    assertFlat("connectedComponents", minExtraJobs = 3)(run(8), run(128))
  }

  /** Runs `body` with the clustered regime and the loops forced. */
  private def clustered(body: => Unit): Unit = Regimes.clustered(spark)(body)

  /** A straight res-9 line of cells `km` long (7 cells at 2 km, 33 at 10). */
  private def snake(km: Double): Seq[Long] = {
    val a = H3Geo.latLngToCell(48.85, 2.35, 9)
    val g = H3Geo.cellToLatLng(a)
    H3Traversal.gridPathCells(a, H3Geo.latLngToCell(g.lat, g.lng + km / 73.0, 9)).toSeq
  }

  private def snakeClusters(km: Double): DataFrame =
    graft.df.H3Clusters.cellClusters(snake(km).toDF("cell"), "cell")

  test("cellClusters frees every superseded generation on a snake") {
    // 44 and 198 jobs on a 4-core host
    clustered {
      assertFlat("cellClusters", minExtraJobs = 3)(snakeClusters(2.0), snakeClusters(10.0))
    }
  }

  private def chain(n: Int): DataFrame = {
    val e = path(n)
    (e ++ e.map(_.swap)).map { case (a, b) => (a, b, 1.0) }.toDF("origin", "destination", "weight")
  }

  private def chainCosts(n: Int): DataFrame = graft.graph.H3Graph.shortestPathsIterative(
    spark, chain(n), Seq(0L), Seq(n - 1L), hopsPerRound = 1)

  private def chainPaths(n: Int): DataFrame = graft.graph.H3Graph.shortestPathsIterativePaths(
    spark, chain(n), Seq(0L), Seq(n - 1L), hopsPerRound = 1)

  test("iterative SSSP frees every superseded generation: chains of N and 2N rounds") {
    clustered {
      assertFlat("shortestPathsIterative", minExtraJobs = 6)(chainCosts(8), chainCosts(16))
    }
  }

  test("iterative SSSP with paths frees every superseded generation") {
    clustered {
      assertFlat("shortestPathsIterativePaths", minExtraJobs = 6)(chainPaths(8), chainPaths(16))
    }
  }

  private def ranks(iters: Int): DataFrame = graft.graph.Ranks.pageRank(
    path(30).toDF("src", "dst"), col("src"), col("dst"), iters)

  private def labels(iters: Int): DataFrame = graft.graph.Communities.labelPropagation(
    path(30).toDF("src", "dst"), col("src"), col("dst"), iters)

  /** Each (name, short, long) pair runs in the small regime: the loop's
    * job count grows with the rounds (see the clustered specs around);
    * the one operator's must not, and it leaves no RDD pinned. */
  private def assertOneOperator(cases: (String, () => DataFrame, () => DataFrame)*): Unit =
    for ((name, short, long) <- cases) {
      val (pinShort, jobsShort) = pinsAndJobs(short())
      val (pinLong, jobsLong) = pinsAndJobs(long())
      assert(jobsShort == jobsLong, s"$name: $jobsShort jobs on the short input, $jobsLong on the long")
      assert(pinShort == 0 && pinLong == 0, s"$name: $pinShort and $pinLong RDDs left pinned")
    }

  test("small regime: SSSP and cellClusters run as one operator, whatever the hops, and pin nothing") {
    assertOneOperator(
      ("shortestPathsIterative", () => chainCosts(8), () => chainCosts(16)),
      ("shortestPathsIterativePaths", () => chainPaths(8), () => chainPaths(16)),
      ("cellClusters", () => snakeClusters(2.0), () => snakeClusters(10.0)))
  }

  test("small regime: PageRank, label propagation and k-core run as one operator, whatever the rounds, and pin nothing") {
    assertOneOperator(
      ("pageRank", () => ranks(4), () => ranks(8)),
      ("labelPropagation", () => labels(4), () => labels(8)),
      ("kCore", () => kCorePath(10), () => kCorePath(20)))
  }

  test("PageRank frees every superseded generation in the clustered regime") {
    clustered {
      assertFlat("pageRank", minExtraJobs = 4)(ranks(4), ranks(8))
    }
  }

  test("label propagation frees every superseded generation in the clustered regime") {
    clustered {
      assertFlat("labelPropagation", minExtraJobs = 4)(labels(4), labels(8))
    }
  }
}
