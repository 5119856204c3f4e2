package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SparkTestSession
import graft.h3.{H3Geo, H3Traversal}

/** The loop combinator: name-resolved convergence, both stop rules, fixed
  * rounds, the reliable round, the stat-safe barriers, and — for every
  * loop built on it — block accounting that does not grow with the number
  * of rounds run. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Min-label propagation over `edges`, its step emitting the compared
    * columns in the order (`__prev`, `id`, `label`): the change test must
    * resolve `label` and `__prev` by name. */
  private def minLabels(edges: Seq[(Long, Long)], maxRounds: Int): Fixpoint.Result = {
    val e = (edges ++ edges.map(_.swap)).toDF("a", "b")
    val init = e.select(col("a").as("id")).distinct().withColumn("label", col("id"))
    Fixpoint.converge(init, () => (), maxRounds, None) { (state, _) =>
      val labels = state.select(col("id"), col("label"))
      val msgs = e.join(labels, col("a") === col("id")).select(col("b").as("id"), col("label"))
      val next = labels.unionByName(msgs).groupBy(col("id")).agg(min(col("label")).as("label"))
      Fixpoint.Round(
        next.join(labels.select(col("id"), col("label").as("__prev")), "id")
          .select(col("__prev"), col("id"), col("label")),
        Fixpoint.differs("label", "__prev"))
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

  test("converge: a reliable round runs its lineage once, counts exactly, writes its files and pins nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixpoint-reliable")
    val evals = spark.sparkContext.longAccumulator("graft.spec.evals")
    val source = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 400L, 4).map { i => evals.add(1L); Row(i) },
      StructType(Seq(StructField("v", LongType))))
    // rounds 0 until `reliable` are local and carry the start frame; the
    // reliable round barriers the counted source
    val reliable = Barriers.ReliableEvery - 1
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var res: Fixpoint.Result = null
    val (pins, jobs) = Regimes.pinsAndJobs(spark) {
      res = Fixpoint.converge(spark.range(3).toDF("v"), () => (), reliable + 1,
          Some(dir.toString), stop = (n, _) => { counts += n; false }) { (state, _) =>
        if (counts.size < reliable) Fixpoint.Round(state, lit(false))
        else Fixpoint.Round(source, col("v") % 3 === 0)
      }
    }
    assert(evals.value == 400L,
      s"the reliable round evaluated its lineage ${evals.value / 400.0} times, expected once")
    assert(counts.toSeq == Seq.fill(reliable)(0L) :+ 134L)
    assert(jobs == reliable + 1, s"$jobs jobs for ${reliable + 1} rounds")
    assert(java.nio.file.Files.walk(dir).anyMatch(_.getFileName.toString.startsWith("part-")),
      s"no checkpoint file under $dir")
    assert(pins == 0, s"$pins RDDs left pinned")
    assert(res.frame.count() == 400L && evals.value == 400L) // read off the files
    res.free()
  }

  test("barriers: a plain checkpoint keeps a tiny estimate; every stat-safe barrier reports the default size") {
    // the p61/p62 lesson in `Barriers.statSafe`: a frame estimated tiny
    // must never elect a static broadcast, however large it runs. The
    // source is a 10-row aggregate, estimated at a few hundred bytes.
    def tiny = spark.range(100).groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
    def leaf(df: DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.collectFirst { case l: LogicalRDD => l.stats.sizeInBytes }
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(leaf(tiny.localCheckpoint(eager = false)).exists(_ < default),
      "the source's estimate is not tiny: the checks below would be vacuous")
    val converged = Fixpoint.converge(tiny, () => (), 3, None) { (state, _) =>
      Fixpoint.Round(state.select(col("k"), col("n")), Fixpoint.differs("n", "n"))
    }
    assert(converged.converged && converged.rounds == 1)
    for ((what, (df, free)) <- Seq(
        "statSafe" -> { val f = Barriers.statSafe(tiny); (f, Barriers.freeThunk(f)) },
        "statSafeFreeable" -> Barriers.statSafeFreeable(tiny),
        "generation" -> Barriers.generation(tiny),
        "converge" -> (converged.frame, converged.free))) {
      assert(leaf(df).exists(_ >= default), s"$what: the leaf reports ${leaf(df)}")
      assert(df.count() == 10L, what)
      free()
    }
  }

  test("fixedRounds: runs every round and keeps only the final generation") {
    val sc = spark.sparkContext
    val init = (0L until 20L).toDF("v").repartition(col("v"))
    def run(rounds: Int): (Seq[Long], Int) = {
      val before = sc.getPersistentRDDs.keySet
      val out = Fixpoint.fixedRounds(init, () => (), rounds, None) { df =>
        df.select((col("v") * 3 + 1).as("v"))
      }
      val vs = out.as[Long].collect().sorted.toSeq
      (vs, (sc.getPersistentRDDs.keySet -- before).size)
    }
    val (vs, pins) = run(rounds = 4)
    assert(vs == (0L until 20L).map(v => (1 to 4).foldLeft(v)((x, _) => x * 3 + 1)).sorted)
    assert(pins == 1)
    assert(run(rounds = 8)._2 == 1)
  }

  private def pinsAndJobs(build: => DataFrame): (Int, Int) =
    Regimes.pinsAndJobs(spark)(build.collect())

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
    def run(n: Int) = graft.pipeline.Dedup.connectedComponents(path(n).toDF("id_a", "id_b"))
    clustered {
      assertFlat("connectedComponents", minExtraJobs = 3)(run(8), run(128))
    }
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

  /** Each (name, short, long, jobs) case runs in the small regime: the
    * loop's job count grows with the rounds (see the clustered specs
    * around); the one operator's must not, it runs at most `jobs` jobs
    * (its result collects without one), and it leaves no RDD pinned. */
  private def assertOneOperator(cases: (String, () => DataFrame, () => DataFrame, Int)*): Unit =
    for ((name, short, long, maxJobs) <- cases) {
      val (pinShort, jobsShort) = pinsAndJobs(short())
      val (pinLong, jobsLong) = pinsAndJobs(long())
      assert(jobsShort == jobsLong, s"$name: $jobsShort jobs on the short input, $jobsLong on the long")
      assert(jobsShort <= maxJobs, s"$name: $jobsShort jobs, at most $maxJobs expected")
      assert(pinShort == 0 && pinLong == 0, s"$name: $pinShort and $pinLong RDDs left pinned")
    }

  test("small regime: SSSP and cellClusters run as one operator, whatever the hops, and pin nothing") {
    assertOneOperator(
      ("shortestPathsIterative", () => chainCosts(8), () => chainCosts(16), 3),
      ("shortestPathsIterativePaths", () => chainPaths(8), () => chainPaths(16), 3),
      ("cellClusters", () => snakeClusters(2.0), () => snakeClusters(10.0), 5))
  }

  test("small regime: PageRank, label propagation and k-core run as one operator, whatever the rounds, and pin nothing") {
    assertOneOperator(
      ("pageRank", () => ranks(4), () => ranks(8), 3),
      ("labelPropagation", () => labels(4), () => labels(8), 3),
      ("kCore", () => kCorePath(10), () => kCorePath(20), 3))
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
