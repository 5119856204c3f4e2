package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** [[CheckpointLayout.clusteredBy]] must yield a checkpoint whose
  * captured HashPartitioning+ordering reference its OWN output on both
  * build paths: the direct capture (no alias collapse in the subtree)
  * and the stable-boundary fallback that guards against Spark's
  * RemoveRedundantAliases exprId staleness (a bare already-long column
  * cast+aliased to its own name — the p77 shape). */
class CheckpointLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def capturedLayout(ck: DataFrame): (Boolean, Boolean) =
    ck.queryExecution.analyzed.collectFirst { case l: LogicalRDD =>
      val out = AttributeSet(l.output)
      val partOk = (l.outputPartitioning match {
        case e: Expression => e.references.nonEmpty && e.references.subsetOf(out)
        case _ => false
      })
      val sortOk = l.outputOrdering.nonEmpty &&
        l.outputOrdering.forall(_.references.subsetOf(out))
      (partOk, sortOk)
    }.getOrElse((false, false))

  private def shuffleFree(ck: DataFrame): Unit = {
    val agg = ck.groupBy(col("k")).agg(sum(col("v")).as("s"))
    agg.collect()
    val fin = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fin.contains("Exchange hashpartitioning"),
      s"expected the captured layout to satisfy the groupBy in:\n$fin")
  }

  test("graft.layout.clusterMinRows: a non-integer or negative value is rejected by name") {
    val key = "graft.layout.clusterMinRows"
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    try {
      for (bad <- Seq("1e6", "-5", "many")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](CheckpointLayout.clusterMinRows(spark))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
        // an operator deciding its regime fails the same way
        intercept[IllegalArgumentException](Dedup.connectedComponents(pairs))
      }
      for ((ok, want) <- Seq("0" -> 0L, "7" -> 7L, Long.MaxValue.toString -> Long.MaxValue)) {
        spark.conf.set(key, ok)
        assert(CheckpointLayout.clusterMinRows(spark) == want)
      }
    } finally spark.conf.unset(key)
    assert(CheckpointLayout.clusterMinRows(spark) == CheckpointLayout.ClusterLayoutMinRows)
  }

  test("direct path: expression-derived key survives the checkpoint") {
    val df = spark.range(200).select((col("id") % 17).as("k"), col("id").as("v"))
    val ck = CheckpointLayout.clusteredBy(df, "k")
    val (partOk, sortOk) = capturedLayout(ck)
    assert(partOk && sortOk, s"layout not captured: part=$partOk sort=$sortOk")
    shuffleFree(ck)
    assert(ck.count() == 200)
  }

  test("stale-alias shape: bare same-name long column still lands the layout") {
    // cast("long") on an already-long column + same-name alias is exactly
    // what RemoveRedundantAliases collapses, leaving fromDataset's
    // verbatim-copied partitioning pointing at dead exprIds. The internal
    // rename shield must keep the capture stable (single materialization,
    // no fallback) and the result must still be layout-true downstream.
    val src = spark.range(300).select(col("id").as("k"), (col("id") * 2).as("v0"))
    val df = src.select(col("k").cast("long").as("k"), col("v0").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
      .select(col("k"), col("v"))
    val ck = CheckpointLayout.clusteredBy(df, "k")
    val (partOk, sortOk) = capturedLayout(ck)
    assert(partOk && sortOk, s"layout not captured: part=$partOk sort=$sortOk")
    shuffleFree(ck)
    assert(ck.count() == 300)
  }

  test("stable-boundary fallback itself is layout-true") {
    // The fallback is expected never to run behind the rename shield, but
    // it is the safety net — pin it directly: even on the alias-collapse
    // shape it must produce a usable captured layout (via its LogicalRDD
    // leaf boundary) and satisfy a downstream clustering for free.
    val df = spark.range(200)
      .select(col("id").cast("long").as("k"), (col("id") % 7).as("v"))
    val ck = CheckpointLayout.stableBoundaryCheckpoint(df,
      d => d.repartition(col("k")).sortWithinPartitions(col("k")))
    val (partOk, sortOk) = capturedLayout(ck)
    assert(partOk && sortOk, s"layout not captured: part=$partOk sort=$sortOk")
    shuffleFree(ck)
    assert(ck.count() == 200)
  }

  test("statSafeClusteredBy: layout survives the stats drop and feeds a join exchange-free") {
    // The iterative-loop contract: the static big frame is shuffled+sorted
    // ONCE at build; every round's equi-join against a slim evolving frame
    // must then need no exchange and no sort on the big side, even in the
    // non-broadcast regime (threshold disabled to force SMJ/SHJ).
    val big = spark.range(2000)
      .select((col("id") % 97).as("k"), (col("id") * 3).as("v"))
    val (ck, free) = CheckpointLayout.statSafeClusteredBy(big, "k")
    // stats dropped: the leaf must report the huge default, not the origin
    // estimate — so the static planner can never broadcast-build this side
    val leafStats = ck.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRDD => l.stats.sizeInBytes
    }
    assert(leafStats.exists(_ >= BigInt(spark.sessionState.conf.defaultSizeInBytes)),
      s"origin stats not dropped: $leafStats")
    val (partOk, sortOk) = capturedLayout(ck)
    assert(partOk && sortOk, s"layout lost in stats drop: part=$partOk sort=$sortOk")

    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val slim = spark.range(97).select(col("id").as("k2"), lit(1L).as("w"))
      val joined = ck.join(slim, ck("k") === slim("k2"))
        .groupBy(col("k")).agg(sum(col("v") * col("w")).as("s"))
      joined.collect()
      val fin = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly ONE shuffle: the slim side; the big side streams in place
      val shuffles = fin.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 1, s"expected only the slim side to exchange, got $shuffles in:\n$fin")
      // and the big side is not re-sorted: at most one Sort (slim side's SMJ sort)
      val sorts = fin.linesIterator.count(l => l.trim.matches("^[+:|\\-\\s*()0-9]*Sort \\[.*"))
      assert(sorts <= 1, s"big side re-sorted:\n$fin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)

    assert(ck.count() == 2000)
    free() // after materialization: must not throw
  }

  test("clustered regime is value-identical to the default regime across the loops") {
    // Every dual-regime operator (CC, LPA, walks, SSSP) must return the
    // exact same rows in its default regime and its clustered loop — the
    // layout is a physical property only. Forced via the session conf the
    // operators read their bound from.
    val rnd = new scala.util.Random(7)
    val es = (0 until 150).map { _ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)
    }.filter(p => p._1 != p._2).distinct
    val pairDf = es.toDF("id_a", "id_b")
    val graphDf = es.toDF("origin", "destination")
      .withColumn("weight", (pmod(col("origin") * 31 + col("destination"), lit(7)) + 1).cast("double"))
    def ccRows(): Set[String] = Dedup.connectedComponents(pairDf).collect().map(_.toString).toSet
    def runAll(): Seq[Set[String]] = {
      val cc = ccRows()
      val lpa = graft.graph.Communities.labelPropagation(pairDf, $"id_a", $"id_b", 3)
        .collect().map(_.toString).toSet
      val wk = graft.graph.Walks.walks(pairDf, $"id_a", $"id_b", 3)
        .collect().map(_.toString).toSet
      val ss = graft.graph.H3Graph.shortestPathsIterative(spark, graphDf,
        origins = Seq(es.head._1), destinations = es.map(_._2).distinct.take(5))
        .collect().map(_.toString).toSet
      Seq(cc, lpa, wk, ss)
    }
    val default = runAll()
    try {
      spark.conf.set("graft.layout.clusterMinRows", "0")
      val clustered = runAll()
      default.zip(clustered).zipWithIndex.foreach { case ((d, c), i) =>
        assert(d == c, s"loop $i differs between regimes")
      }
      // CC's unclustered loop: its edges past the bound, its nodes under it
      spark.conf.set("graft.layout.clusterMinRows", "50")
      assert(ccRows() == default.head, "CC's unclustered loop differs")
    } finally spark.conf.unset("graft.layout.clusterMinRows")
  }

  test("clustered eager rounds with a reliable checkpoint cadence stay value-exact") {
    // iters=6 crosses the ReliableEvery boundary (round 4 writes a
    // reliable checkpoint); values must match the default-regime run and
    // the lattice reference exactly, and the checkpoint dir must be used.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckl-rel").toString
    val rnd = new scala.util.Random(11)
    val es = (0 until 200).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val df = es.toDF("s", "d")
    val default = graft.graph.Ranks.pageRank(df, $"s", $"d", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      spark.conf.set("graft.layout.clusterMinRows", "0")
      val clustered = graft.graph.Ranks.pageRank(df, $"s", $"d", iters = 6,
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clustered == default)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint round wrote nothing")
      val lpa = graft.graph.Communities.labelPropagation(df, $"s", $"d",
        iters = 6, checkpointDir = Some(dir))
      assert(lpa.count() > 0)
    } finally spark.conf.unset("graft.layout.clusterMinRows")
  }

  test("restores spark.sql.adaptive.enabled and keeps rows intact") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key, "true")
    val df = spark.range(50).select((col("id") % 5).as("k"), col("id").as("v"))
    val ck = CheckpointLayout.clusteredBy(df, "k")
    assert(spark.conf.get(key, "true") == before)
    assert(ck.agg(sum("v")).as[Long].head() == (0L until 50L).sum)
  }

  test("AQE suspension is session-scoped to the capture: concurrent planning stays adaptive, session conf untouched") {
    // The capture compiles under a throwaway session clone with AQE off —
    // never by mutating the shared session conf (the round-14 exposure:
    // every clustered round opened a session-conf mutation window in which
    // a concurrently-planned query silently compiled non-adaptive). Pin
    // it: while one thread runs captures back-to-back, a second thread
    // plans queries continuously — EVERY concurrent plan must stay
    // adaptive, and the session conf must never change. Also pin that the
    // capture's DOWNSTREAM consumers plan adaptive (the re-bound leaf
    // carries the caller's session, not the clone).
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key, "true") == "true", "precondition: AQE on")
    def planString(): String = {
      val a = spark.range(100).select((col("id") % 7).as("k"), col("id").as("v"))
      val b = spark.range(7).select(col("id").as("k"), lit(1L).as("w"))
      a.join(b, Seq("k")).groupBy(col("k")).agg(sum(col("v") * col("w")))
        .queryExecution.executedPlan.toString
    }
    @volatile var done = false
    @volatile var badPlan: String = null
    @volatile var confFlipped = false
    val watcher = new Thread(() => while (!done) {
      val p = planString()
      if (!p.contains("AdaptiveSparkPlan")) badPlan = p
      if (spark.conf.get(key, "true") != "true") confFlipped = true
    })
    watcher.start()
    try {
      (0 until 4).foreach { i =>
        val df = spark.range(500)
          .select((col("id") % 13).as("k"), (col("id") + i).as("v"))
        val (ck, free) = CheckpointLayout.statSafeClusteredBy(df, "k")
        val (partOk, sortOk) = capturedLayout(ck)
        assert(partOk && sortOk, s"capture $i lost its layout")
        // downstream of the re-bound leaf must plan ADAPTIVE again
        val down = ck.join(spark.range(13).select(col("id").as("k")), Seq("k"))
          .groupBy(col("k")).agg(sum(col("v")))
        assert(down.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"),
          s"downstream of capture $i planned non-adaptive: clone session leaked into the result")
        assert(ck.count() == 500)
        free()
      }
    } finally { done = true; watcher.join(60000) }
    assert(!confFlipped, "shared session conf mutated during a capture window")
    assert(badPlan == null,
      s"concurrent thread lost AQE during a capture window:\n$badPlan")
  }

  test("reliable clustered round executes its lineage once (persist bridges count and file write)") {
    // A reliable checkpoint marked lazily and materialized by a later
    // action re-runs its lineage to write the files; the eager checkpoint
    // writes them in the materializing pass. An accumulator over the
    // source rows counts evaluations: exactly one pass.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckl-once").toString
    val acc = spark.sparkContext.longAccumulator("graft.spec.evals")
    val rdd = spark.sparkContext.parallelize(0L until 400L, 4).map { i =>
      acc.add(1L); org.apache.spark.sql.Row(i % 5, i)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(rdd, schema)
    val reliableRound = graft.util.Barriers.ReliableEvery - 1
    val (out, free) = CheckpointLayout.roundBarrierKeepingLayout(df, reliableRound, Some(dir))
    assert(acc.value == 400L,
      s"reliable round evaluated its lineage ${acc.value / 400.0} times, expected once")
    assert(out.count() == 400L) // reads off checkpoint files, not lineage
    assert(acc.value == 400L)
    free()
  }

  test("reliable round survives total block loss; local round cannot (executor-loss semantics)") {
    // Executor loss simulated as the loss of every persisted block: a
    // RELIABLE round's data lives in checkpoint FILES, so the frame still
    // reads exactly after all blocks are dropped; a LOCAL round's
    // truncated lineage cannot recompute — the cadence parameter is what
    // separates a recoverable loop from a lost one.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckl-loss").toString
    val df = spark.range(300).select((col("id") % 9).as("k"), col("id").as("v"))
    val reliableRound = graft.util.Barriers.ReliableEvery - 1
    val (rel, _) = CheckpointLayout.roundBarrierKeepingLayout(df, reliableRound, Some(dir))
    val (loc, _) = CheckpointLayout.roundBarrierKeepingLayout(df, 0, Some(dir))
    assert(rel.count() == 300 && loc.count() == 300)
    // drop EVERY block (both rounds' local storage)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(rel.agg(sum("v")).head().getLong(0) == (0L until 300L).sum,
      "reliable round lost data after block loss")
    val localSurvived = try { loc.count(); true } catch { case _: Throwable => false }
    assert(!localSurvived,
      "local round unexpectedly survived total block loss — the probe is vacuous")
  }
}
