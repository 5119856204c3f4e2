package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeSet, BoundReference,
  Expression, InterpretedOrdering, Literal, Murmur3Hash, Pmod, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.util.Barriers

/** [[CheckpointLayout.clusteredBy]] must yield a checkpoint whose declared
  * HashPartitioning+ordering reference its OWN output, hold row by row, and
  * let downstream per-key plans stream in place — also where the optimizer
  * collapses a redundant alias (a bare already-long column cast+aliased to
  * its own name, the p77 shape). Where a frame's final plan has no such
  * layout the leaf declares nothing. */
class CheckpointLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def declaredLayout(ck: DataFrame): (Boolean, Boolean) =
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
      s"expected the declared layout to satisfy the groupBy in:\n$fin")
  }

  /** `ck` joined (sort-merge: broadcast off) with `slim` on `key` = `k2`
    * and aggregated by `key`: exactly ONE shuffle, the slim side's, and at
    * most one Sort, the slim side's; the declared side streams in place. */
  private def joinsInPlace(ck: DataFrame, key: String, slim: DataFrame): Unit = {
    val thresholdWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ck.join(slim, ck(key) === slim("k2"))
        .groupBy(col(key)).agg(count(lit(1)).as("n"))
      joined.collect()
      val fin = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val shuffles = fin.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 1, s"expected only the slim side to exchange, got $shuffles in:\n$fin")
      val sorts = fin.linesIterator.count(l => l.trim.matches("^[+:|\\-\\s*()0-9]*Sort \\[.*"))
      assert(sorts <= 1, s"declared side re-sorted:\n$fin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdWas)
  }

  private def leafOf(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get

  /** The declared layout, checked on the leaf RDD itself: every row sits on
    * partition `pmod(hash(key), n)` and no adjacent pair within a partition
    * is out of ascending order. Returns (misplaced rows, unordered pairs). */
  private def layoutViolations(ck: DataFrame): (Long, Long) = {
    val leaf = leafOf(ck)
    val n = leaf.rdd.getNumPartitions
    val (key, declared) = leaf.outputPartitioning match {
      case HashPartitioning(Seq(k), m) => (k, m)
      case other => fail(s"no single-key HashPartitioning declared: $other")
    }
    assert(declared == n, s"declared $declared partitions over an RDD of $n")
    assert(leaf.outputOrdering.headOption.exists(o =>
      o.child.semanticEquals(key) && o.direction == Ascending), s"order: ${leaf.outputOrdering}")
    val i = leaf.output.indexWhere(_.semanticEquals(key))
    val bound = BoundReference(i, leaf.output(i).dataType, nullable = true)
    val part = Pmod(new Murmur3Hash(Seq(bound)), Literal(n))
    val order = new InterpretedOrdering(Seq(SortOrder(bound, Ascending)))
    leaf.rdd.mapPartitionsWithIndex { (pid, rows) =>
      var prev: InternalRow = null
      var misplaced, unordered = 0L
      rows.foreach { r =>
        if (part.eval(r) != pid) misplaced += 1
        if (prev != null && order.compare(prev, r) > 0) unordered += 1
        prev = r.copy()
      }
      Iterator((misplaced, unordered))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
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
    val (partOk, sortOk) = declaredLayout(ck)
    assert(partOk && sortOk, s"layout not declared: part=$partOk sort=$sortOk")
    shuffleFree(ck)
    assert(ck.count() == 200)
  }

  test("stale-alias shape: bare same-name long column still lands the layout") {
    // cast("long") on an already-long column + same-name alias is exactly
    // what RemoveRedundantAliases collapses, leaving the physical output
    // on exprIds the logical output no longer has. The layout is declared
    // by position, so the result must still be layout-true downstream.
    val src = spark.range(300).select(col("id").as("k"), (col("id") * 2).as("v0"))
    val df = src.select(col("k").cast("long").as("k"), col("v0").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
      .select(col("k"), col("v"))
    val ck = CheckpointLayout.clusteredBy(df, "k")
    val (partOk, sortOk) = declaredLayout(ck)
    assert(partOk && sortOk, s"layout not declared: part=$partOk sort=$sortOk")
    shuffleFree(ck)
    assert(ck.count() == 300)
  }

  test("clusteredBy: layout survives the stats drop and feeds a join exchange-free") {
    // The iterative-loop contract: the static big frame is shuffled+sorted
    // ONCE at build; every round's equi-join against a slim evolving frame
    // must then need no exchange and no sort on the big side, even in the
    // non-broadcast regime (threshold disabled to force SMJ/SHJ).
    val big = spark.range(2000)
      .select((col("id") % 97).as("k"), (col("id") * 3).as("v"))
    val ck = CheckpointLayout.clusteredBy(big, "k")
    val free = Barriers.freeThunk(ck)
    // stats dropped: the leaf must report the huge default, not the origin
    // estimate — so the static planner can never broadcast-build this side
    val leafStats = ck.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRDD => l.stats.sizeInBytes
    }
    assert(leafStats.exists(_ >= BigInt(spark.sessionState.conf.defaultSizeInBytes)),
      s"origin stats not dropped: $leafStats")
    val (partOk, sortOk) = declaredLayout(ck)
    assert(partOk && sortOk, s"layout lost in stats drop: part=$partOk sort=$sortOk")

    joinsInPlace(ck, "k", spark.range(97).select(col("id").as("k2"), lit(1L).as("w")))
    assert(ck.count() == 2000)
    free() // after materialization: must not throw
  }

  test("declared layout is true row by row for int, long, string, binary and null keys") {
    val df = spark.range(3000).select(
      when(col("id") % 11 =!= 0, (col("id") % 97).cast("int")).as("k_int"),
      when(col("id") % 13 =!= 0, col("id") * 7919L % 1009L).as("k_long"),
      when(col("id") % 17 =!= 0, concat(lit("s"), (col("id") % 89).cast("string"))).as("k_string"),
      when(col("id") % 19 =!= 0, concat(lit("b"), (col("id") % 83).cast("string")).cast("binary"))
        .as("k_binary"),
      col("id").as("v"))
    for (key <- Seq("k_int", "k_long", "k_string", "k_binary")) {
      val ck = CheckpointLayout.clusteredBy(df, key)
      assert(layoutViolations(ck) == ((0L, 0L)), s"$key: (misplaced rows, unordered pairs)")
      assert(ck.filter(col(key).isNull).count() > 0, s"$key: no null key exercised")
      val agg = ck.groupBy(col(key)).agg(count(lit(1)).as("n"))
      agg.collect()
      val fin = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!fin.contains("Exchange") && !fin.linesIterator.exists(_.trim.matches(
        "^[+:|\\-\\s*()0-9]*Sort \\[.*")), s"$key: groupBy re-laid the frame out:\n$fin")
      joinsInPlace(ck, key, df.select(col(key).as("k2")).distinct())
      Barriers.freeThunk(ck)()
    }
  }

  test("the shim declares nothing on a coalesced round, a dropped key or a partition-count mismatch") {
    def unknown(ck: DataFrame, what: String): Unit =
      assert(leafOf(ck).outputPartitioning.isInstanceOf[UnknownPartitioning] &&
        leafOf(ck).outputOrdering.isEmpty, s"$what declared ${leafOf(ck).outputPartitioning}")
    def exactJoin(ck: DataFrame, key: String, want: DataFrame): Unit = {
      val other = spark.range(40).select(col("id").as(key), (col("id") * 10).as("w"))
      def rows(d: DataFrame) = d.join(other, key).collect().map(_.toString).sorted.toSeq
      assert(rows(ck) == rows(want))
    }
    // an LPA-shaped round: two aggregates, so tiny that AQE coalesces the
    // last read
    val e = spark.range(40).select((col("id") % 8).as("node"), (col("id") % 3).as("label"))
    val round = e.groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("node")).agg(max(struct(col("c"), col("label"))).as("m"))
      .select(col("node"), col("m.label").as("label"))
    val (coalesced, freeCoalesced) = CheckpointLayout.roundBarrierKeepingLayout(round)
    assert(round.queryExecution.executedPlan.toString.contains("coalesced"),
      s"the round's final read was not coalesced:\n${round.queryExecution.executedPlan}")
    unknown(coalesced, "a coalesced round")
    exactJoin(coalesced, "node", round)
    // the final projection drops the partitioning column
    val src = spark.range(200).select((col("id") % 7).as("k"), col("id").as("v"))
    val dropped = src.repartition(4, col("k")).sortWithinPartitions(col("k")).select(col("v"))
    val (noKey, freeNoKey) = CheckpointLayout.roundBarrierKeepingLayout(dropped)
    unknown(noKey, "a dropped key")
    exactJoin(noKey.withColumnRenamed("v", "id"), "id", dropped.withColumnRenamed("v", "id"))
    // a final plan of 4 hash partitions declared over a checkpoint of 3
    val four = src.repartition(4, col("k")).sortWithinPartitions(col("k"))
    four.collect()
    val three = src.repartition(3, col("k")).localCheckpoint(eager = true)
    val mismatched = org.apache.spark.sql.graft.shims.declareLayout(three, four)
    unknown(mismatched, "a partition-count mismatch")
    exactJoin(mismatched, "k", src)
    Seq(freeCoalesced, freeNoKey, Barriers.freeThunk(three)).foreach(_())
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
    // A layout is never had by mutating the shared session conf (the
    // round-14 exposure: every clustered round opened a session-conf
    // mutation window in which a concurrently-planned query silently
    // compiled non-adaptive). Pin it: while one thread builds clustered
    // frames back-to-back, a second thread plans queries continuously —
    // EVERY concurrent plan must stay adaptive, and the session conf must
    // never change. Also pin that the frame's DOWNSTREAM consumers plan
    // adaptive.
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
        val ck = CheckpointLayout.clusteredBy(df, "k")
        val free = Barriers.freeThunk(ck)
        val (partOk, sortOk) = declaredLayout(ck)
        assert(partOk && sortOk, s"frame $i lost its layout")
        // downstream of the declared leaf must plan ADAPTIVE
        val down = ck.join(spark.range(13).select(col("id").as("k")), Seq("k"))
          .groupBy(col("k")).agg(sum(col("v")))
        assert(down.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"),
          s"downstream of frame $i planned non-adaptive")
        assert(ck.count() == 500)
        free()
      }
    } finally { done = true; watcher.join(60000) }
    assert(!confFlipped, "shared session conf mutated while frames were built")
    assert(badPlan == null,
      s"concurrent thread lost AQE while frames were built:\n$badPlan")
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
