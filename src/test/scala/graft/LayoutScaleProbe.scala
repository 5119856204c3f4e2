package graft

import org.apache.spark.sql.functions._

/** A/B probe for the CheckpointLayout clustered regime above the
  * ClusterLayoutMinRows bound (local iteration aid, not a gate
  * artifact): a synthetic power-law-ish graph large enough that the
  * slim loop side cannot broadcast, run through pageRank / LPA /
  * connected components with the bound forced huge (old fully-adaptive
  * loop, big frame re-shuffled per round) vs forced 0 (clustered
  * static frames, keep-layout rounds).
  *
  * Run: `Test/runMain graft.LayoutScaleProbe [nEdges]`.
  */
object LayoutScaleProbe {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(3000000L)
    val spark = LocalSession()
    import spark.implicits._

    // ~nEdges edges over ~nEdges/2 nodes; mild hub skew via the modulus.
    // Pass "skew" as arg 2 to give node 0 a celebrity degree (10% of all
    // edges point FROM node 0) — quantifies the clustered regime's
    // documented trade: the co-partitioned round join loses AQE's
    // runtime skew split, so the hub's partition is one long task.
    val skew = args.lift(1).contains("skew")
    val edges = spark.range(nEdges).select(
        (when(pmod(col("id"), lit(10)) === 0 && lit(skew), lit(0L))
          .otherwise(pmod(hash(col("id")), lit(nEdges / 2)).cast("long"))).as("s"),
        (pmod(hash(col("id") * 31 + 7), lit(nEdges / 2)).cast("long")).as("d"))
      .filter(col("s") =!= col("d"))
      .localCheckpoint(true)
    println(s"[layoutProbe] edges=${edges.count()} skew=$skew")

    def storage(): (Int, Long) = {
      val live = spark.sparkContext.getRDDStorageInfo
        .filter(_.numCachedPartitions > 0)
      (live.length, live.map(_.memSize).sum + live.map(_.diskSize).sum)
    }
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val (nRdds, bytes) = storage()
      println(f"[layoutProbe] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
        f"($rows rows; $nRdds persisted RDDs, ${bytes / 1048576}%d MiB after)")
    }

    // SPARK_GRAFT_PROBE_LOOPS selects loops (comma list of pr,lpa,cc;
    // default all) — the 30M-edge decade probe runs pr+cc only
    val loops = sys.env.getOrElse("SPARK_GRAFT_PROBE_LOOPS", "pr,lpa,cc")
      .split(",").map(_.trim).toSet
    for (pass <- 1 to 2; regime <- Seq("adaptive", "clustered")) {
      spark.conf.set("graft.layout.clusterMinRows",
        if (regime == "clustered") "0" else Long.MaxValue.toString)
      if (loops("pr")) timed(s"pass$pass pageRank(5) $regime") {
        graft.graph.Ranks.pageRank(edges, $"s", $"d", iters = 5).count()
      }
      if (loops("lpa")) timed(s"pass$pass lpa(5) $regime") {
        graft.graph.Communities.labelPropagation(edges, $"s", $"d", iters = 5).count()
      }
      // CC always runs its distributed loop here (the bound at 0 forces it)
      if (loops("cc")) timed(s"pass$pass cc $regime") {
        graft.util.Regimes.clustered(spark)(graft.pipeline.Dedup.connectedComponents(
          edges.select(col("s").as("id_a"), col("d").as("id_b"))).count())
      }
    }
    spark.conf.unset("graft.layout.clusterMinRows")
    spark.stop()
  }
}
