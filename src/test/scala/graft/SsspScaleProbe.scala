package graft

import org.apache.spark.sql.functions._

/** Scale probe for the distributed routing regime
  * ([[graft.graph.H3Graph.shortestPathsIterative]]): times the Pregel-style
  * relaxation on a fixed-diameter random graph at 1x and 30x edge counts,
  * separating the two cost axes — per-round shuffle volume (scales with
  * |edges|) from round count (scales with diameter, held constant here).
  * A chain probe would conflate them. Run: `Test/runMain graft.SsspScaleProbe`.
  *
  * Fixture: nodes 0..n-1 as synthesized H3 cells, each node u gets edges to
  * (u*31+j*97)%n for j in 1..8 with weight 1+((u+j)%10)/10 — an
  * expander-like graph whose diameter stays ~log n, so 30x more edges means
  * ~same rounds with 30x-bigger frontier joins: the regime the operator
  * exists for. */
object SsspScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import graft.graph.H3Graph

    def expanderGraph(nNodes: Int) = {
      val edges = spark.range(nNodes).select(col("id").as("u"),
          explode(sequence(lit(1), lit(8))).as("j"))
        .select(
          expr(SparkEntry.Synth.cellSql("u", 5)).as("origin"),
          expr(SparkEntry.Synth.cellSql(s"(u * 31 + j * 97) % $nNodes", 5)).as("destination"),
          (lit(1.0) + pmod(col("u") + col("j"), lit(10)).cast("double") / 10.0).as("weight"))
      H3Graph.graphFromEdgeList(edges, "origin", "destination", "weight")
        .localCheckpoint(false)
    }
    val origins = Seq(0L, 1L).map(SparkEntry.Synth.cell(_, 5))
    val dests = (0L until 32L).map(SparkEntry.Synth.cell(_, 5))

    def run(nNodes: Int, hops: Int = 2): (Double, Long) = {
      val graph = expanderGraph(nNodes)
      val t0 = System.nanoTime()
      val n = H3Graph.shortestPathsIterative(spark, graph, origins, dests,
        hopsPerRound = hops).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    run(2000) // warm codegen + JIT
    val (t1, n1) = run(2000)
    val (t30, n30) = run(60000)
    println(f"[ssspProbe] 1x  (2k nodes, 16k edges):  $t1%6.2f s, $n1 result rows")
    println(f"[ssspProbe] 30x (60k nodes, 480k edges): $t30%6.2f s, $n30 result rows")
    println(f"[ssspProbe] scale factor: ${t30 / t1}%.2f x for 30x edges (diameter held ~constant)")
    // hopsPerRound tradeoff on a LOW-diameter graph (the shape where the
    // extra per-round plan depth can outweigh saved barriers)
    val (h1, _) = run(60000, hops = 1)
    val (h2, _) = run(60000, hops = 2)
    val (h8, _) = run(60000, hops = 8)
    println(f"[ssspProbe] 30x hopsPerRound=1: $h1%6.2f s, =2: $h2%6.2f s, =8: $h8%6.2f s (low-diameter expander)")

    // path-reconstruction variant at the same two scales: the relaxation
    // carries the pred column and the backward walk adds rounds ~ path
    // HOP LENGTH (constant on the fixed-diameter expander), each a
    // broadcast of the 64-row walk table against the best-cost scan —
    // the paths overhead must stay roughly scale-INDEPENDENT
    def runPaths(nNodes: Int): (Double, Long) = {
      val graph = expanderGraph(nNodes)
      val t0 = System.nanoTime()
      val n = H3Graph.shortestPathsIterativePaths(spark, graph, origins, dests).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (p1, pn1) = runPaths(2000)
    val (p30, pn30) = runPaths(60000)
    println(f"[ssspProbe] paths 1x: $p1%6.2f s ($pn1 rows); paths 30x: $p30%6.2f s ($pn30 rows); " +
      f"factor ${p30 / p1}%.2f x")
    spark.stop()
  }
}
