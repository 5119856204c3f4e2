package graft

import org.apache.spark.sql.functions._

/** Skew probe for the dedup chain (round-15 verdict item): the graph loops
  * have LayoutScaleProbe's celebrity-hub evidence; this is the equivalent
  * for the 100 TB-critical dedup path. Fixture: the sf0.1 corpus plus ONE
  * mega-duplicate cluster — `nClones` near-identical copies of one real
  * document (7 one-token suffix variants, so the group is NEAR-dup, not
  * byte-exact) — the "one giant band bucket + one giant connected
  * component" shape a template-heavy crawl produces.
  *
  * Measures and checks:
  *  - lshCandidatePairs: candidate volume stays O(cap^2 + |group|), never
  *    O(|group|^2) (the MaxLshBucket cap + overflow stars);
  *  - nearDedup wall time AND collapse correctness: the clone group must
  *    keep exactly ONE representative (pre-r15 truncation kept every
  *    beyond-cap member);
  *  - connectedComponents over the candidate pairs: the giant component
  *    converges (pointer halving) and the node-count regime gate holds.
  *
  * Run: `Test/runMain graft.DedupSkewProbe [nClones] [corpusDir]`
  * (default 10000 over sf0.1; the r16 decade-up: 100000 over the sf1.0
  * rehearsal corpus at target/sf1.0 — 50k organic docs in 10-member
  * near-dup groups PLUS a 100k-member clone group).
  */
object DedupSkewProbe {
  def main(args: Array[String]): Unit = {
    val nClones = args.headOption.map(_.toInt).getOrElse(10000)
    val corpusDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()

    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val template = docs.filter(length(col("text")).between(200, 400))
      .orderBy(col("doc_id")).select("text").head().getString(0)
    val CloneBase = 5000000000L
    val clones = spark.range(nClones).select(
      (lit(CloneBase) + col("id")).as("doc_id"),
      concat(lit(template), lit(" zvariant"),
        pmod(col("id"), lit(7)).cast("string")).as("text"))
    val corpus = docs.unionByName(clones).repartition(32).localCheckpoint(true)
    val orgCount = docs.count()
    println(s"[dedupSkew] corpus=${corpus.count()} organic=$orgCount clones=$nClones cap=${graft.pipeline.Dedup.MaxLshBucket}")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dedupSkew] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    val nPairs = timed("lshCandidatePairs.count") {
      graft.pipeline.Dedup.lshCandidatePairs(corpus, col("doc_id"), col("text")).count()
    }
    val cap = graft.pipeline.Dedup.MaxLshBucket.toLong
    // 4 bands x C(cap,2) pairwise + 4 bands x |group| stars + organic
    // pairs (the sf1.0 rehearsal corpus carries 10-member near-dup groups
    // by construction: <= C(10,2) x groups x 4 bands organic candidates)
    val bound = 4 * cap * (cap - 1) / 2 + 4L * nClones + 45L * 4L * (orgCount / 10 + 1)
    println(s"[dedupSkew] pairs=$nPairs bound=$bound capped=${nPairs <= bound}")

    val kept = timed("nearDedup") {
      graft.pipeline.Dedup.nearDedup(corpus, col("doc_id"), col("text"))
        .localCheckpoint(true)
    }
    // want <= 1: the canonical representative of the clone group is the
    // MIN id in its component — the organic template doc itself when the
    // candidate graph links clones to it (ids below CloneBase), else one
    // clone. Pre-r15 truncation kept every beyond-cap member (~6k).
    val cloneSurvivors = kept.filter(col("doc_id") >= CloneBase).count()
    println(s"[dedupSkew] kept=${kept.count()} cloneSurvivors=$cloneSurvivors (want <= 1)")

    val pairs = timed("pairs.materialize") {
      graft.pipeline.Dedup.lshCandidatePairs(corpus, col("doc_id"), col("text"))
        .localCheckpoint(true)
    }
    val comps = timed("connectedComponents") {
      val c = graft.util.Regimes.clustered(spark)(
        graft.pipeline.Dedup.connectedComponents(pairs).localCheckpoint(true))
      c.count(); c
    }
    val giant = comps.groupBy(col("component")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).head()
    println(s"[dedupSkew] components: giant=${giant.getLong(1)} rows " +
      s"(>= $nClones expected: the clone group is one component)")
    spark.stop()
  }
}
