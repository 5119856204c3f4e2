package graft

import org.apache.spark.sql.functions._

/** Scale probe for the over-bound BPE regime
  * ([[graft.pipeline.Bpe.trainDistributed]]): times 8 merges on synthetic
  * word-frequency frames at 1x and 30x vocab sizes. The per-merge cost is
  * one pair-aggregation over the vocab (linear in distinct words) plus a
  * 1-row argmax — so 8 merges should scale well under 30x for 30x vocab
  * (fixed per-round job overhead amortizes). The driver regime is timed on
  * the same frames where it fits, as the crossover reference.
  * Run: `Test/runMain graft.BpeScaleProbe`. */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import graft.pipeline.Bpe

    // deterministic synthetic vocab: the word is id's base-7 digit string
    // over a 7-letter alphabet, 8 digits — distinct word per id (7^8 = 5.7M
    // headroom), Zipf-ish counts
    def vocab(n: Int) = spark.range(n).select(
      expr("concat_ws('', transform(sequence(0, 7), " +
        "i -> substr('abcdefg', 1 + CAST(CAST(id / CAST(pow(7, i) AS BIGINT) AS BIGINT) % 7 AS INT), 1)))").as("w"),
      (lit(1L) + pmod(col("id") * 37L, lit(100L))).as("cnt"))
      .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(false)

    def timeDist(n: Int): Double = {
      val wc = vocab(n)
      val distinct = wc.count() // materialize outside the window
      val t0 = System.nanoTime()
      Bpe.trainDistributed(wc, nMerges = 8).vocab.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[bpeProbe]   (distributed n=$n%,d -> $distinct%,d distinct words)")
      sec
    }
    def timeDriver(n: Int): Double = {
      val wc = vocab(n)
      wc.count()
      val t0 = System.nanoTime()
      Bpe.train(wc, nMerges = 8).vocab.count()
      (System.nanoTime() - t0) / 1e9
    }

    timeDist(30000) // warm
    val d1 = timeDist(30000)
    val d30 = timeDist(900000)
    val dr1 = timeDriver(30000)
    val dr30 = timeDriver(900000)
    println(f"[bpeProbe] distributed 1x (30k words):  $d1%6.2f s; 30x (900k): $d30%6.2f s; " +
      f"factor ${d30 / d1}%.2f x for 30x vocab")
    println(f"[bpeProbe] driver      1x (30k words):  $dr1%6.2f s; 30x (900k): $dr30%6.2f s " +
      "(the in-bound regime; distributed exists for vocabs past the driver bound)")
    spark.stop()
  }
}
