package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Communities, Cores, Ranks}
import graft.pipeline.Dedup
import perfbench.Check._

/** The loop operators in their large regime: PageRank, LPA, k-core and
  * connected components on one seeded random graph just past both bounds,
  * more than `CheckpointLayout.ClusterLayoutMinRows` (1M) nodes and more
  * than connectedComponents' 1M-edge driver union-find limit, so every
  * loop runs its clustered, distributed path. A pass takes about half a
  * minute on 4 cores, so this workload is run by hand and is not listed in
  * `BENCHMARK.json` (see NOTES.md). */
final class LoopsLarge(spark: SparkSession, seed: Long) extends Workload {

  private val cores = spark.sparkContext.defaultParallelism

  import LoopsLarge._

  val nodes: Long = Groups.toLong * Group

  /** The edge list on the driver, as two parallel arrays. */
  private val (src, dst): (Array[Long], Array[Long]) = {
    val es = (0 until Groups).flatMap(groupEdges(seed, _))
    (es.map(_._1).toArray, es.map(_._2).toArray)
  }

  private var edgeDf: DataFrame = _

  def generate(): Unit = {
    if (edgeDf != null) edgeDf.unpersist(blocking = true)
    val sd = seed
    val slices = cores * 4
    val rdd = spark.sparkContext.parallelize(0 until slices, slices).flatMap { p =>
      (p * Groups / slices until (p + 1) * Groups / slices).iterator
        .flatMap(g => groupEdges(sd, g)).map { case (a, b) => Row(a, b) }
    }
    edgeDf = spark.createDataFrame(rdd, new org.apache.spark.sql.types.StructType()
      .add("src", "long", nullable = false).add("dst", "long", nullable = false))
      .repartition(cores).cache()
    edgeDf.count()
  }

  def sizes: Seq[(String, Long)] = Seq("nodes" -> nodes, "edges" -> src.length.toLong)

  private def groupOf(v: Long): Long = v / Group

  /** Per-node degree in the undirected simple graph of `keep`'s edges. */
  private def degreesWithin(keep: Long => Boolean): Array[Int] = {
    val deg = new Array[Int](nodes.toInt)
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < src.length) {
      val a = src(i); val b = dst(i)
      if (keep(a) && keep(b) && seen.add(a * nodes + b)) { deg(a.toInt) += 1; deg(b.toInt) += 1 }
      i += 1
    }
    deg
  }

  /** The 2-core by sequential peeling: drop nodes of degree < 2 until
    * none is left. */
  private lazy val refCore: java.util.BitSet = {
    val deg = degreesWithin(_ => true)
    val adj = Array.fill(nodes.toInt)(List.empty[Int])
    val seen = new java.util.HashSet[java.lang.Long]()
    src.indices.foreach { i =>
      if (seen.add(src(i) * nodes + dst(i))) {
        adj(src(i).toInt) ::= dst(i).toInt
        adj(dst(i).toInt) ::= src(i).toInt
      }
    }
    val alive = new java.util.BitSet(nodes.toInt)
    alive.set(0, nodes.toInt)
    var stack = deg.indices.filter(deg(_) < 2).toList
    stack.foreach(alive.clear)
    while (stack.nonEmpty) {
      val v = stack.head
      stack = stack.tail
      adj(v).foreach { u =>
        if (alive.get(u)) {
          deg(u) -= 1
          if (deg(u) < 2) { alive.clear(u); stack ::= u }
        }
      }
    }
    alive
  }

  private def longPairs(df: DataFrame, a: String, b: String): Array[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  def ops: Seq[Op[_, _]] = Seq(
    Op("graph", "pagerank") {
      Ranks.pageRank(edgeDf, col("src"), col("dst"), iters = 2)
    }(longPairs(_, "node", "rank_e9")) { got =>
      expect(got.length == nodes, s"${got.length} ranked nodes of $nodes")
      val tele = (15L * 1000000000L) / (100L * nodes)
      val mass = got.map(_._2).sum
      expect(got.forall(_._2 >= tele), "a rank fell below the teleport share")
      expect(mass <= 1000000000L && mass >= nodes * tele, s"rank mass $mass outside the lattice bounds")
    },
    Op("graph", "lpa") {
      Communities.labelPropagation(edgeDf, col("src"), col("dst"), iters = 2)
    }(longPairs(_, "node", "label")) { got =>
      expect(got.length == nodes, s"${got.length} labelled nodes of $nodes")
      got.foreach { case (v, l) =>
        expect(l >= 0 && l < nodes && groupOf(l) == groupOf(v), s"label $l of $v is not a member id")
      }
    },
    Op("graph", "kcore") {
      Cores.kCore(edgeDf, col("src"), col("dst"), k = 2, rounds = 16)
    }(longPairs(_, "node", "degree")) { got =>
      val alive = new java.util.BitSet(nodes.toInt)
      got.foreach { case (v, _) => alive.set(v.toInt) }
      val deg = degreesWithin(v => alive.get(v.toInt))
      got.foreach { case (v, d) =>
        expect(deg(v.toInt) >= 2 && deg(v.toInt) == d, s"survivor $v: degree $d, subgraph ${deg(v.toInt)}")
      }
      expect(alive == refCore, s"${got.length} survivors, sequential peel keeps ${refCore.cardinality}")
    },
    Op("pipeline", "connected_components") {
      Dedup.connectedComponents(edgeDf.select(col("src").as("id_a"), col("dst").as("id_b")))
    }(longPairs(_, "id", "component")) { got =>
      expect(got.length == nodes, s"${got.length} component rows of $nodes")
      got.foreach { case (v, c) =>
        expect(c == groupOf(v) * Group, s"node $v in component $c, expected ${groupOf(v) * Group}")
      }
    }
  )
}

object LoopsLarge {
  /** Nodes come in groups of [[Group]] consecutive ids. Each group is a
    * chain plus [[Extra]] random chords inside the group, so the connected
    * components are exactly the groups and each component's label is its
    * group's first id. */
  val Groups = 262500
  val Group = 4
  val Extra = 1

  /** Group `g`'s edges (src < dst), a pure function of (seed, g) so Spark
    * tasks and the driver-side checks build the same graph. */
  def groupEdges(seed: Long, g: Int): Seq[(Long, Long)] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + g)
    val base = g.toLong * Group
    (0 until Group - 1).map(k => (base + k, base + k + 1)) ++
      Seq.fill(Extra) {
        val a = rnd.nextInt(Group - 2)
        (base + a, base + a + 2 + rnd.nextInt(Group - 2 - a))
      }
  }
}
