package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** An output that broke one of the workload's laws. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}

/** Timings of one operator call inside a pass. */
final case class OpTiming(key: String, callS: Double, consumeS: Double, checkS: Double,
    ok: Boolean) {
  def totalS: Double = callS + consumeS
}

/** One call into a public engine entry point. `call` is the public call
  * itself (for lazy operators it only builds the plan); `consume` forces
  * every output column and hands the check what it reads; `check` runs
  * after both, outside the timed window, and throws [[CheckFailed]] on a
  * law violation. */
final class Op[A, B](val layer: String, val name: String, call: () => A,
    consume: A => B, check: B => Unit) {
  def key: String = s"$layer.$name"

  def run(spans: Spans): OpTiming = {
    var callS = 0.0
    var consumeS = 0.0
    var checkS = 0.0
    val ok = try {
      val t0 = System.nanoTime()
      val got = spans(key) {
        val out = spans(s"$key.call")(call())
        callS = (System.nanoTime() - t0) / 1e9
        spans(s"$key.consume")(consume(out))
      }
      val t1 = System.nanoTime()
      consumeS = (t1 - t0) / 1e9 - callS
      check(got)
      checkS = (System.nanoTime() - t1) / 1e9
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $key failed: $e")
        false
    }
    OpTiming(key, callS, consumeS, checkS, ok)
  }
}

object Op {
  def apply[A, B](layer: String, name: String)(call: => A)(consume: A => B)(
      check: B => Unit): Op[A, B] = new Op(layer, name, () => call, consume, check)

  /** Row-set fingerprint: row count and the XOR of a 64-bit hash of every
    * column of every row. Order-free, so a Spark result and a direct-call
    * reference compare without sorting. */
  private def fingerprintCols(cols: Seq[Column]): Seq[Column] =
    Seq(count(lit(1)).as("n"), bit_xor(xxhash64(cols: _*)).as("x"))

  /** `df` with its columns renamed positionally, so generated names that
    * are not valid identifiers never reach the resolver. */
  private def plain(df: DataFrame): (DataFrame, Seq[Column]) = {
    val names = df.columns.indices.map(i => s"c$i")
    (df.toDF(names: _*), names.map(col))
  }

  def fingerprint(df0: DataFrame): (Long, Long) = {
    val (df, cols) = plain(df0)
    val r = df.select(fingerprintCols(cols): _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Consumes `df` through the `noop` sink, so no column is pruned, while
    * an observation computes its fingerprint in the same job. */
  def noopFingerprint(df0: DataFrame): (Long, Long) = {
    val (df, cols) = plain(df0)
    val obs = Observation()
    val fp = fingerprintCols(cols)
    df.observe(obs, fp.head, fp.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}

/** A seeded workload: its input frames, its operator list and the
  * references its checks compare against. */
trait Workload {
  /** Builds the seeded inputs and caches them; a repeat replaces the
    * previous copies. */
  def generate(): Unit

  /** Input sizes, written into the run record. */
  def sizes: Seq[(String, Long)]

  def ops: Seq[Op[_, _]]

  /** Computes whatever reference values the checks need; once per run,
    * before the warm-up pass, outside every timed window. */
  def prepareChecks(): Unit = ()

  /** Direct single-thread kernel timings for the traced run. */
  def kernelTimings(): Seq[(String, Double)] = Nil
}

/** Minimum-root union-find over long ids: every root is its component's
  * smallest member, the labelling connected components must reproduce. */
final class UnionFind {
  private val parent = mutable.LongMap.empty[Long]

  def find(x: Long): Long = {
    var r = parent.getOrElseUpdate(x, x)
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }

  def labels: Map[Long, Long] = parent.keys.map(k => k -> find(k)).toMap
}

/** Textbook Dijkstra over a driver-side adjacency map. */
object Dijkstra {
  def costs(adj: Map[Long, Seq[(Long, Double)]], origin: Long): Map[Long, Double] = {
    val dist = mutable.HashMap(origin -> 0.0)
    val pq = mutable.PriorityQueue((0.0, origin))(Ordering.by[(Double, Long), Double](-_._1))
    val done = mutable.HashSet.empty[Long]
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (done.add(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
        if (d + w < dist.getOrElse(v, Double.PositiveInfinity)) {
          dist(v) = d + w
          pq.enqueue((d + w, v))
        }
      }
    }
    dist.toMap
  }
}
