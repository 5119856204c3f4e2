package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** Keeps [[QueryProbe]] runnable: its entry function on one batch and one
  * streaming catalog query at sf0.001, with and without a conf side. */
class QueryProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("q01_lineitem_agg", "s01_stream_hopping")

  private def probe(opts: QueryProbe.Options): (Seq[QueryProbe.Record], Seq[String]) = {
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val lines = Seq.newBuilder[String]
    (QueryProbe.probe(spark, names, opts, lines += _), lines.result())
  }

  test("one record per query and round, with its jobs and the query's row count") {
    val (records, lines) = probe(QueryProbe.Options(dir, jobs = true))
    assert(records.map(r => (r.query, r.side, r.round)) ==
      Seq(1, 2).flatMap(round => names.map(n => (n, "A", round))))
    records.foreach { r =>
      assert(r.jobs >= 1, r.json)
      assert(r.rows == SparkEntry.queries(r.query)(spark, dir).count(), r.json)
    }
    assert(lines.count(_.contains("\"job\":")) == records.map(_.jobs).sum)
    assert(lines.exists(l => l.contains("s01_stream_hopping") && l.contains("\"progress\":")))
  }

  test("a --conf side B runs on a clone and leaves the shared session's conf unchanged") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val (records, _) = probe(QueryProbe.Options(dir, rounds = 1,
      conf = Seq(key -> (!before.toBoolean).toString)))
    assert(records.map(r => (r.query, r.side)) == names.flatMap(n => Seq((n, "A"), (n, "B"))))
    assert(records.groupBy(_.query).values.forall(_.map(_.rows).distinct.size == 1))
    assert(spark.conf.get(key) == before)
  }
}
