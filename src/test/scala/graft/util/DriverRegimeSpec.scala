package graft.util

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SparkTestSession

/** The driver regimes' result frames: local relations that are collected,
  * and read back by the next driver regime, without a job. */
class DriverRegimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("component", LongType, nullable = false)))
  private def frame(n: Int) =
    DriverRegime.frame(spark, (0L until n.toLong).map(i => Row(i, i / 3)), schema)

  test("a DriverRegime.frame result collects in 0 jobs, projected and filtered too") {
    for (n <- Seq(0, 1, 100)) {
      val f = frame(n)
      val (_, jobs) = Regimes.pinsAndJobs(spark) {
        assert(f.collect().length == n)
        assert(f.select(col("component")).filter(col("id") >= 3L).collect().length ==
          math.max(n - 3, 0))
      }
      assert(jobs == 0, s"$n rows: $jobs jobs")
    }
  }

  test("localRows reads a local relation in the small regime without a job, and nothing else") {
    val f = frame(50)
    val (rows, jobs) = {
      var got: Option[Array[Row]] = None
      val (_, j) = Regimes.pinsAndJobs(spark) {
        got = DriverRegime.localRows(f.select(col("component").as("c"), col("id")))
      }
      (got, j)
    }
    assert(jobs == 0)
    assert(rows.map(_.map(r => (r.getAs[Long]("id"), r.getAs[Long]("c"))).toSeq) ==
      Some((0L until 50L).map(i => (i, i / 3))))
    assert(DriverRegime.localRows(f.repartition(2)).isEmpty)
    assert(DriverRegime.localRows(spark.range(5).toDF("id")).isEmpty)
    // a zero bound forces the distributed path
    assert(Regimes.clustered(spark)(DriverRegime.localRows(f)).isEmpty)
    assert(Regimes.bounded(spark, 49L)(DriverRegime.localRows(f)).isEmpty)
    assert(Regimes.bounded(spark, 50L)(DriverRegime.localRows(f)).isDefined)
  }
}
