package graft
import org.apache.spark.sql.SparkSession

/** The one local session of Bench, Verify, the specs and the probes, so
  * the session that is timed is the session that is verified:
  * `local[cores]` with one shuffle partition per core, UI off, parquet
  * nanos read as long (events.parquet stores TIMESTAMP(NANOS)), a
  * 10000-entry codegen cache and UTC; log level WARN. `extras` are set
  * after these and override them. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cores: Int = cpus, extras: Seq[(String, String)] = Nil): SparkSession = {
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // a warm pass compiles every query's generated code; the default
      // 100-entry class cache evicts the early queries' classes before a
      // timed pass reaches them, so heavy queries would re-pay janino+JIT
      // compilation inside their timed window (measured: 4.1 s first run
      // vs 0.6 s warm for the domain-mix plan)
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC") ++ extras
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
