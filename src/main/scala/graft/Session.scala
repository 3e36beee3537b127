package graft

import org.apache.spark.sql.SparkSession

/** The one place that sets session policy, for every main and the test
  * suite: `local[cores]` with one shuffle partition per core, UTC,
  * nanosecond parquet timestamps read as longs (events.parquet carries
  * TIMESTAMP(NANOS)), the [[graft.expressions.GraftExtensions]], no UI
  * and WARN logs. A caller passes only the values it needs different. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_SF_DIR`, else the sf0.1 testdata. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The local session; `conf` entries are set last, so they win. */
  def local(app: String, cores: Int = Session.cores,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // on the builder: a setLogLevel after getOrCreate misses start-up
      .config("spark.log.level", "WARN")
    conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }
}
