package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built, so every entry point
  * (Verify, Bench, the tools, the test session) runs under the same conf.
  *
  * Always set: master `local[cores]`, `spark.sql.shuffle.partitions` =
  * `cores`, `spark.sql.session.timeZone=UTC` (Tables.events casts
  * TIMESTAMP_NTZ → TimestampType, a session-timezone-dependent
  * conversion, so a non-UTC host must plan what is verified), the UI off,
  * and log level WARN. `conf` pairs are applied last and override any of
  * these, e.g. a shuffle count that differs from the core count.
  */
object Session {
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone"   -> "UTC",
      "spark.ui.enabled"             -> "false")
    val s = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
