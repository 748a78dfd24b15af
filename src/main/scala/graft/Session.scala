package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point (Bench, Verify,
  * Dev) and the test base build through: `local[cpus]` with as many
  * shuffle partitions as cores, UTC session time zone (every
  * date/hour bucket and oracle compare assumes it) and the web UI
  * off. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the caller's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def local(cpus: Int, logLevel: String,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
