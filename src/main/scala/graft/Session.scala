package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place this repo builds a Spark session. Every setting follows from
  * what the process can see; there is no per-main option:
  *
  *  - cores: `SPARK_GRAFT_CPUS` when set, else the JVM's available processors;
  *  - `local[cores]` with `cores` shuffle partitions, only when no
  *    `spark.master` is set already (spark-submit sets one, and the cluster's
  *    own parallelism then applies);
  *  - AQE on, UTC session time zone, no UI, WARN log level.
  */
object Session {
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def get(appName: String): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!new SparkConf().contains("spark.master")) {
      val cores = cpus
      builder.master(s"local[$cores]").config("spark.sql.shuffle.partitions", cores.toString)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
