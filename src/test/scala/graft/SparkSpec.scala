package graft

import org.apache.spark.sql.SparkSession

/** The specs' Spark session. build.sbt sets `SPARK_GRAFT_CPUS=4` for the
  * forked test JVM, so [[Session]] gives `local[4]` with 4 shuffle partitions
  * whatever the host and partition-dependent plans and results do not change
  * with the machine. Every spec in the test JVM shares it.
  */
trait SparkSpec {
  protected lazy val spark: SparkSession = Session.get("graft-spec")
}
