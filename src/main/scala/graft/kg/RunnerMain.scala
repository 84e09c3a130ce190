package graft.kg

import graft.Session

/** The spark-submit entry point of the KG-construction pipeline
  * (north_star: "ships as a spark-submit job"):
  *
  *   spark-submit --class graft.kg.RunnerMain graft.jar \
  *     <inputSfDir> <outDir> [buckets] [resume]
  *
  * Under spark-submit the cluster's master applies; run directly, the main
  * falls back to `local[N]` (see [[graft.Session]]), so the same main
  * drives both. Re-running with the same outDir RESUMES: buckets with a
  * committed manifest are skipped (KgRunner semantics — at most one bucket's
  * work is lost to a kill).
  *
  * Prints one JSON line: bucket counts, triples, wall time, throughput.
  */
object RunnerMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunnerMain <sfDir> <outDir> [buckets] [amplify]")
    val Array(sfDir, outDir) = args.take(2)
    val buckets = args.lift(2).map(_.toInt).getOrElse(32)
    val amplify = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = Session.get("graft-kg-runner")

    val t0 = System.nanoTime()
    val report = KgRunner.run(spark, sfDir, outDir, buckets, amplify = amplify)
    val wall = (System.nanoTime() - t0) / 1e9
    val nTriples = report.totalTriples
    println(
      s"""{"metric":"kg_runner","buckets_processed":${report.processed.length},""" +
        s""""buckets_skipped":${report.skipped.length},"triples":$nTriples,""" +
        s""""wall_sec":$wall,"triples_per_sec":${nTriples / wall},""" +
        s""""out":"$outDir"}""")
    spark.stop()
  }
}
