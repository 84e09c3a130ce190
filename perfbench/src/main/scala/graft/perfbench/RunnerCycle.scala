package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Row
import graft.kg.KgRunner

/** The `KgRunner` cycle of the traced run, over a low-sharing corpus: a
  * fresh run, a run killed after half the buckets and its resume in a new
  * out dir, then a no-op resume over the completed dir. Checks: both
  * compacted tables equal the reference triples (exactly once), and the no-op
  * resume processes no bucket.
  */
object RunnerCycle {
  val Buckets = 4

  def run(c: Ctx, inDir: String, gold: Set[String]): Unit = {
    val freshDir = Paths.get(c.args.work, "run_fresh").toString
    val resumedDir = Paths.get(c.args.work, "run_resumed").toString
    val t = c.trace
    def compacted(out: String): Array[Row] =
      c.spark.read.parquet(Paths.get(out, "triples_compacted").toString).collect()

    val t0 = System.currentTimeMillis()
    val (fresh, freshMs) = Stats.timed(t.layer("runner.fresh")(KgRunner.run(c.spark, inDir, freshDir, Buckets)))
    val freshEnd = System.currentTimeMillis()
    val freshRows = compacted(freshDir)
    c.op("runner.fresh")(c.check("runner_fresh", fresh.processed.length == Buckets &&
      Layers.sameTriples(freshRows, gold), s"${fresh.processed.length} buckets, ${freshRows.length} triples"))

    val killed = t.layer("runner.killed") {
      try { KgRunner.run(c.spark, inDir, resumedDir, Buckets, failAfter = Some(Buckets / 2)); false }
      catch { case _: KgRunner.InjectedKill => true }
    }
    c.op("runner.killed")(c.check("runner_killed", killed, s"killed after ${Buckets / 2} of $Buckets buckets"))
    val (resumed, resumeMs) = Stats.timed(t.layer("runner.resume")(KgRunner.run(c.spark, inDir, resumedDir, Buckets)))
    val resumedRows = compacted(resumedDir)
    c.op("runner.resume")(c.check("runner_exactly_once",
      resumed.processed.length == Buckets - Buckets / 2 && Layers.sameTriples(resumedRows, gold),
      s"resume processed ${resumed.processed.length} buckets, ${resumedRows.length} triples"))

    val (noop, noopMs) = Stats.timed(t.layer("runner.noop")(KgRunner.run(c.spark, inDir, freshDir, Buckets)))
    c.op("runner.noop")(c.check("runner_noop", noop.processed.isEmpty && noop.skipped.length == Buckets,
      s"no-op resume processed ${noop.processed.length} buckets"))

    c.trace.drain()
    val l = c.trace.listener.get
    c.metric("runner.fresh_ms", freshMs, "ms")
    c.metric("runner.resume_ms", resumeMs, "ms")
    c.metric("runner.noop_ms", noopMs, "ms")
    c.metric("runner.noop_jobs", l.jobsOf("runner.noop").length.toDouble, "count")
    // phase boundaries of the fresh run from its own commit records: the docs
    // table's commit marker, and each bucket manifest (its mtime is the
    // commit, its wall_ms the bucket's own clock)
    val out = Paths.get(freshDir)
    val stage0End = mtime(out.resolve("docs").resolve("_SUCCESS"))
    val buckets = fresh.processed.map { b =>
      val end = mtime(out.resolve("manifest").resolve(s"bucket-${b.bucket}.json"))
      (end - b.wallMs, end)
    }
    val freshJobs = l.jobsOf("runner.fresh")
    c.metric("runner.stage0_ms", (stage0End - t0).toDouble, "ms")
    c.metric("runner.dims_ms", (buckets.map(_._1).min - stage0End).toDouble, "ms")
    c.metric("runner.bucket_ms_p50", Stats.median(fresh.processed.map(_.wallMs.toDouble)), "ms")
    c.metric("runner.bucket_ms_max", fresh.processed.map(_.wallMs).max.toDouble, "ms")
    c.metric("runner.jobs_per_bucket", Stats.median(buckets.map { case (s, e) =>
      freshJobs.count(j => j.startMs >= s && j.startMs <= e).toDouble }), "count")
    c.metric("runner.compact_ms", (freshEnd - buckets.map(_._2).max).toDouble, "ms")
  }

  private def mtime(p: Path): Long = Files.getLastModifiedTime(p).toMillis
}
