package graft.perfbench

import java.nio.file.Paths
import scala.collection.mutable
import graft.core.ModelConfig
import graft.kg._

/** `kg_batch`: the paper's headline job, docs → triples through
  * `Triples.pipelineHandleBc`, over a repeat-heavy corpus.
  *
  * Set-up: session at local[4], the seed's corpus generated and registered,
  * the model built and broadcast. Then one cold job, one warm-up job, and
  * the measured warm jobs for the run's seconds. A job is one call plus the
  * collect of its distinct triples; every job's triple set is checked
  * against `GoldRef`.
  *
  * The traced run replaces the warm loop by per-layer forced passes
  * interleaved with untraced jobs, then adds the `KgRunner` cycle over the
  * seed's low-sharing corpus ([[RunnerCycle]]) and the identical job at
  * local[1] for the scaling efficiency.
  */
object KgBatch {
  val SpanSample = 24
  /** warm jobs run before measuring, while the JIT still settles */
  val WarmupJobs = 1
  val MinWarm = 3
  val TracedPasses = 2

  def run(c: Ctx): Unit = {
    val spark = c.startSpark(Main.Cores)
    val dir = Paths.get(c.args.work, "input").toString
    val raw = Inputs.prepare(spark, c.args.docs, c.args.seed, Inputs.RepeatHeavy, dir, Main.Cores)
    val nDocs = Inputs.readHint(spark, dir).count()
    val (model, modelMs) = Stats.timed(Mentions.buildModel(Inputs.readHint(spark, dir), ModelConfig()))
    var bc = spark.sparkContext.broadcast(model)
    c.ready()

    val all = Inputs.hintRows(raw)
    val gold = Layers.goldTriples(c, "batch", all, model)
    c.check("corpus", nDocs == raw.length && gold.nonEmpty, s"$nDocs docs, ${gold.size} gold triples")

    /** one job: its wall time, or None when it failed */
    def job(name: String): Option[Double] = {
      var ms = 0.0
      val ok = c.op(name) {
        val docs = Inputs.readHint(c.spark, dir)
        val t0 = System.nanoTime()
        val h = Triples.pipelineHandleBc(docs, bc)
        val rows = h.triples.collect()
        ms = Stats.ms(t0)
        h.unpersistAll()
        Layers.sameTriples(rows, gold)
      }
      if (ok) Some(ms) else None
    }

    val cold = job("pipeline.cold")

    if (!c.traced) {
      (1 to WarmupJobs).foreach(_ => job("pipeline.warmup"))
      val warm = c.closedLoop(MinWarm)(job("pipeline.warm"))
      val (ok, detail) = Layers.spanCheck(c, Inputs.readHint(c.spark, dir), all, model, bc, SpanSample)
      c.op("span_sequences")(c.check("span_sequences", ok, detail))
      cold.foreach(ms => c.metric("cold_wall_s", ms / 1000.0, "s"))
      if (warm.nonEmpty) {
        val wall = Stats.median(warm) / 1000.0
        c.metric("wall_s", wall, "s")
        c.metric("triples_per_s", gold.size / wall, "1/s")
      }
      c.sidecar("warm_ms") = warm
    } else {
      // untraced jobs interleaved with the forced passes, so both see the
      // same warmth
      val untraced = mutable.ArrayBuffer.empty[Double]
      val passes = mutable.ArrayBuffer.empty[Layers.Pass]
      var tracedWall = 0.0
      for (i <- 1 to TracedPasses) {
        job("pipeline.untraced").foreach(untraced += _)
        val (p, ms) = Stats.timed(Layers.forcedPass(c, Inputs.readHint(c.spark, dir), bc))
        c.op(s"pipeline.traced.$i")(c.check(s"traced_triples.$i", Layers.sameTriples(p.triples, gold)))
        passes += p
        tracedWall += ms
      }
      c.metric("mentions.model_build_ms", modelMs, "ms")
      Layers.reportPasses(c, passes.toSeq, Layers.textTokens(all))
      if (untraced.nonEmpty)
        c.metric("trace.overhead_ratio", Stats.median(passes.map(_.totalMs).toSeq) / Stats.median(untraced.toSeq), "ratio")
      c.sidecar("untraced_ms") = untraced.toSeq

      val runnerDir = Paths.get(c.args.work, "runner_input").toString
      val runnerRaw = Inputs.prepare(c.spark, c.args.docs, c.args.seed, Inputs.LowSharing, runnerDir, Main.Cores)
      val runnerModel = Mentions.buildModel(Inputs.readHint(c.spark, runnerDir), ModelConfig())
      val (_, runnerMs) = Stats.timed(RunnerCycle.run(c, runnerDir,
        Layers.goldTriples(c, "runner", Inputs.hintRows(runnerRaw), runnerModel)))
      Layers.reportSpark(c, tracedWall + runnerMs)

      // the identical job at local[1]; the first job of the new context pays
      // its start-up and is not counted
      c.startSpark(1)
      bc = c.spark.sparkContext.broadcast(model)
      job("pipeline.one_core.first")
      val one = job("pipeline.one_core")
      if (untraced.nonEmpty) one.foreach { ms =>
        c.metric("pipeline.one_core_ms", ms, "ms")
        c.metric("pipeline.scaling_eff", ms / Stats.median(untraced.toSeq) / Main.Cores, "ratio")
      }
    }
    c.sidecar("docs") = raw.length
    c.sidecar("text_tokens") = Layers.textTokens(all)
    c.sidecar("triples") = gold.size
  }
}
