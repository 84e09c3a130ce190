package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.storage.StorageLevel
import graft.core.PyramidInference
import graft.kg._

/** Pipeline pieces shared by the workloads: the reference triples, the
  * per-layer forced pass of the traced run, and the checks.
  */
object Layers {

  def tripleLine(r: Row): String = s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}"

  /** `GoldRef.triples` of the corpus, computed once per seed and cached as
    * sorted lines; never inside a timed region
    */
  def goldTriples(c: Ctx, name: String, docs: Seq[PyramidDoc], model: Mentions.Model): Set[String] = {
    val file = Paths.get(c.args.cache, s"gold_$name.tsv")
    if (Files.exists(file)) Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSet
    else {
      val lines = GoldRef.triples(docs, model).toSeq.map(t => s"${t.subj}\t${t.pred}\t${t.obj}").sorted
      Files.createDirectories(file.getParent)
      val tmp = file.resolveSibling(s"gold_$name.tsv.tmp")
      Files.write(tmp, lines.asJava, StandardCharsets.UTF_8)
      Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      lines.toSet
    }
  }

  /** triple rows equal the reference set, with no duplicate row */
  def sameTriples(rows: Array[Row], gold: Set[String]): Boolean = {
    val lines = rows.map(tripleLine)
    lines.length == gold.size && lines.toSet == gold
  }

  /** per-doc mention sequences (kind, text, media_ref, order) of a seed-chosen
    * sample: the distributed `Mentions.detect` against sequential
    * `Mentions.detectDoc`
    */
  def spanCheck(c: Ctx, docs: Dataset[PyramidDoc], all: Seq[PyramidDoc],
                model: Mentions.Model, bc: Broadcast[Mentions.Model], n: Int): (Boolean, String) = {
    val spark = c.spark
    import spark.implicits._
    val sample = all.sortBy(d => Inputs.hash(c.args.seed, 4L, d.doc_id.hashCode.toLong)).take(n)
    val ids = sample.map(_.doc_id).toSet
    val got = Mentions.detect(docs.filter(d => ids.contains(d.doc_id)), bc).collect()
      .groupBy(_.doc_id).map { case (id, ms) =>
        id -> ms.sortBy(_.order).map(m => (m.kind, m.text, m.media_ref, m.order)).toSeq }
    val inf = new PyramidInference(model.weights, model.vocab)
    val bad = sample.filter { d =>
      val want = Mentions.detectDoc(d, inf, model.codec).map(m => (m.kind, m.text, m.media_ref, m.order))
      got.getOrElse(d.doc_id, Seq.empty) != want
    }
    val nMentions = got.valuesIterator.map(_.length).sum
    (bad.isEmpty && nMentions > 0, s"${sample.length} docs, $nMentions mentions, ${bad.length} differ")
  }

  final case class Pass(totalMs: Double, layerMs: Map[String, Double], triples: Array[Row],
                        counts: Map[String, Double])

  /** One pass of the pipeline with every layer's output persisted and forced
    * on its own (the `KgProfile` pattern), each call under its layer tag.
    * Same calls as `Triples.pipelineHandleBc`, split where it is lazy.
    */
  def forcedPass(c: Ctx, docs0: Dataset[PyramidDoc], bc: Broadcast[Mentions.Model]): Pass = {
    val t = c.trace
    val ms = mutable.LinkedHashMap.empty[String, Double]
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def timedLayer[T](layer: String, key: String)(body: => T): T = {
      val (r, m) = Stats.timed(t.layer(layer)(body))
      ms(key) = ms.getOrElse(key, 0.0) + m
      r
    }
    def keep(df: DataFrame): DataFrame = { held += df; df.persist(StorageLevel.MEMORY_AND_DISK) }

    val docs = docs0.persist(StorageLevel.MEMORY_AND_DISK)
    timedLayer("input", "input.ms")(docs.count())
    val mentions = keep(timedLayer("mentions", "mentions.detect_ms") {
      val m = Mentions.detect(docs, bc).toDF().persist(StorageLevel.MEMORY_AND_DISK); m.count(); m
    })
    val nMentions = mentions.count()
    val dict = keep(timedLayer("aliasdict", "aliasdict.build_ms") {
      val d = AliasDict.build(docs).persist(StorageLevel.MEMORY_AND_DISK); d.count(); d
    })
    val linked0 = timedLayer("link", "link.call_ms")(Link.linkAuto(mentions, dict))
    val linkBroadcast = linked0.queryExecution.optimizedPlan.toString.toLowerCase.contains("strategy=broadcast")
    val linked = keep(timedLayer("link", "link.join_ms") {
      val l = linked0.persist(StorageLevel.MEMORY_AND_DISK); l.count(); l
    })
    val (canonMap, stats) = timedLayer("canonical", "canonical.cc_ms") {
      val (m, s) = Canonical.connectedComponentsWithStats(Canonical.edgesFromDict(dict))
      val p = m.persist(StorageLevel.MEMORY_AND_DISK); p.count(); (p, s)
    }
    held += canonMap
    val canon0 = timedLayer("canonical", "canonical.apply_call_ms")(Canonical.canonicalizeAuto(linked, canonMap))
    val canon = keep(timedLayer("canonical", "canonical.apply_ms") {
      val x = canon0.persist(StorageLevel.MEMORY_AND_DISK); x.count(); x
    })
    val triples = timedLayer("triples", "triples.ms")(Triples.fromCanonical(canon).collect())

    val counts = Map(
      "mentions.rows" -> nMentions.toDouble,
      "aliasdict.rows" -> dict.count().toDouble,
      "link.rows" -> linked.count().toDouble,
      "link.broadcast" -> (if (linkBroadcast) 1.0 else 0.0),
      "canonical.edges" -> stats.edgesIn.toDouble,
      "canonical.cc_driver_path" -> (if (stats.usedDriverPath) 1.0 else 0.0),
      "canonical.cc_iterations" -> stats.iterations.toDouble,
      "canonical.map_rows" -> canonMap.count().toDouble,
      "triples.rows_out" -> triples.length.toDouble)
    held.foreach(_.unpersist())
    docs.unpersist()
    Pass(ms.values.sum, ms.toMap, triples, counts)
  }

  /** per-layer metrics of the forced passes, listener totals per pass */
  def reportPasses(c: Ctx, passes: Seq[Pass], textTokens: Long): Unit = {
    c.trace.drain()
    val l = c.trace.listener.get
    val n = passes.length.toDouble
    passes.head.layerMs.keys.foreach { k =>
      val v = Stats.median(passes.map(_.layerMs(k)))
      if (k == "input.ms") c.sidecar("input_ms") = v else c.metric(k, v, "ms")
    }
    passes.last.counts.foreach { case (k, v) => c.metric(k, v, unitOf(k)) }
    val total = Stats.median(passes.map(_.totalMs))
    val detect = Stats.median(passes.map(_.layerMs("mentions.detect_ms")))
    c.metric("mentions.detect_share", detect / total, "ratio")
    c.metric("mentions.tokens_per_s", textTokens / (detect / 1000.0), "1/s")
    val m = l.layer("mentions")
    c.metric("mentions.task_cpu_ms", m.cpuNs / 1e6 / n, "ms")
    c.metric("mentions.task_skew", l.taskSkew("mentions"), "ratio")
    c.metric("link.hit_ratio", passes.last.counts("link.rows") / math.max(1.0, passes.last.counts("mentions.rows")), "ratio")
    c.metric("aliasdict.shuffle_write_bytes", l.layer("aliasdict").shuffleWriteBytes / n, "bytes")
    c.metric("triples.shuffle_write_bytes", l.layer("triples").shuffleWriteBytes / n, "bytes")
    c.metric("triples.spill_bytes", l.layer("triples").spillBytes / n, "bytes")
    c.sidecar("pipeline_pass_ms") = total
  }

  def unitOf(key: String): String =
    if (key.endsWith("broadcast") || key.endsWith("driver_path")) "flag" else "count"

  /** text tokens of the corpus (the mention layer's input size) */
  def textTokens(docs: Seq[PyramidDoc]): Long = docs.iterator.map(_.spans.count(_.kind == "text").toLong).sum

  /** run-level listener metrics and the per-layer sidecar */
  def reportSpark(c: Ctx, tracedWallMs: Double): Unit = {
    val l = c.trace.listener.get
    c.trace.drain()
    val t = l.total
    c.metric("spark.jobs", t.jobs.toDouble, "count")
    c.metric("spark.tasks", t.tasks.toDouble, "count")
    c.metric("spark.task_cpu_ms", t.cpuNs / 1e6, "ms")
    c.metric("spark.gc_ms", t.gcMs.toDouble, "ms")
    c.metric("spark.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "bytes")
    c.metric("spark.spill_bytes", t.spillBytes.toDouble, "bytes")
    c.metric("spark.scheduler_delay_ms", t.schedulerDelayMs.toDouble, "ms")
    val tagged = l.byLayer.iterator.filter(_._1 != Trace.Untagged).map(_._2.runMs).sum
    c.metric("spark.core_busy_ratio", tagged / (tracedWallMs * Main.Cores), "ratio")
    def accJson(a: LayerListener.Acc, wallMs: Option[Double]) = Json.obj(
      "jobs" -> a.jobs, "tasks" -> a.tasks, "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6,
      "gc_ms" -> a.gcMs, "shuffle_write_bytes" -> a.shuffleWriteBytes, "spill_bytes" -> a.spillBytes,
      "scheduler_delay_ms" -> a.schedulerDelayMs,
      "core_busy_ratio" -> wallMs.map(w => a.runMs / (w * Main.Cores)).getOrElse(Double.NaN))
    c.sidecar("layers") = Json.Obj(l.byLayer.toSeq.map { case (k, a) => k -> accJson(a, c.trace.wallMs.get(k)) })
    c.sidecar("call_sites") = l.bySite.toSeq.map { case ((layer, site), a) =>
      Json.obj("layer" -> layer, "site" -> site, "jobs" -> a.jobs, "tasks" -> a.tasks,
        "task_run_ms" -> a.runMs, "shuffle_write_bytes" -> a.shuffleWriteBytes)
    }
    c.sidecar("layer_wall_ms") = Json.Obj(c.trace.wallMs.toSeq)
  }
}
