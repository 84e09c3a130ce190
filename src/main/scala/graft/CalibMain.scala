package graft

import graft.core._
import graft.kg.{DocGen, Mentions}

/** Dev utility: detection-density probe for head-bias calibration.
  *
  * Modes:
  *   runMain graft.CalibMain ml   [sfDir]  — multi-label remedy bias sweep
  *   runMain graft.CalibMain base [sfDir]  — single-label oBias/remedyBias
  *                                           sweep per config (incl. genia)
  *
  * Logit spread scales with input dims, so every ModelConfig shape needs its
  * own bias calibration (memory note: the default 50-d calibration does NOT
  * transfer to the 200-d genia config).
  */
object CalibMain {
  def main(args: Array[String]): Unit = {
    val mode = args.lift(0).getOrElse("base")
    require(mode == "base" || mode == "ml",
      s"unknown mode '$mode' — usage: CalibMain [base|ml] [sfDir]")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Session.get("graft-calib")
    val docs = DocGen.docs(spark, sfDir)
    val sample = docs.orderBy("doc_id").limit(80).collect().toSeq
      .map(_.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text)).filter(_.nonEmpty)

    if (mode == "ml") {
      for (cfgName <- Seq("tiny", "default")) {
        val cfg = if (cfgName == "tiny") ModelConfig.tiny else ModelConfig()
        val model = Mentions.buildModel(docs, cfg)
        for (bias <- Seq(-0.55f, -0.6f, -0.7f, -0.8f)) {
          val c2 = cfg.copy(remedyBias = bias)
          val vw = VariantWeights.build(Mentions.ModelSeed, c2, Mentions.Kinds.length)
          val vi = new PyramidVariantInference(new PyramidInference(model.weights, model.vocab), vw)
          var n = 0; var multiPos = 0; var positions = 0
          sample.foreach { t =>
            val spans = vi.detectMultiLabel(t, model.codec)
            n += spans.length
            positions += t.length
            multiPos += spans.groupBy(s => (s.startTok, s.lenTok))
              .count(_._2.map(_.kind).distinct.length > 1)
          }
          println(f"[calib] $cfgName%-8s mlBias=$bias%6.2f spans=$n multiPos=$multiPos over $positions tokens")
        }
      }
    } else {
      // base single-label heads: sweep (oBias, remedyBias) per config shape.
      // Density metric = spans / ngram positions (sum over layers of T-l).
      val shapes = Seq(
        "default" -> ModelConfig(),
        "genia" -> ModelConfig.genia)
      for ((name, cfg0) <- shapes) {
        val model = Mentions.buildModel(docs, cfg0)
        for (ob <- Seq(0.9f, 1.0f, 1.1f, 1.15f, 1.2f, 1.4f); rb <- Seq(-1.0f, -2.0f)) {
          val cfg = cfg0.copy(oBias = ob, remedyBias = rb)
          val w = PyramidWeights.build(Mentions.ModelSeed, cfg, model.vocab.size,
            Mentions.Kinds.length)
          val inf = new PyramidInference(w, model.vocab)
          var spans = 0; var remedySpans = 0; var ngrams = 0; var toks = 0
          var emptyDocs = 0
          val t0 = System.nanoTime()
          sample.foreach { t =>
            val got = inf.detect(t, model.codec)
            spans += got.length
            remedySpans += got.count(_.lenTok > cfg.maxDepth)
            toks += t.length
            ngrams += (0 to math.min(cfg.maxDepth, t.length - 1))
              .map(l => t.length - l).sum
            if (got.isEmpty) emptyDocs += 1
          }
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[calib] $name%-8s oBias=$ob%4.1f rb=$rb%4.1f spans=$spans " +
            f"(${100.0 * spans / ngrams}%5.2f%% of ngrams) remedy=$remedySpans " +
            f"empty=$emptyDocs/${sample.length} ${toks / sec}%8.0f tok/s")
        }
      }
    }
    spark.stop()
  }
}
