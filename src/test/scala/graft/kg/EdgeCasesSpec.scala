package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core._

/** Edge probes (verify-skill checklist): empty corpus, media-only docs,
  * single-token docs, 400+-token docs, out-of-alphabet unicode — through the
  * full mention/variant/triple machinery.
  */
class EdgeCasesSpec extends AnyFunSuite with SparkSpec {
  private val cfg = ModelConfig.tiny

  private def model(docs: Seq[PyramidDoc]): Mentions.Model = {
    import spark.implicits._
    Mentions.buildModel(spark.createDataset(docs), cfg)
  }

  test("empty corpus: every stage yields empty, nothing throws") {
    import spark.implicits._
    val docs = spark.createDataset(Seq.empty[PyramidDoc])
    val m = Mentions.buildModel(docs, cfg)
    val bc = spark.sparkContext.broadcast(m)
    assert(Mentions.detect(docs, bc).count() == 0)
    assert(AliasDict.build(docs).count() == 0)
    assert(Triples.pipelineFrom(docs, m).count() == 0)
  }

  test("media-only and single-token docs flow through detection") {
    val mediaOnly = PyramidDoc("d_media", Array(
      SpanRec("media", "caption_x", "m://aa", 0), SpanRec("media", "caption_y", "m://bb", 1)))
    val single = PyramidDoc("d_one", Array(SpanRec("text", "alpha", "", 0)))
    val m = model(Seq(mediaOnly, single))
    val inf = new PyramidInference(m.weights, m.vocab)
    assert(Mentions.detectDoc(mediaOnly, inf, m.codec).isEmpty)
    val spans = Mentions.detectDoc(single, inf, m.codec)
    spans.foreach(s => assert(s.start_tok == 0 && s.len == 1))
  }

  test("430-token doc: pyramid, variants, and decode stay in bounds") {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    val tokens = Array.tabulate(430)(i => words(i % words.length))
    val doc = PyramidDoc("d_long",
      tokens.zipWithIndex.map { case (t, i) => SpanRec("text", t, "", i) })
    val m = model(Seq(doc))
    val inf = new PyramidInference(m.weights, m.vocab)
    val base = inf.detect(tokens, m.codec)
    base.foreach { s =>
      assert(s.startTok >= 0 && s.startTok + s.lenTok <= 430)
      assert(s.lenTok >= 1)
    }
    // layer shapes hold at this length: T_l = 430 - l
    val h = inf.forwardHidden(tokens)
    assert(h.length == cfg.maxDepth + 1)
    h.zipWithIndex.foreach { case (hl, l) => assert(hl.length == (430 - l) * cfg.encOut) }
    // variant heads handle the long doc and agree across instances
    val vw = VariantWeights.build(Mentions.ModelSeed, cfg, Mentions.Kinds.length)
    val vi = new PyramidVariantInference(inf, vw)
    val vi2 = new PyramidVariantInference(new PyramidInference(m.weights, m.vocab), vw)
    assert(vi.detectBidirectional(tokens, m.codec) == vi2.detectBidirectional(tokens, m.codec))
    assert(vi.detectMultiLabel(tokens, m.codec) == vi2.detectMultiLabel(tokens, m.codec))
  }

  test("out-of-alphabet unicode sanitizes to the UNK char and round-trips") {
    val raw = "Σίσυφος 山田 nested\u0007 ασδ plain"
    val doc = DocGen.assemble("d_uni", raw)
    // sanitized text spans only contain in-alphabet chars (incl. '¤' = 164)
    doc.spans.filter(_.kind == "text").foreach { s =>
      s.text.foreach(c =>
        assert((c >= 32 && c <= 126) || (c >= 161 && c <= 254), s"char $c in ${s.text}"))
    }
    assert(doc.spans.exists(_.text.contains(CharVocab.unkChar)),
      "fixture must exercise the sanitize path")
    val m = model(Seq(doc))
    val inf = new PyramidInference(m.weights, m.vocab)
    val spans = Mentions.detectDoc(doc, inf, m.codec)
    // deterministic across instances
    val spans2 = Mentions.detectDoc(doc, new PyramidInference(m.weights, m.vocab), m.codec)
    assert(spans == spans2)
  }
}
