package graft

import graft.core._

/** Dev utility: Pyramid-inference microbenchmark, no Spark
  * (usage: runMain graft.InferBench [reps] [sentences] [cfg: default|genia] [threads,threads,...]).
  *
  * Each thread level runs that many threads, each with its own
  * PyramidInference over the same sentence set; the default level is one
  * thread. Prints tokens/s per rep (total and per thread) plus a decode
  * checksum — the checksum must be invariant across kernel-level
  * optimizations (the Nn GEMV kernels are register-blocked over OUTPUT rows
  * only, which preserves each row's FP accumulation order bit-exactly) and
  * across threads. Per-thread efficiency against the first level separates
  * raw compute scalability (cores, memory bandwidth, host noise) from
  * Spark-level effects.
  */
object InferBench {
  def main(args: Array[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(5)
    val nSent = args.lift(1).map(_.toInt).getOrElse(192)
    val cfg = if (args.lift(2).contains("genia")) ModelConfig.genia else ModelConfig()
    val levels = args.lift(3).fold(Seq(1))(_.split(",").map(_.trim.toInt).toSeq)
    val lex = Array.tabulate(2000)(i => s"tok$i")
    val vocab = new WordVocab(lex)
    val w = PyramidWeights.build(42L, cfg, vocab.size, 8)
    val rnd = new java.util.Random(7)
    val sents = Array.tabulate(nSent) { _ =>
      Array.tabulate(8 + rnd.nextInt(40))(_ => lex(rnd.nextInt(lex.length)))
    }
    val nTok = sents.map(_.length.toLong).sum

    def pass(inf: PyramidInference): Long = {
      var checksum = 0L
      var i = 0
      while (i < sents.length) {
        val o = inf.forward(sents(i))
        o.layers.foreach { layer =>
          var t = 0
          while (t < layer.length) { checksum = checksum * 31 + layer(t); t += 1 }
        }
        o.remedy.foreach { rem =>
          var t = 0
          while (t < rem.length) { checksum = checksum * 31 + rem(t); t += 1 }
        }
        i += 1
      }
      checksum
    }

    var checksum = 0L
    var basePerThread = 0.0
    for (threads <- levels) {
      // per-thread scratch, warm across reps
      val infs = Array.fill(threads)(new PyramidInference(w, vocab))
      val sums = new Array[Long](threads)
      var best = 0.0
      for (r <- 0 until reps) {
        val t0 = System.nanoTime()
        val ts = Array.tabulate(threads)(k => new Thread(() => sums(k) = pass(infs(k))))
        ts.foreach(_.start()); ts.foreach(_.join())
        val sec = (System.nanoTime() - t0) / 1e9
        require(sums.forall(_ == sums(0)), s"threads disagree on the checksum: ${sums.mkString(",")}")
        checksum = sums(0)
        best = math.max(best, nTok / sec)
        println(f"[inferbench] threads=$threads rep $r: ${threads * nTok / sec}%.0f tokens/s total, " +
          f"${nTok / sec}%.0f /thread ($sec%.3f s, $nTok tokens per thread)")
      }
      if (basePerThread == 0.0) basePerThread = best
      println(f"[inferbench] threads=$threads best ${best}%.0f tokens/s per thread, " +
        f"per-thread efficiency ${best / basePerThread}%.3f")
    }
    println(s"[inferbench] checksum=$checksum")
  }
}
