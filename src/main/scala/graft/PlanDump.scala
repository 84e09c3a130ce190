package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev utility: dumps `.explain("formatted")` of the headline pipeline
  * stages + representative queries to PLANS.md for plan-hygiene review
  * (pushdown, pruning, broadcast, codegen spans). Naming queries dumps only
  * those, in the order given.
  * Usage: runMain graft.PlanDump [sfDir] [outFile] [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = Session.get("graft-plan-dump")

    val named = args.drop(2).toSeq
    val picks = if (named.nonEmpty) named else Seq(
      "kg_docs", "kg_mentions", "kg_dict", "kg_linked", "kg_triples",
      "kg_mentions_ctx_slice", "kg_mentions_ctx_bucketed", "kg_mentions_st",
      "mm_decode_png",
      "q1_agg", "q2_join_agg", "q5_range_join", "src_wiki", "src_iob2",
      "src_wordvec_nearest", "src_wordvec_ann",
      "dedup_minhash_lsh", "sim_cosine_topk", "sim_ann_ivf", "eval_span_prf",
      "kg_degree", "kg_pagerank", "kg_two_hop", "kg_triangles", "kg_components",
      "kg_nbr_jaccard", "kg_cooc_pmi", "kg_hits", "kg_communities", "kg_bfs",
      "emb_quantize",
      "text_repetition", "text_pii_scrub", "dedup_windows",
      "text_tfidf", "dedup_clusters", "doc_sample",
      "text_decontam", "text_lang_temp", "doc_pack",
      "mm_dedup_pixels", "mm_interleave", "kg_kcore")
    val sb = new StringBuilder
    sb ++= "# PLANS — `.explain(\"formatted\")` of the key operators\n\n"
    sb ++= s"Generated by `runMain graft.PlanDump $sfDir` — review notes inline.\n"
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      // scrub JVM-run-specific lambda ids/addresses so regenerating the dump
      // diffs only when a PLAN changes, not on every fresh JVM
      sb ++= df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
        .replaceAll("\\$\\$Lambda/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
      sb ++= "```\n"
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $outFile")
    spark.stop()
  }
}
