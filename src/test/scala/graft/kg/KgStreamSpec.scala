package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Streaming KG ingest == batch pipeline: the stream path (file source →
  * streaming detect mapPartitions → stream-static broadcast link) must emit
  * exactly the rows the batch slice pipeline produces.
  */
class KgStreamSpec extends AnyFunSuite with SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("checkpointed file sink: kill after first commit, resume, exactly-once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kg_ckpt")
    val srcDir = root.resolve("src").toString
    val sinkDir = root.resolve("sink").toString
    val ckptDir = root.resolve("ckpt").toString

    // slice input as SIXTEEN parquet files → sixteen micro-batches at
    // maxFilesPerTrigger=1, so the stop after commit 0 lands mid-stream even
    // on a fast machine (4 files once raced: all four committed before the
    // stop took effect and the partial-progress assert fired spuriously)
    val nFiles = 16
    val slice = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("cast(doc_id as long) doc_id", "text")
      .orderBy("doc_id").limit(Eval.EvalSliceDocs)
    slice.repartition(nFiles).write.parquet(srcDir)

    // run 1: stop as soon as the first batch has committed (poll the
    // checkpoint commit log — the authoritative "batch done" signal)
    val (q1, cleanup1) = KgStream.linkedCheckpointed(spark, sfDir, srcDir, sinkDir, ckptDir)
    val commits = java.nio.file.Paths.get(ckptDir, "commits")
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(commits.resolve("0")) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(java.nio.file.Files.exists(commits.resolve("0")), "first batch never committed")
    q1.stop(); q1.awaitTermination(); cleanup1()

    val afterKill = spark.read.parquet(sinkDir).count()
    val committedBatches = {
      val st = java.nio.file.Files.list(commits)
      try st.filter(p => p.getFileName.toString.forall(_.isDigit)).count()
      finally st.close()
    }
    assert(committedBatches < nFiles,
      s"kill landed after all $committedBatches batches — nothing to resume")

    // run 2: same checkpoint + sink, drain the rest
    val (q2, cleanup2) = KgStream.linkedCheckpointed(spark, sfDir, srcDir, sinkDir, ckptDir,
      availableNow = true)
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(); cleanup2()

    // exactly-once: resumed union == batch linking, as a MULTISET (a lost
    // batch or a replayed duplicate both break this)
    val cols = Seq("doc_id", "mention_id", "kind", "text", "media_ref",
      "start_tok", "len", "order", "entity_id", "dict_kind", "prior")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(cols.head, cols.tail: _*).collect()
        .groupBy(_.mkString("|")).view.mapValues(_.length.toLong).toMap
    val got = multiset(spark.read.parquet(sinkDir))
    val want = multiset(Eval.sliceLinked(spark, sfDir))
    assert(got.values.sum > afterKill, "resume added no rows")
    assert(got == want, {
      val g = got.keySet; val w = want.keySet
      s"exactly-once violated: onlySink=${(g -- w).take(3)} onlyBatch=${(w -- g).take(3)}" +
        s" dupes=${got.filter(kv => want.get(kv._1).exists(_ != kv._2)).take(3)}"
    })
  }

  test("streaming detect+link emits exactly the batch slice linking") {
    val cols = Seq("doc_id", "mention_id", "kind", "text", "media_ref",
      "start_tok", "len", "order", "entity_id", "dict_kind", "prior")
    val stream = KgStream.linkedStream(spark, sfDir, queryName = "kg_stream_spec")
      .select(cols.head, cols.tail: _*)
    val batch = Eval.sliceLinked(spark, sfDir).select(cols.head, cols.tail: _*)
    val got = rowSet(stream)
    val want = rowSet(batch)
    assert(got.nonEmpty, "stream emitted no linked mentions")
    assert(got == want,
      s"stream vs batch diff: onlyStream=${(got -- want).take(3)} onlyBatch=${(want -- got).take(3)}")
  }
}
