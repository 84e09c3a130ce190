package graft.perfbench

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import graft.kg.{DocGen, PyramidDoc}

/** Seeded benchmark inputs derived from the bundled `documents.parquet`.
  *
  * A corpus is an evenly spaced slice of the base documents, each replicated
  * under seed-derived doc ids, with a seed-chosen set of token positions
  * rewritten to strings that occur nowhere else. The two knobs are the input
  * properties that matter to the pipeline: replication is shared work (the
  * same text detected again under another id), and the unique tokens size the
  * char-memo and alias-dictionary working sets.
  *
  * The seed moves what a cache or a hash could key on (doc ids, hence media
  * placement and salts; which positions are unique) but not the amount of
  * work: the slice is fixed and the number of unique tokens is exact, so
  * every seed's model has the same vocabulary and every seed's run the same
  * size. Both tables of a corpus are written:
  *
  *   documents.parquet   (doc_id bigint, text string) — what `KgRunner` reads
  *   input_hint.parquet  (doc_id string, spans array<struct<kind,text,media_ref,offset>>),
  *                       assembled per row by `DocGen.assemble`
  */
object Inputs {

  final case class Shape(baseDocs: Int, replication: Int, uniqueTokens: Int)

  /** shared work: every base document detected three times under other ids */
  val RepeatHeavy = Shape(baseDocs = 150, replication = 3, uniqueTokens = 0)
  /** the graph workload's corpus: the repeat-heavy shape, smaller, since the
    * graph ops' cost is per job rather than per row */
  val GraphCorpus = Shape(baseDocs = 80, replication = 3, uniqueTokens = 0)
  /** little sharing: no replicas, about a quarter of the tokens unique */
  val LowSharing = Shape(baseDocs = 300, replication = 1, uniqueTokens = 4000)

  final case class RawDoc(doc_id: Long, text: String)

  /** SplitMix64 finalizer: a full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  /** The corpus of `shape` for `seed`, in doc id order. Ids are 9-digit and
    * unique; a colliding draw is re-drawn with the next attempt number.
    */
  def corpus(base: Seq[RawDoc], seed: Long, shape: Shape): Seq[RawDoc] = {
    require(shape.baseDocs >= 1 && shape.baseDocs <= base.length,
      s"baseDocs ${shape.baseDocs} outside [1, ${base.length}]")
    val stride = base.length / shape.baseDocs
    val sample = (0 until shape.baseDocs).map(i => base(i * stride))
    val used = scala.collection.mutable.HashSet.empty[Long]
    val docs = (for (d <- sample; k <- 0 until shape.replication) yield {
      var attempt = 0L
      var id = 0L
      while ({
        id = 100000000L + java.lang.Long.remainderUnsigned(hash(seed, 2L, d.doc_id, k, attempt), 900000000L)
        !used.add(id)
      }) attempt += 1
      (id, d.text.split(' '))
    }).sortBy(_._1)
    // the rewritten positions: the uniqueTokens lowest hashes over all
    // non-empty token positions; letters and digits only, so the char
    // alphabet keeps the new tokens intact
    val positions = for ((id, toks) <- docs; i <- toks.indices if toks(i).nonEmpty)
      yield (hash(seed, 3L, id, i), id, i)
    require(shape.uniqueTokens <= positions.length, s"${shape.uniqueTokens} unique tokens > ${positions.length}")
    val rewritten = positions.sortBy(_._1).take(shape.uniqueTokens)
      .groupMap(_._2)(p => p._3 -> ("u" + java.lang.Long.toString(mix(p._1) >>> 1, 36)))
      .view.mapValues(_.toMap).toMap
    docs.map { case (id, toks) =>
      val sub = rewritten.getOrElse(id, Map.empty[Int, String])
      RawDoc(id, toks.indices.map(i => sub.getOrElse(i, toks(i))).mkString(" "))
    }
  }

  def readBase(spark: SparkSession, documentsParquet: String): Seq[RawDoc] = {
    import spark.implicits._
    spark.read.parquet(documentsParquet)
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .as[RawDoc].collect().toSeq.sortBy(_.doc_id)
  }

  /** generate the corpus of `shape` for `seed` and write it under `dir` */
  def prepare(spark: SparkSession, documentsParquet: String, seed: Long, shape: Shape,
              dir: String, files: Int): Seq[RawDoc] = {
    val raw = corpus(readBase(spark, documentsParquet), seed, shape)
    write(spark, raw, dir, files)
    raw
  }

  def hintRows(raw: Seq[RawDoc]): Seq[PyramidDoc] =
    raw.map(d => DocGen.assemble(DocGen.docIdOf(d.doc_id), d.text))

  /** write both tables of the corpus under `dir` */
  def write(spark: SparkSession, raw: Seq[RawDoc], dir: String, files: Int): Unit = {
    import spark.implicits._
    raw.toDS().repartition(files).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    hintRows(raw).toDS().repartition(files).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/input_hint.parquet")
  }

  def readHint(spark: SparkSession, dir: String): Dataset[PyramidDoc] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/input_hint.parquet").as[PyramidDoc]
  }
}
