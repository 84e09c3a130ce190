package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.DataType
import graft.kg.PyramidDoc
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The seeded input generator: deterministic per seed, distinct across
  * seeds, and shaped as the pipeline's `input_hint` table.
  */
class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val docs = "data/documents.parquet"
  private val root = Files.createDirectories(Paths.get("target", "inputs-spec"))
  private val shape = Inputs.Shape(baseDocs = 40, replication = 2, uniqueTokens = 500)

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", root.resolve("spark-local").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** order-independent content digest of an input_hint table */
  private def digest(ds: Dataset[PyramidDoc]): String =
    Digest.ofLines(ds.collect().map { d =>
      d.doc_id + d.spans.map(s => s"\u0001${s.kind}\u0002${s.text}\u0002${s.media_ref}\u0002${s.offset}").mkString
    })

  private def generate(seed: Long, name: String): String = {
    val dir = root.resolve(name).toString
    Inputs.prepare(spark, docs, seed, shape, dir, files = 2)
    dir
  }

  test("the same seed gives an identical input_hint table") {
    val a = digest(Inputs.readHint(spark, generate(7L, "seed7a")))
    val b = digest(Inputs.readHint(spark, generate(7L, "seed7b")))
    assert(a == b)
  }

  test("a different seed gives different doc ids") {
    val a = Inputs.readHint(spark, generate(7L, "seed7")).collect().map(_.doc_id).toSet
    val b = Inputs.readHint(spark, generate(8L, "seed8")).collect().map(_.doc_id).toSet
    assert(a.size == shape.baseDocs * shape.replication)
    assert(b.size == a.size)
    assert((a intersect b).isEmpty)
  }

  test("the table has the input_hint schema") {
    val written = spark.read.parquet(s"${generate(7L, "schema")}/input_hint.parquet").schema
    // a parquet round trip does not keep nullability
    assert(DataType.equalsIgnoreNullability(written, Encoders.product[PyramidDoc].schema), written.treeString)
    assert(written.fieldNames.toSeq == Seq("doc_id", "spans"))
  }

  test("replication and unique tokens shape the corpus") {
    val base = Inputs.readBase(spark, docs)
    val raw = Inputs.corpus(base, 7L, shape)
    assert(raw.map(_.doc_id).distinct.length == shape.baseDocs * shape.replication)
    val tokens = raw.flatMap(_.text.split(' '))
    val unique = tokens.filterNot(t => base.exists(_.text.split(' ').contains(t)))
    assert(unique.length == shape.uniqueTokens)
    assert(unique.distinct.length == shape.uniqueTokens)
    val plain = Inputs.corpus(base, 7L, shape.copy(uniqueTokens = 0))
    assert(plain.groupBy(_.text).valuesIterator.forall(_.length % shape.replication == 0))
  }
}
