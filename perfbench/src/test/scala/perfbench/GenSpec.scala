package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base = Paths.get("target", "gen-spec").toAbsolutePath
  private var n = 0
  private def fresh(): Path = { n += 1; base.resolve(s"d$n") }

  override def beforeAll(): Unit = Workload.deleteTree(base)
  override def afterAll(): Unit = Workload.deleteTree(base)

  /** Relative path -> bytes of every file under `dir`. */
  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val all = Files.walk(dir)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally all.close()
  }

  private def fhirInputs(seed: Long): Map[String, Seq[Byte]] = {
    val d = fresh()
    val onekg = Gen.oneKg(d.resolve("in"), seed, 300)
    Gen.gtex(d.resolve("in"), seed, 40, 300)
    Gen.deltas(d.resolve("deltas"), seed, onekg, 2, 20, 10)
    tree(d)
  }

  test("FHIR inputs: same seed, same bytes; another seed, other bytes") {
    val a = fhirInputs(1)
    assert(a.keySet.size == 10)
    assert(a == fhirInputs(1))
    val b = fhirInputs(2)
    assert(a.keySet == b.keySet)
    assert(a.keys.filter(_.endsWith(".tsv")).forall(k => a(k) != b(k)))
  }

  test("documents and embeddings: same seed, same rows; another seed, other rows") {
    val d1 = Gen.docs(5, 2000)
    assert(d1 == Gen.docs(5, 2000))
    assert(d1.rows != Gen.docs(6, 2000).rows)
    val e1 = Gen.embeddings(5, 500).map(_.toSeq)
    assert(e1 == Gen.embeddings(5, 500).map(_.toSeq))
    assert(e1 != Gen.embeddings(6, 500).map(_.toSeq))
  }

  test("the 1KG header keeps its share of the sheet plus a tail outside it") {
    val d = fresh()
    val s = Gen.oneKg(d, 3, 1000)
    val header = Files.readAllLines(d.resolve("onekg_vcf_header.txt")).asScala
      .find(_.startsWith("#CHROM")).get.split("\t").drop(9).toSet
    val sheet = s.sampleIds.toSet
    assert(header.intersect(sheet).size == s.groupMembers)
    assert(s.groupMembers == 900 && (header -- sheet).size == 50)
  }

  test("GTEx attributes keep their share of the aliquots plus a tail outside them") {
    val d = fresh()
    val s = Gen.gtex(d, 3, 50, 1000)
    val keys = Files.readAllLines(d.resolve("gtex_sample_attrs.tsv")).asScala.drop(1)
      .map(_.split("\t")(0).split("-").takeRight(2).mkString("-")).toSet
    assert(keys.intersect(s.sampleIds.toSet).size == s.groupMembers)
    assert(s.groupMembers == 850 && (keys -- s.sampleIds).size == 50)
  }

  test("planted near-duplicates and copies have the recorded shape") {
    val d = Gen.docs(9, 5000)
    assert(d.planted.size == 500 && d.copies == 100)
    assert(d.rows.map(_._2).distinct.size <= 5000 - d.copies)
    val text = d.rows.toMap
    d.planted.foreach { case (a, b) =>
      val (wa, wb) = (text(a).split(" "), text(b).split(" "))
      val edits = wa.zip(wb).count { case (x, y) => x != y }
      assert(a < b && wa.length == wb.length && edits <= Gen.MaxEdits)
    }
  }

  test("the parquet inputs are byte-identical for the same seed") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def parquet(seed: Long) = {
        val d = fresh()
        new DedupSearch(spark, seed).setup(d)
        tree(d)
      }
      val a = parquet(4)
      assert(a.keySet == Set("docs.parquet", "embeddings.parquet"))
      assert(a == parquet(4))
      assert(a != parquet(8))
    } finally spark.stop()
  }
}
