package perfbench

import graft.queries.{Dedup, Similarity}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import Workload._

/** Near-duplicate detection and top-k search over a generated corpus with
  * planted near-duplicates and clustered embeddings. Phase 1 is
  * `Dedup.minhashPairs` plus `Dedup.simhashPairs`, phase 2
  * `Similarity.knnExactOn`, phase 3 `Similarity.knnLshOn`. None of them
  * keeps state between calls, so every iteration does the same work. */
final class DedupSearch(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val Docs = 10000
  val Vectors = 10000
  val setups = 3
  /** The MinHash and SimHash kernels take longer than the FHIR path to
    * reach their steady cost. */
  val warmups = 2

  private var docsPath: String = _
  private var embPath: String = _
  private var planted: Set[(Long, Long)] = _
  private var copies = 0
  /** In-process brute force: (query, neighbour, cosine), best first. */
  private var truth: Seq[(Long, Long, Double)] = _
  private var first: Option[(Set[(Long, Long)], Seq[(Long, Long, Double)])] = None
  private var pairs = 0

  private def writeParquet(df: DataFrame, to: Path): Unit = {
    val staging = to.resolveSibling(to.getFileName.toString + ".staging")
    df.coalesce(1).write.parquet(staging.toString)
    val all = Files.list(staging)
    try Files.move(all.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get, to)
    finally all.close()
    deleteTree(staging)
  }

  def setup(d: Path): Unit = {
    import spark.implicits._
    dir = d
    Files.createDirectories(d)
    val docs = Gen.docs(seed, Docs)
    planted = docs.planted
    copies = docs.copies
    docsPath = d.resolve("docs.parquet").toString
    writeParquet(docs.rows.toDF("doc_id", "text"), d.resolve("docs.parquet"))
    embPath = d.resolve("embeddings.parquet").toString
    writeParquet(Gen.embeddings(seed, Vectors).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "embedding"),
      d.resolve("embeddings.parquet"))
  }

  /** The (vec_id, v, nrm) corpus shape `Similarity.knnExactOn` takes. */
  private def corpus(): DataFrame = {
    graft.GraftExtensions.ensureRegistered(spark)
    spark.read.parquet(embPath)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
  }

  /** The program's query set: every 100th vector below id 2000. */
  private def queryIds: Seq[Long] = 0L until math.min(Vectors, 2000).toLong by 100L

  /** Exact top-k in this JVM, with the program's arithmetic: float
    * widened to double, sequential dot products, cosine rounded half-up
    * to 4 places, ties broken by neighbour id. */
  private def bruteForce(): Seq[(Long, Long, Double)] = {
    val vs = Gen.embeddings(seed, Vectors).map(_.map(_.toDouble))
    def dot(a: Array[Double], b: Array[Double]) = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val norms = vs.map(v => math.sqrt(dot(v, v)))
    queryIds.flatMap { q =>
      val qi = q.toInt
      vs.indices.filter(_ != qi).map { j =>
        val c = BigDecimal(dot(vs(j), vs(qi)) / (norms(j) * norms(qi)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (q, j.toLong, c)
      }.sortBy { case (_, j, c) => (-c, j) }.take(Similarity.K)
    }
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  def iteration(t: Tracer, ops: Ops): Seq[Phase] = {
    if (truth == null) truth = bruteForce()
    val ((mh, sh), dedup) = ops.call(t.span("dedup") {
      val docs = spark.read.parquet(docsPath)
      (t.span("dedup.minhash")(Dedup.minhashPairs(docs).collect()),
        t.span("dedup.simhash")(Dedup.simhashPairs(docs).collect()))
    })
    val (exact, exactCost) = ops.call(t.span("similarity.exact")(
      triples(Similarity.knnExactOn(corpus()))))
    val (lsh, lshCost) = ops.call(t.span("similarity.lsh")(
      triples(Similarity.knnLshOn(corpus()))))

    ops.check("minhash pairs verified")(mh.forall(_.getDouble(2) >= 0.5))
    ops.check("simhash pairs verified")(sh.forall(_.getInt(2) <= 7))
    ops.check("exact top-k equals the in-process brute force")(exact == truth)
    val truthCos = truth.map { case (q, n, c) => (q, n) -> c }.toMap
    ops.check("LSH cosines are exact")(lsh.forall { case (q, n, c) =>
      truthCos.get((q, n)).forall(_ == c)
    })
    val found = (mh ++ sh).map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(planted)
    ops.check("same results as the first iteration")(first.forall(_ == ((found, lsh))))
    if (first.isEmpty) first = Some((found, lsh))
    pairs = mh.length + sh.length
    val lshHits = lsh.map(r => (r._1, r._2)).toSet.intersect(truth.map(r => (r._1, r._2)).toSet)
    Seq(
      Phase(dedup, found.size.toDouble / planted.size),
      Phase(exactCost, exact.toSet.intersect(truth.toSet).size.toDouble / truth.size),
      Phase(lshCost, lshHits.size.toDouble / truth.size))
  }

  def isolate(t: Tracer, ops: Ops): Map[String, Double] = {
    graft.GraftExtensions.ensureRegistered(spark)
    val docs = spark.read.parquet(docsPath).persist()
    docs.count()
    ops.call(t.span("expressions.minhash_bands")(noop(docs.select(
      expr(s"minhash_bands(text, 3, ${Dedup.NumHashes}, ${Dedup.NumBands})")))))
    ops.call(t.span("expressions.shingle_hashes")(noop(docs.select(
      expr("shingle_hashes(text, 3)")))))
    val classes = Dedup.contentClassReps(docs).count()
    ops.check("content classes")(classes == Docs - copies)
    // every band collision before verification: thresholds that keep all
    val candidates = Dedup.minhashPairs(docs, minJaccard = 0.0).count() +
      Dedup.simhashPairs(docs, maxHamming = 64).count()
    docs.unpersist()
    val c = corpus().persist()
    c.count()
    val q = c.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val lshCandidates = Similarity.lshCandidates(c, q).count()
    c.unpersist()
    Map(
      "dedup.content_classes" -> classes.toDouble,
      "dedup.candidates" -> candidates.toDouble,
      "dedup.pairs" -> pairs.toDouble,
      "dedup.verify_yield" -> (if (candidates > 0) pairs.toDouble / candidates else 0.0),
      "similarity.lsh_candidates" -> lshCandidates.toDouble,
      "similarity.lsh_scan_fraction" -> lshCandidates.toDouble / (queryIds.size.toDouble * Vectors))
  }

  def cleanup(): Unit = ()
}
