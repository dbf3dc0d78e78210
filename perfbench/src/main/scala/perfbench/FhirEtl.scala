package perfbench

import graft.etl.{Gtex, OneKg, Validate}
import graft.sinks.Ndjson
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Workload._

/** The paper's path and its re-ingest. Phase 1 transforms generated 1KG
  * and GTEx sheets into fresh META dirs (`OneKg.runAll`, `Gtex.runAll`);
  * phase 2 folds delta batches into the 1KG dir with
  * `Ndjson.createOrExtend` per type, which re-reads and rewrites each
  * whole file; phase 3 validates both dirs (`Validate.summary`,
  * `Validate.errors`). */
final class FhirEtl(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val OneKgSamples = 6000
  val GtexSubjects = 600
  val GtexSamples = 6000
  val Batches = 3
  val Fresh = 600
  val Again = 150
  /** The generator takes under 0.1 s, and the JIT is still compiling it
    * over the first few set-ups, so the median needs many. */
  val setups = 15
  val warmups = 1

  private var inputs: Path = _
  private var deltas: Path = _
  private var onekg: Gen.Study = _
  private var gtex: Gen.Study = _
  private var upsert: Gen.Upsert = _
  private var lastOut: Path = _
  /** Bytes the transform wrote, and the fold read of existing files and
    * wrote back, in the last traced iteration. */
  private var transformBytes = 0L
  private var bytesRead = 0L
  private var bytesWritten = 0L

  def setup(d: Path): Unit = {
    dir = d
    inputs = d.resolve("inputs")
    deltas = d.resolve("deltas")
    onekg = Gen.oneKg(inputs, seed, OneKgSamples)
    gtex = Gen.gtex(inputs, seed, GtexSubjects, GtexSamples)
    upsert = Gen.deltas(deltas, seed, onekg, Batches, Fresh, Again)
  }

  private val mint1 = (t: String, v: String) => OneKg.minter.mintIdentifier(t, OneKg.MintSystem, v)
  private val mint2 = (t: String, v: String) => Gtex.minter.mintIdentifier(t, Gtex.MetaSystem, v)

  private def build(t: String, sheet: DataFrame): DataFrame = t match {
    case "Patient" => OneKg.patients(sheet)
    case "ResearchSubject" => OneKg.researchSubjects(sheet)
    case "Specimen" => OneKg.specimens(sheet)
  }

  private def batch(b: Int): DataFrame =
    OneKg.readSampleInfo(spark, deltas.resolve(s"batch-$b/onekg_sample_info.tsv").toString)

  def iteration(t: Tracer, ops: Ops): Seq[Phase] = {
    cleanup()
    val out = nextOut()
    lastOut = out
    val (o1, o2) = (out.resolve("onekg"), out.resolve("gtex"))
    val (_, transform) = ops.call(t.span("transform") {
      t.span("etl.onekg_run")(OneKg.runAll(spark, inputs.toString, o1.toString))
      t.span("etl.gtex_run")(Gtex.runAll(spark, inputs.toString, o2.toString))
    })
    val written1 = checkMeta(ops, o1, onekg.counts, onekg.groupMembers, mint1)
    val written2 = checkMeta(ops, o2, gtex.counts, gtex.groupMembers, mint2)
    if (tracing) transformBytes = fileBytes(o1) + fileBytes(o2)

    // the base line of every re-delivered resource, which the fold keeps
    val kept = Gen.UpsertTypes.map { ty =>
      val again = upsert.redelivered.map(mint1(ty, _))
      ty -> lines(o1.resolve(s"$ty.ndjson")).filter(l => again.contains(idOf(l)))
    }.toMap
    if (tracing) { bytesRead = 0L; bytesWritten = 0L }
    val (_, fold) = ops.call(t.span("upsert") {
      (0 until Batches).foreach { b =>
        t.span("sinks.upsert_batch") {
          val sheet = batch(b)
          Gen.UpsertTypes.foreach { ty =>
            val f = o1.resolve(s"$ty.ndjson")
            if (tracing) bytesRead += Files.size(f)
            Ndjson.createOrExtend(spark, build(ty, sheet), o1.toString, ty)
            if (tracing) bytesWritten += Files.size(f)
          }
        }
      }
    })
    val folded = checkMeta(ops, o1, upsert.counts, onekg.groupMembers, mint1)
    Gen.UpsertTypes.foreach { ty =>
      val old = kept(ty).map(l => idOf(l) -> l).toMap
      val now = lines(o1.resolve(s"$ty.ndjson")).filter(l => old.contains(idOf(l)))
      ops.check(s"$ty re-delivered lines kept byte for byte")(
        old.size == upsert.redelivered.size && now.size == old.size &&
          now.forall(l => old(idOf(l)) == l))
    }

    val ((valid, errors), validate) = ops.call(t.span("validate") {
      val v = t.span("validate.summary")(Seq(o1, o2).map(validCounts(spark, _)))
      val e = t.span("validate.errors")(
        Seq(o1, o2).map(o => Validate.errors(spark, o.toString).collect().length))
      (v, e)
    })
    ops.check("1KG summary")(valid(0) == upsert.counts)
    ops.check("GTEx summary")(valid(1) == gtex.counts)
    ops.check("no validation errors")(errors.sum == 0)
    Seq(
      Phase(transform, (share(written1, onekg.counts) + share(written2, gtex.counts)) / 2),
      Phase(fold, share(folded, upsert.counts)),
      Phase(validate, (share(valid(0), upsert.counts) + share(valid(1), gtex.counts)) / 2))
  }

  def isolate(t: Tracer, ops: Ops): Map[String, Double] = {
    val in = inputs.toString
    val (o1, o2) = (lastOut.resolve("onekg"), lastOut.resolve("gtex"))
    val sources = Seq(
      OneKg.readSampleInfo(spark, s"$in/onekg_sample_info.tsv"),
      OneKg.readFtpListing(spark, s"$in/onekg_ftp_listing.tsv"),
      OneKg.readHeaderSampleIds(spark, s"$in/onekg_vcf_header.txt"),
      Gtex.readTsv(spark, s"$in/gtex_subjects.tsv"),
      Gtex.readTsv(spark, s"$in/gtex_samples.tsv"),
      Gtex.readTsv(spark, s"$in/gtex_sample_attrs.tsv"),
      Gtex.readFileList(spark, s"$in/gtex_filelist.json"),
      Gtex.readSubjectPages(spark, s"$in/gtex_subject_pages"))
    ops.call(t.span("sources.scan")(sources.foreach(noop)))
    val rows = sources.map(_.count()).sum

    val Seq(si, listing, headerIds, subjects, samples, attrs, _, _) = sources.map(_.persist())
    // specimen ids of the transform's own output, as its Group step reads them
    val specimenIds = OneKg.specimenSampleIds(spark, o1.resolve("Specimen.ndjson").toString)
      .persist()
    val deltaIds = (0 until Batches).map(batch(_).select("Sample")).reduce(_ union _).persist()
    val cached = sources :+ specimenIds :+ deltaIds
    cached.foreach(_.count())
    val minted = OneKgSamples + GtexSamples + deltaIds.count()
    ops.call(t.span("ids.mint") {
      noop(si.select(OneKg.minter.mintIdentifierCol("Specimen", OneKg.MintSystem, col("Sample"))))
      noop(deltaIds.select(OneKg.minter.mintIdentifierCol("Specimen", OneKg.MintSystem, col("Sample"))))
      noop(samples.select(Gtex.minter.mintIdentifierCol("Specimen", Gtex.MetaSystem, col("aliquotId"))))
    })
    ops.call(t.span("etl.build") {
      Seq(OneKg.patients(si), OneKg.researchSubjects(si), OneKg.specimens(si),
        OneKg.documentReferences(listing), Gtex.patients(subjects),
        Gtex.researchSubjects(subjects), Gtex.specimens(samples)).foreach(noop)
    })
    val (groups, _) = ops.call(t.span("etl.group") {
      Seq(OneKg.group(spark, headerIds, specimenIds), Gtex.group(attrs, samples))
        .map(_.select(size(col("member"))).head().getInt(0))
    })
    ops.check("isolated Group sizes")(groups == Seq(onekg.groupMembers, gtex.groupMembers))

    val built = OneKg.specimens(si).persist()
    val delta = OneKg.specimens(batch(0)).persist()
    Seq(built, delta).foreach(_.count())
    val iso = dir.resolve("isolated")
    ops.call(t.span("sinks.serialize")(noop(built.toJSON.toDF())))
    ops.call(t.span("sinks.write")(Ndjson.write(built, iso.toString, "Specimen")))
    ops.check("isolated write")(lines(iso.resolve("Specimen.ndjson")).size == OneKgSamples)
    ops.call(t.span("sinks.upsert")(Ndjson.createOrExtend(spark, delta, iso.toString, "Specimen")))
    ops.check("isolated upsert")(
      lines(iso.resolve("Specimen.ndjson")).size == OneKgSamples + Fresh)
    (built +: delta +: cached).foreach(_.unpersist())

    ops.call(t.span("validate.scan")(Seq(o1, o2).foreach(o =>
      noop(Validate.validateDir(spark, o.toString)))))
    val scanned = Seq(o1, o2).map(o => Validate.validateDir(spark, o.toString)
      .agg(count(lit(1)), sum(when(col("ok"), 0).otherwise(1))).head())
    val maxLine = spark.read.text(o1.toString, o2.toString)
      .agg(max(octet_length(col("value")))).head().getInt(0)
    val grown = bytesWritten - bytesRead
    Map(
      "sources.rows" -> rows.toDouble,
      "ids.minted" -> minted.toDouble,
      "etl.group_members" -> groups.sum.toDouble,
      "sinks.bytes_written" -> transformBytes.toDouble,
      "sinks.upsert_bytes_read" -> bytesRead.toDouble,
      "sinks.write_amplification" -> (if (grown > 0) bytesWritten.toDouble / grown else 0.0),
      "validate.lines" -> scanned.map(_.getLong(0)).sum.toDouble,
      "validate.invalid" -> scanned.map(_.getLong(1)).sum.toDouble,
      "validate.max_line_bytes" -> maxLine.toDouble)
  }

  def cleanup(): Unit = deleteOutputs(dir)
}
