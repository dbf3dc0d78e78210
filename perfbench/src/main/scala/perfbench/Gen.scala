package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generator. The same seed always writes the same bytes;
  * the program under test sees only the files written here.
  *
  * Shape choices (see README.md for the reasoning):
  *  - 1KG: the VCF header lists `HeaderKept` of the sheet's samples plus a
  *    tail of `HeaderTail` × samples ids that are not in the sheet, so
  *    the Group semi-join drops rows on both sides.
  *  - GTEx: the sample-attributes sheet holds `AttrsKept` of the aliquots
  *    plus a `AttrsTail` tail of aliquots that have no sample row.
  *  - Upsert deltas: each batch holds new samples and base samples
  *    re-delivered with other attributes.
  *  - Docs: `PlantedRate` of the base documents get a near-duplicate
  *    partner with 1 to `MaxEdits` words replaced; `CopyRate` of the
  *    documents are verbatim copies of unpaired ones.
  *  - Embeddings: unit vectors in `Dim` dimensions around `Clusters`
  *    centres with per-coordinate noise `Noise`.
  */
object Gen {

  val HeaderKept = 0.9
  val HeaderTail = 0.05
  val AttrsKept = 0.85
  val AttrsTail = 0.05
  val PlantedRate = 0.1
  val MaxEdits = 6
  val CopyRate = 0.02
  val DocWords = 120
  val Vocabulary = 20000
  val Dim = 64
  val Clusters = 200
  val Noise = 0.035
  val SubjectsPerPage = 500

  /** Independent stream per input, so resizing one input leaves the
    * others' bytes unchanged. */
  private def rng(seed: Long, stream: Int): Random =
    new Random(seed * 1000003L + stream)

  private def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(UTF_8))
  }

  private def tsv(path: Path, header: String, rows: Iterable[Seq[String]]): Unit = {
    val sb = new StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r.mkString("\t")).append('\n'))
    write(path, sb.toString)
  }

  private def jsonStr(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** `n` distinct ids `prefix + <digits>`, none in `taken` (which grows). */
  private def uniqueIds(r: Random, n: Int, prefix: String, digits: Int,
      taken: mutable.Set[String]): IndexedSeq[String] = {
    val bound = math.pow(10, digits).toInt
    val out = IndexedSeq.newBuilder[String]
    var made = 0
    while (made < n) {
      val id = prefix + String.format(s"%0${digits}d", Int.box(r.nextInt(bound)))
      if (taken.add(id)) { out += id; made += 1 }
    }
    out.result()
  }

  private def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  // ------------------------------------------------------------------
  // 1000 Genomes
  // ------------------------------------------------------------------

  private val Populations = IndexedSeq(
    "GBR" -> "British in England and Scotland", "FIN" -> "Finnish in Finland",
    "CHS" -> "Southern Han Chinese", "PUR" -> "Puerto Rican in Puerto Rico",
    "CLM" -> "Colombian in Medellin, Colombia", "IBS" -> "Iberian populations in Spain",
    "YRI" -> "Yoruba in Ibadan, Nigeria", "JPT" -> "Japanese in Tokyo, Japan",
    "GIH" -> "Gujarati Indian in Houston,TX", "PEL" -> "Peruvian in Lima, Peru")
  private val DnaSources = IndexedSeq("LCL", "Blood", "")
  private val Platforms = IndexedSeq("ILLUMINA", "ABI_SOLID", "LS454", "")

  /** One 1KG sample-info row with random attributes. */
  private def sampleRow(r: Random, id: String): Seq[String] = {
    val (pop, desc) = pick(r, Populations)
    Seq(id, if (r.nextBoolean()) "male" else "female", pop, desc,
      pick(r, DnaSources), pick(r, Platforms))
  }

  private val SampleInfoHeader =
    "Sample\tGender\tPopulation\tPopulation Description\tDNA Source from Coriell\tMain project LC platform"

  private def writeSampleInfo(dir: Path, rows: Seq[Seq[String]]): Unit =
    tsv(dir.resolve("onekg_sample_info.tsv"), SampleInfoHeader, rows)

  /** The FTP listing: per-chromosome VCFs and indexes, files without
    * "vcf" in the name (filtered out), and re-listed entries (the
    * last-wins dedup drops them). Returns the DocumentReference count. */
  private def writeFtpListing(r: Random, dir: Path): Int = {
    val chroms = (1 to 22).map(_.toString) ++ Seq("X", "Y", "MT")
    val vcfs = chroms.flatMap { c =>
      val f = s"ALL.chr$c.phase3_shapeit2_mvncall_integrated_v5_extra_anno.20130502.genotypes.vcf.gz"
      Seq(f, f + ".tbi")
    } ++ Seq("ALL.wgs.phase3_shapeit2_mvncall_integrated_v5.20130502.sites.vcf.gz",
      "README_vcf_info_annotation.20141104")
    val others = Seq("integrated_call_samples_v3.20130502.ALL.panel",
      "20140625_related_individuals.txt")
    val relisted = r.shuffle(vcfs).take(6)
    val entries = r.shuffle(vcfs ++ others ++ relisted).map { f =>
      val size = if (r.nextInt(10) == 0) 0L else 1000L + r.nextInt(Int.MaxValue).toLong
      Seq(f, size.toString,
        f"2014-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d")
    }
    tsv(dir.resolve("onekg_ftp_listing.tsv"), "file\tsize\tlast_modified", entries)
    vcfs.size
  }

  /** VCF header whose `#CHROM` line lists `ids` after the 9 fixed columns. */
  private def writeVcfHeader(dir: Path, ids: Seq[String]): Unit =
    write(dir.resolve("onekg_vcf_header.txt"),
      "##fileformat=VCFv4.1\n##source=perfbench\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
        ids.mkString("\t") + "\n")

  /** Expected outcome of one study's transform. */
  final case class Study(counts: Map[String, Long], groupMembers: Long,
      sampleIds: IndexedSeq[String])

  private def oneKgCounts(samples: Long, docs: Long): Map[String, Long] =
    Map("Patient" -> samples, "ResearchSubject" -> samples, "Specimen" -> samples,
      "ResearchStudy" -> 1L, "DocumentReference" -> docs, "Group" -> 1L)

  /** 1KG sheet, FTP listing and VCF header for `samples` samples. */
  def oneKg(dir: Path, seed: Long, samples: Int): Study = {
    val r = rng(seed, 1)
    val ids = uniqueIds(r, samples, "HG", 7, mutable.HashSet.empty)
    writeSampleInfo(dir, ids.map(sampleRow(r, _)))
    val docs = writeFtpListing(r, dir)
    val kept = r.shuffle(ids).take((samples * HeaderKept).toInt)
    val tail = uniqueIds(r, (samples * HeaderTail).toInt, "NA", 7,
      mutable.HashSet.empty[String] ++ ids)
    writeVcfHeader(dir, r.shuffle(kept ++ tail))
    Study(oneKgCounts(samples, docs), kept.size, ids)
  }

  // ------------------------------------------------------------------
  // GTEx
  // ------------------------------------------------------------------

  private val Hardy = IndexedSeq("Ventilator case", "Fast death - violent",
    "Fast death - natural causes", "Intermediate death", "Slow death")
  private val Brackets = IndexedSeq("20-29", "30-39", "40-49", "50-59", "60-69", "70-79")
  private val DataTypes = IndexedSeq("RNA-Seq", "WGS", "WES", "")
  private val Freezes = IndexedSeq("Frozen", "PAXgene", "")
  private val Tissues = IndexedSeq("Blood", "Lung", "Liver", "Brain", "Skin", "Muscle")

  private def alnum(r: Random, n: Int): String =
    Seq.fill(n)("0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"(r.nextInt(34))).mkString

  /** GTEx subject/sample/attribute sheets, subject API pages and the
    * nested file list. */
  def gtex(dir: Path, seed: Long, subjects: Int, samples: Int): Study = {
    val r = rng(seed, 2)
    val taken = mutable.HashSet.empty[String]
    val subjectIds = IndexedSeq.fill(subjects) {
      var id = ""
      while (!taken.add { id = "GTEX-" + alnum(r, 5); id }) ()
      id
    }
    val subjectRows = subjectIds.map { id =>
      val dead = r.nextInt(5) < 3
      Seq(id, if (r.nextBoolean()) "male" else "female",
        if (dead) "" else pick(r, Brackets), if (dead) pick(r, Hardy) else "")
    }
    tsv(dir.resolve("gtex_subjects.tsv"), "subjectId\tsex\tageBracket\thardyScale",
      subjectRows)
    subjectRows.grouped(SubjectsPerPage).zipWithIndex.foreach { case (page, i) =>
      val data = page.map { case Seq(id, sex, age, hardy) =>
        s"""{"subjectId": ${jsonStr(id)}, "sex": ${jsonStr(sex)}, "ageBracket": """ +
          s"""${jsonStr(if (age.isEmpty) null else age)}, "hardyScale": """ +
          s"""${jsonStr(if (hardy.isEmpty) null else hardy)}}"""
      }
      write(dir.resolve(f"gtex_subject_pages/page-$i%04d.json"),
        s"""{"data": [${data.mkString(", ")}], "paging_info": {"page": $i, """ +
          s""""maxItemsPerPage": $SubjectsPerPage, "totalNumberOfItems": $subjects}}""")
    }

    val aliquots = IndexedSeq.fill(samples) {
      var id = ""
      while (!taken.add { id = "SM-" + alnum(r, 6); id }) ()
      id
    }
    val owner = aliquots.map(_ => if (r.nextInt(100) == 0) "" else pick(r, subjectIds))
    tsv(dir.resolve("gtex_samples.tsv"), "aliquotId\tsubjectId\tdataType\tfreezeType",
      aliquots.indices.map(i =>
        Seq(aliquots(i), owner(i), pick(r, DataTypes), pick(r, Freezes))))

    val kept = r.shuffle(aliquots.indices.toIndexedSeq).take((samples * AttrsKept).toInt)
    val tail = IndexedSeq.fill((samples * AttrsTail).toInt) {
      var id = ""
      while (!taken.add { id = "SM-" + alnum(r, 6); id }) ()
      id
    }
    val attrRows = kept.map(i => (if (owner(i).isEmpty) "GTEX-0000" else owner(i), aliquots(i))) ++
      tail.map(a => (pick(r, subjectIds), a))
    tsv(dir.resolve("gtex_sample_attrs.tsv"), "SAMPID\tSMTS",
      r.shuffle(attrRows).map { case (subj, a) =>
        Seq(f"$subj-${r.nextInt(10000)}%04d-$a", pick(r, Tissues))
      })

    val docs = writeFileList(r, dir)
    Study(Map("Patient" -> subjects.toLong, "ResearchSubject" -> subjects.toLong,
      "Specimen" -> samples.toLong, "ResearchStudy" -> 1L,
      "DocumentReference" -> docs, "Group" -> 1L), kept.size, aliquots)
  }

  /** File list with the protected fileset first (dropped by position)
    * and a second dataset the pipeline ignores. Returns the
    * DocumentReference count. */
  private def writeFileList(r: Random, dir: Path): Long = {
    def file(name: String) =
      s"""{"name": ${jsonStr(name)}, "type": "file", "size": "${1 + r.nextInt(999)}${pick(r, IndexedSeq("K", "M", "G"))}", "release": "v8"}"""
    def fileset(name: String, subpath: String, files: Seq[String]) =
      s"""{"name": ${jsonStr(name)}, "subpath": ${jsonStr(subpath)}, "files": [${files.map(file).mkString(", ")}]}"""
    val sets = Seq("Annotations" -> "annotations", "Single-Tissue cis-QTL Data" -> "single_tissue_qtl_data",
      "Gene TPMs" -> "rna_seq_data", "Haplotype Expression" -> "haplotype_expression")
    val named = sets.map { case (name, sub) =>
      (name, sub, (0 until 5 + r.nextInt(10)).map(i =>
        s"GTEx_Analysis_v8_${sub}_$i.${pick(r, IndexedSeq("txt.gz", "tar", "xlsx", "gct.gz", "vcf.gz"))}"))
    }
    val v8 = fileset("Protected Data", "protected", Seq("GTEx_Analysis_v8_protected.bam")) +:
      named.map { case (n, s, fs) => fileset(n, s, fs) }
    val v10 = Seq(fileset("Annotations", "annotations", Seq("GTEx_Analysis_v10_Annotations.txt")))
    write(dir.resolve("gtex_filelist.json"),
      s"""[{"name": "GTEx Analysis V8", "filesets": [${v8.mkString(", ")}]}, """ +
        s"""{"name": "GTEx Analysis V10", "filesets": [${v10.mkString(", ")}]}]""")
    named.map(_._3.size).sum.toLong
  }

  // ------------------------------------------------------------------
  // Upsert deltas
  // ------------------------------------------------------------------

  /** What folding the deltas into a 1KG META dir should give: per-type
    * counts afterwards, and the sample ids the batches re-deliver. */
  final case class Upsert(counts: Map[String, Long], redelivered: Set[String])

  /** `batches` delta sheets in `dir/batch-<i>` for the 1KG `base`, each
    * with `fresh` new samples and `again` base samples re-delivered with
    * every attribute redrawn. */
  def deltas(dir: Path, seed: Long, base: Study, batches: Int, fresh: Int,
      again: Int): Upsert = {
    val r = rng(seed, 3)
    val taken = mutable.HashSet.empty[String] ++ base.sampleIds
    val redelivered = mutable.HashSet.empty[String]
    (0 until batches).foreach { b =>
      val news = uniqueIds(r, fresh, "HG", 7, taken)
      val olds = r.shuffle(base.sampleIds).take(again)
      redelivered ++= olds
      writeSampleInfo(dir.resolve(s"batch-$b"), r.shuffle(news ++ olds).map(sampleRow(r, _)))
    }
    val grown = base.sampleIds.size.toLong + batches.toLong * fresh
    Upsert(base.counts ++ UpsertTypes.map(_ -> grown), redelivered.toSet)
  }

  /** The resource types a delta batch is folded into. */
  val UpsertTypes = Seq("Patient", "ResearchSubject", "Specimen")

  // ------------------------------------------------------------------
  // Documents and embeddings
  // ------------------------------------------------------------------

  /** Planted near-duplicate pair, as (smaller doc_id, larger doc_id). */
  final case class Docs(rows: IndexedSeq[(Long, String)], planted: Set[(Long, Long)],
      copies: Int)

  /** `n` documents of `DocWords` words drawn uniformly from a seeded
    * vocabulary (uniform, so unrelated documents' SimHashes are
    * independent), with planted near-duplicates and verbatim copies. */
  def docs(seed: Long, n: Int): Docs = {
    val r = rng(seed, 4)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocabulary)
        seen += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    def doc() = IndexedSeq.fill(DocWords)(pick(r, vocab))
    val pairs = (n * PlantedRate).toInt
    val copies = (n * CopyRate).toInt
    val singles = n - 2 * pairs - copies
    val texts = mutable.ArrayBuffer.empty[(String, Int)] // (text, pair index or -1)
    (0 until pairs).foreach { p =>
      val words = doc()
      val edited = words.toArray
      r.shuffle(words.indices.toIndexedSeq).take(1 + r.nextInt(MaxEdits))
        .foreach(i => edited(i) = pick(r, vocab))
      texts += ((words.mkString(" "), p)) += ((edited.mkString(" "), p))
    }
    val singleTexts = IndexedSeq.fill(singles)(doc().mkString(" "))
    singleTexts.foreach(t => texts += ((t, -1)))
    (0 until copies).foreach(_ => texts += ((pick(r, singleTexts), -1)))
    val order = r.shuffle(texts.toIndexedSeq)
    val rows = order.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }
    val planted = order.zipWithIndex.filter(_._1._2 >= 0)
      .groupBy(_._1._2).values.map { m =>
        val Seq(a, b) = m.map(_._2.toLong).sorted
        (a, b)
      }.toSet
    Docs(rows, planted, copies)
  }

  /** `n` unit vectors around `Clusters` seeded centres; vec_id = row index. */
  def embeddings(seed: Long, n: Int): IndexedSeq[Array[Float]] = {
    val r = rng(seed, 5)
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val centres = IndexedSeq.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
    IndexedSeq.fill(n) {
      val c = pick(r, centres)
      unit(c.map(_ + Noise * r.nextGaussian())).map(_.toFloat)
    }
  }
}
