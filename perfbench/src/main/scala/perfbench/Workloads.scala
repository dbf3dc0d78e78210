package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.Validate
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Counts attempted and failed operations; a failed correctness check is
  * a failed operation. */
final class Ops {
  var attempted = 0L
  var failed = 0L

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Exception => System.err.println(e); false }
    if (!passed) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** A call into the program; returns its result and cost. A full
    * collection first, so that no call pays for the garbage of the one
    * before it. */
  def call[T](body: => T): (T, Cost) = {
    System.gc()
    attempted += 1
    val (w0, c0) = (System.nanoTime(), Cost.cpuNanos())
    val r = try body catch { case e: Throwable => failed += 1; throw e }
    (r, Cost((System.nanoTime() - w0) / 1e9, (Cost.cpuNanos() - c0) / 1e9))
  }
}

/** Wall seconds and CPU seconds of one call. */
final case class Cost(wallS: Double, cpuS: Double)

object Cost {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM without its JIT compiler threads, whose work
    * depends on how warm the run is rather than on the program. The
    * process total also holds threads that have exited; a thread's
    * `schedstat` starts with its run time in nanoseconds. */
  def cpuNanos(): Long = {
    val total = os.getProcessCpuTime
    val tasks = Files.list(java.nio.file.Paths.get("/proc/self/task"))
    val jit = try tasks.iterator().asScala.map { t =>
      try {
        if (!Files.readString(t.resolve("comm")).contains("CompilerThre")) 0L
        else Files.readString(t.resolve("schedstat")).split(" ")(0).toLong
      } catch { case _: java.io.IOException => 0L } // the thread has exited
    }.sum finally tasks.close()
    total - jit
  }
}

/** One timed phase of an iteration: its cost, and the share of the
  * expected outcome it delivered. */
final case class Phase(cost: Cost, quality: Double)

/** A workload: set-up makes its inputs from the seed, each iteration
  * runs the timed calls and checks their outputs, and the traced run
  * adds isolation calls and layer counters. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int
  /** Untimed iterations before measuring: the first runs on a cold JVM
    * and costs two to three times a warm one. */
  def warmups: Int
  /** Generate inputs and any stored state under `dir`. */
  def setup(dir: Path): Unit
  /** The timed phases, `Metrics.PhaseCount` of them, in order. */
  def iteration(t: Tracer, ops: Ops): Seq[Phase]
  /** Layer counters and isolation calls, run after the traced
    * iterations; returns counter metrics by name. */
  def isolate(t: Tracer, ops: Ops): Map[String, Double]
  /** Delete what iterations leave on disk. Never timed. */
  def cleanup(): Unit

  /** Set while the traced iterations run, for counters that cost time. */
  var tracing = false
  protected var dir: Path = _
  private var iterations = 0
  protected def nextOut(): Path = { iterations += 1; dir.resolve(s"out-$iterations") }
}

object Workload {
  val Names = Seq("fhir_etl", "dedup_search")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "fhir_etl" => new FhirEtl(spark, seed)
    case "dedup_search" => new DedupSearch(spark, seed)
  }

  /** Delete `dir`'s entries named `out-*` or `isolated`, and the sink's
    * temp dirs. */
  def deleteOutputs(dir: Path): Unit = {
    val all = Files.list(dir)
    try all.iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("out-") || n == "isolated"
    }.foreach(deleteTree)
    finally all.close()
    deleteSinkTemps()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  /** `Ndjson` stages each write in a `ndjson*` temp dir it leaves behind. */
  def deleteSinkTemps(): Unit = {
    val tmp = Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.iterator().asScala.filter(_.getFileName.toString.startsWith("ndjson"))
      .toSeq.foreach(deleteTree)
    finally tmp.close()
  }

  def lines(p: Path): IndexedSeq[String] =
    Files.readAllLines(p).asScala.toIndexedSeq.filter(_.trim.nonEmpty)

  private val IdField = "\"id\":\""

  /** Top-level id of an NDJSON resource line (the writer emits
    * resourceType first and id second). */
  def idOf(line: String): String = {
    val i = line.indexOf(IdField) + IdField.length
    line.substring(i, line.indexOf('"', i))
  }

  def fileBytes(dir: Path): Long =
    Files.list(dir).iterator().asScala.map(Files.size).sum

  /** `Validate.summary` as a map of type to valid count. */
  def validCounts(spark: SparkSession, dir: Path): Map[String, Long] =
    Validate.summary(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Share of `expected` resources that `found` holds, summed over types. */
  def share(found: Map[String, Long], expected: Map[String, Long]): Double =
    expected.map { case (k, n) => math.min(found.getOrElse(k, 0L), n) }.sum.toDouble /
      expected.values.sum

  private val json = new ObjectMapper()

  /** Checks on one written META dir: per-type line counts, unique ids,
    * ids equal to the JVM-side minting of their identifier value, and a
    * Group whose members are this dir's Specimens. Returns line counts. */
  def checkMeta(ops: Ops, dir: Path, expected: Map[String, Long], expectedGroup: Long,
      mint: (String, String) => String): Map[String, Long] = {
    val counts = expected.keys.map { t =>
      val ls = lines(dir.resolve(s"$t.ndjson"))
      val ids = ls.map(idOf)
      ops.check(s"$dir/$t ids unique")(ids.distinct.size == ids.size)
      if (t == "Patient" || t == "Specimen") ls.take(25).foreach { l =>
        val n = json.readTree(l)
        val value = n.get("identifier").get(0).get("value").asText()
        ops.check(s"$dir/$t id of $value")(n.get("id").asText() == mint(t, value))
      }
      t -> ls.size.toLong
    }.toMap
    val specimens = lines(dir.resolve("Specimen.ndjson")).map(idOf).toSet
    val group = json.readTree(lines(dir.resolve("Group.ndjson")).head)
    val members = group.get("member").elements().asScala
      .map(_.get("entity").get("reference").asText()).toIndexedSeq
    ops.check(s"$dir Group size ${members.size} == $expectedGroup")(
      members.size == expectedGroup && members.distinct.size == members.size)
    ops.check(s"$dir Group members are Specimens")(
      members.forall(m => specimens.contains(m.stripPrefix("Specimen/"))))
    ops.check(s"$dir line counts $counts")(counts == expected)
    counts
  }
}

