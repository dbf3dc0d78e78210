package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Metric names and units; BENCHMARK.json lists the same names. */
object Metrics {

  /** Timed phases per iteration; README.md maps them per workload. */
  val PhaseCount = 3

  val EndToEnd: Seq[(String, String)] =
    ("setup_s" -> "s") +: (1 to PhaseCount).map(i => s"phase${i}_cpu_s" -> "s") ++:
      (1 to PhaseCount).map(i => s"phase${i}_quality" -> "ratio") :+ ("peak_rss_mb" -> "MB")

  /** Spans around the end-to-end calls, root first. */
  val EndToEndSpans: Seq[String] = Seq("iteration",
    "transform", "etl.onekg_run", "etl.gtex_run",
    "upsert", "sinks.upsert_batch",
    "validate", "validate.summary", "validate.errors",
    "dedup", "dedup.minhash", "dedup.simhash",
    "similarity.exact", "similarity.lsh")

  /** Spans around the isolation calls, one layer each. */
  val IsolationSpans: Seq[String] = Seq("sources.scan", "ids.mint", "etl.build",
    "etl.group", "sinks.serialize", "sinks.write", "sinks.upsert", "validate.scan",
    "expressions.minhash_bands", "expressions.shingle_hashes")

  val Counters: Seq[(String, String)] = Seq(
    "sources.rows" -> "count", "ids.minted" -> "count", "etl.group_members" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.upsert_bytes_read" -> "bytes",
    "sinks.write_amplification" -> "ratio",
    "validate.lines" -> "count", "validate.invalid" -> "count",
    "validate.max_line_bytes" -> "bytes",
    "dedup.content_classes" -> "count", "dedup.candidates" -> "count",
    "dedup.pairs" -> "count", "dedup.verify_yield" -> "ratio",
    "similarity.lsh_candidates" -> "count", "similarity.lsh_scan_fraction" -> "ratio")

  val SparkCounters: Seq[(String, String)] = Seq(
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.core_util" -> "ratio", "spark.max_task_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    (EndToEndSpans ++ IsolationSpans).flatMap(s =>
      Seq(s"${s}_s" -> "s", s"$s.core_util" -> "ratio", s"$s.max_task_s" -> "s")) ++
      EndToEndSpans.map(s => s"$s.self_s" -> "s") ++
      Counters ++ SparkCounters ++
      Seq("trace.overhead_cpu_s" -> "s", "trace.overhead_share" -> "ratio")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The result line: `metrics` must hold exactly the names of `names`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      names: Seq[(String, String)], values: Map[String, Double]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0.0" else d.toString
    val ms = names.map { case (n, u) =>
      s""""$n": {"value": ${num(values.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Per-layer figures from the traced iterations' and isolation calls'
    * spans: per span name, median over iterations of its duration and
    * self time, and its Spark task statistics. */
  def perLayer(spans: IndexedSeq[Span], listener: TaskListener, cores: Int,
      iterationRuns: Seq[String]): Map[String, Double] = {
    val byName = spans.indices.groupBy(i => spans(i).name)
    val timed = byName.toSeq.flatMap { case (name, idx) =>
      // a span opened several times in one iteration counts as their sum
      val perRun = idx.groupBy(i => spans(i).runId).values.toSeq
      val dur = median(perRun.map(_.map(spans(_).seconds).sum))
      val self = median(perRun.map(_.map(Trace.selfNanos(spans, _) / 1e9).sum))
      val stats = idx.map(i => listener.of(spans(i)))
      val wall = idx.map(spans(_).seconds).sum
      Seq(s"${name}_s" -> dur, s"$name.self_s" -> self,
        s"$name.core_util" -> (if (wall > 0) stats.map(_.taskS).sum / (wall * cores) else 0.0),
        s"$name.max_task_s" -> (if (stats.isEmpty) 0.0 else stats.map(_.maxTaskS).max))
    }.toMap
    val roots = spans.filter(s => s.name == "iteration" && iterationRuns.contains(s.runId))
    val per = roots.map(s => (s, listener.of(s)))
    def med(f: ((Span, SparkStats)) => Double) = median(per.map(f))
    timed ++ Map(
      "spark.stages" -> med(_._2.stages.toDouble),
      "spark.tasks" -> med(_._2.tasks.toDouble),
      "spark.task_s" -> med(_._2.taskS),
      "spark.core_util" -> med { case (s, st) => st.coreUtil(s.seconds, cores) },
      "spark.max_task_s" -> med(_._2.maxTaskS),
      "spark.shuffle_write_bytes" -> med(_._2.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> med(_._2.spillBytes.toDouble),
      "spark.gc_s" -> med(_._2.gcS))
  }
}

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`:
  * set up the workload `setups` times, run its untimed warm-up
  * iterations, then iterate for `--seconds` and print the result line.
  * With `--trace 1` every second iteration records spans with the task
  * listener on, the isolation calls follow, and the result line holds
  * the per-layer metrics instead; the tracing overhead is the traced
  * iterations' median CPU time less the plain ones'. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val ops = new Ops
    val w = Workload(name, spark, seed)

    val setupS = (1 to w.setups).map { k =>
      val (_, cost) = ops.call(w.setup(work.resolve(s"setup-$k")))
      if (k > 1) Workload.deleteTree(work.resolve(s"setup-${k - 1}"))
      System.err.println(f"[perfbench] setup $k%d: ${cost.wallS}%.3f s (cpu ${cost.cpuS}%.3f s)")
      cost.cpuS
    }

    /** Iterate for `seconds`, and at least `atLeast` times; with a
      * tracer, every second iteration is traced, so plain ones come
      * before and after each traced one and both kinds see the same
      * warmth on average. */
    def loop(seconds: Double, t: Option[Tracer], atLeast: Int): (Seq[Seq[Phase]], Seq[Seq[Phase]]) = {
      val plain, traced = ArrayBuffer.empty[Seq[Phase]]
      val off = new Tracer(enabled = false)
      val start = System.nanoTime()
      var i = 0
      while (i < atLeast || (System.nanoTime() - start) / 1e9 < seconds) {
        val on = t.filter(_ => i % 2 == 1)
        val tracer = on.getOrElse(off)
        listener.enabled = on.nonEmpty
        w.tracing = on.nonEmpty
        i += 1
        try {
          val p = tracer.run(s"iteration-$i")(tracer.span("iteration")(w.iteration(tracer, ops)))
          System.err.println(s"[perfbench] iteration $i${if (on.nonEmpty) " traced" else ""}: " +
            p.zipWithIndex.map { case (ph, k) =>
              f"phase${k + 1} ${ph.cost.wallS}%.3f s (cpu ${ph.cost.cpuS}%.3f s)"
            }.mkString(", "))
          (if (on.nonEmpty) traced else plain) += p
        } catch { case e: Exception => e.printStackTrace() }
        // task events arrive late; take them before the listener turns off
        if (on.nonEmpty) listener.drain()
      }
      listener.enabled = false
      w.tracing = false
      (plain.toSeq, traced.toSeq)
    }

    loop(0, None, w.warmups)
    val values: Map[String, Double] =
      if (!trace) {
        val (measured, _) = loop(seconds, None, 1)
        if (measured.isEmpty) Map.empty
        else {
          def med(f: Phase => Double) =
            (0 until Metrics.PhaseCount).map(k => Metrics.median(measured.map(p => f(p(k)))))
          val (cpu, quality) = (med(_.cost.cpuS), med(_.quality))
          Map("setup_s" -> Metrics.median(setupS), "peak_rss_mb" -> peakRssMb()) ++
            (1 to Metrics.PhaseCount).flatMap(i =>
              Seq(s"phase${i}_cpu_s" -> cpu(i - 1), s"phase${i}_quality" -> quality(i - 1)))
        }
      } else {
        val t = new Tracer(enabled = true)
        val (plain, traced) = loop(seconds, Some(t), 3)
        val runs = t.spans.map(_.runId).distinct.toSeq
        listener.enabled = true
        val counters = t.run("isolate")(w.isolate(t, ops))
        listener.drain()
        val busy = (ps: Seq[Seq[Phase]]) => Metrics.median(ps.map(_.map(_.cost.cpuS).sum))
        val overhead = busy(traced) - busy(plain)
        Metrics.perLayer(t.spans.toIndexedSeq, listener, cores, runs) ++ counters ++ Map(
          "trace.overhead_cpu_s" -> overhead,
          "trace.overhead_share" -> overhead / busy(plain))
      }
    w.cleanup()
    spark.stop()

    val correct = ops.failed == 0 && values.nonEmpty
    println(Metrics.resultLine(correct, ops.attempted, ops.failed,
      if (trace) Metrics.PerLayer else Metrics.EndToEnd, values))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
