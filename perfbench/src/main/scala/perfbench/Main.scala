package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op. `out` is what the op returned, checked after the run. */
final case class Sample(pass: Int, kind: String, op: String, seconds: Double,
    logicalBytes: Long, out: Option[Stats.Checksum], error: Option[String])

/** Times ops in the closed loop: the one driver thread issues the next op
  * only when the last has returned. In a traced pass every op also goes
  * through the [[Tracer]]. Spark's cache is cleared after every op, outside
  * the timing, so a repeated op can never be answered from an earlier one.
  */
final class Runner(spark: SparkSession, tracer: Tracer) {
  val samples = mutable.ArrayBuffer[Sample]()
  var traced = false

  def op(pass: Int, kind: String, op: String, logicalBytes: Long)(
      body: => Option[Stats.Checksum]): Unit = {
    val t0 = System.nanoTime()
    val res = try Right(if (traced) tracer.op(pass, kind)(body) else body)
    catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    res.left.foreach(m => System.err.println(s"[perfbench] $kind $op failed: $m"))
    samples += Sample(pass, kind, op, s, logicalBytes, res.toOption.flatten, res.left.toOption)
  }
}

/** What a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File) {
  def dir(name: String): File = new File(work, name)
}

trait Workload {
  /** Generates the seeded inputs under `dir`. */
  def generate(dir: File): Unit
  /** Writes the tables the passes read from the generated inputs, under
    * `dir`; set-up repeats it and the last one is used.
    */
  def build(dir: File): Unit = ()
  /** Untimed ops that JIT-compile and warm every path a pass uses. */
  def warmUp(runner: Runner): Unit
  /** One pass of the fixed op sequence. */
  def pass(p: Int, runner: Runner): Unit
  /** About how long a pass takes at this commit; sets the pass count. */
  def nominalPassSeconds: Double
  /** Per-layer facts gathered at the end of a traced pass. */
  def passFacts(p: Int): Map[String, Double] = Map.empty
  /** Number of samples whose output is wrong, checked after the run. */
  def wrongOutputs(samples: Seq[Sample]): Int
  /** Logical bytes the end-to-end throughput counts, and their op kinds. */
  def throughputKinds: Set[String]
  /** Op kinds whose leaf stages are COLF scans. */
  def readKinds: Set[String]
  /** On-disk bytes over logical bytes of the live rows. */
  def storedPerUserByte: Double
  /** Layer metrics only the workload can compute (codec, sizes). */
  def layerMetrics(traced: Seq[OpTrace]): Map[String, Double]
}

object Main {
  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.driver_gap_ms" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.sched_delay_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB",
    "colf_scan.files_listed" -> "count", "colf_scan.files_planned" -> "count",
    "colf_scan.prune_frac" -> "ratio", "colf_scan.compressed_mb" -> "MB",
    "colf_scan.uncompressed_mb" -> "MB", "colf_scan.task_ms" -> "ms") ++
    CodecBench.Types.flatMap(t => Seq(s"colf_codec.encode_mb_s.$t" -> "MB/s",
      s"colf_codec.deflate_mb_s.$t" -> "MB/s", s"colf_codec.inflate_mb_s.$t" -> "MB/s",
      s"colf_codec.decode_mb_s.$t" -> "MB/s", s"colf_codec.ratio.$t" -> "ratio")) ++ Seq(
    "colf_codec.scan_share" -> "ratio",
    "colf_write.task_ms" -> "ms", "colf_write.commit_ms" -> "ms", "colf_write.files" -> "count",
    "colf_write.mb" -> "MB",
    "colf_versions.versions" -> "count", "colf_versions.manifest_kb" -> "KB",
    "colf_versions.live_files" -> "count", "colf_versions.dead_mb" -> "MB",
    "colf_dml.files_rewritten" -> "count", "colf_dml.mb_rewritten" -> "MB",
    "colf_dml.delete_files" -> "count", "colf_dml.write_amp" -> "ratio",
    "colf_maint.compact_ms" -> "ms", "colf_maint.files_before" -> "count",
    "colf_maint.files_after" -> "count", "colf_maint.mb_rewritten" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.cpu_s" -> "s",
    "jvm.cpu_util" -> "ratio",
    "full_scan_p50_s" -> "s", "project_p50_s" -> "s", "filter_p50_s" -> "s",
    "groupby_p50_s" -> "s", "append_p50_s" -> "s", "merge_p50_s" -> "s",
    "delete_p50_s" -> "s", "trace.overhead_frac" -> "ratio")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "op_p50_s" -> "s", "op_p90_s" -> "s", "logical_mb_s" -> "MB/s",
    "stored_bytes_per_user_byte" -> "ratio")

  /** Set-up repeats per run; set-up time is their median. */
  val SetupRepeats = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // everything the run writes stays under its work directory
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.catalog.colf_cat", "graft.sources.colf.ColfCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = new File(arg(args, "--work")).getAbsoluteFile
    val out = new File(arg(args, "--out"))
    val cores = Runtime.getRuntime.availableProcessors()
    work.mkdirs()

    val tStart = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val ctx = new Ctx(spark, seed, work)
    val w: Workload = workload match {
      case "scan" => new ScanWorkload(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(spark)
    val runner = new Runner(spark, tracer)

    // set-up: session start, input generation, the table build repeated
    // (each into a fresh directory, the median counts) and the warm-up
    val genS = time(w.generate(ctx.dir("input")))
    val buildS = (1 to SetupRepeats).map(i => time(w.build(ctx.dir(s"table-$i"))))
    val warmS = time(w.warmUp(runner))
    runner.samples.clear()
    val setupS = sessionS + genS + Stats.median(buildS) + warmS
    System.err.println(f"[perfbench] set-up: session $sessionS%.2fs, generate $genS%.2fs, " +
      f"build ${buildS.map(b => f"$b%.2f").mkString("/")}s, warm-up $warmS%.2fs")

    // measurement: a fixed number of whole passes that fills about
    // `seconds` at this commit (at least three, so a median pass exists), so
    // every run, before and after a change, times the same ops; a traced
    // run alternates untraced and traced passes
    val passCount = math.max(3, math.round(seconds / w.nominalPassSeconds).toInt)
    final case class PassRec(p: Int, traced: Boolean, seconds: Double,
        jvm: (Double, Double, Double, Double), facts: Map[String, Double])
    val passes = mutable.ArrayBuffer[PassRec]()
    val probe = new JvmProbe
    for (p <- 0 until passCount) {
      val traced = trace && p % 2 == 1
      runner.traced = traced
      if (traced) { tracer.attach(); tracer.beginPass() }
      probe.start()
      val s = time(w.pass(p, runner))
      val jvm = probe.stop()
      if (traced) { tracer.endPass(p, workload); tracer.detach() }
      passes += PassRec(p, traced, s, jvm, if (traced) w.passFacts(p) else Map.empty)
    }
    runner.traced = false

    val samples = runner.samples.toSeq
    samples.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) =>
      System.err.println(s"[perfbench] op $op: " + ss.map(x => f"${x.seconds}%.3f").mkString(" "))
    }
    val untracedPasses = passes.filterNot(_.traced).map(_.p).toSet
    val plain = samples.filter(s => untracedPasses(s.pass))
    val errors = samples.count(_.error.nonEmpty)
    val wrong = w.wrongOutputs(samples)
    val failed = errors + wrong
    val correct = failed == 0

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val metrics: Seq[(String, String, Double)] = if (!trace) {
      val times = plain.map(_.seconds)
      val tp = plain.filter(s => w.throughputKinds(s.kind))
      val (pct, tail) = Stats.tailPercentile(times)
      System.err.println(s"[perfbench] ${times.size} ops in ${passes.size} passes; " +
        s"op_p90_s reads p$pct; median s by kind: " + plain.groupBy(_.kind).toSeq.sortBy(_._1)
          .map { case (k, ss) => f"$k ${Stats.median(ss.map(_.seconds))}%.3f" }.mkString(", "))
      val values = Map(
        "setup_s" -> setupS,
        "run_s" -> med(passes.filterNot(_.traced).map(_.seconds).toSeq),
        "op_p50_s" -> Stats.median(times),
        "op_p90_s" -> tail,
        "logical_mb_s" -> tp.map(_.logicalBytes).sum / 1e6 / tp.map(_.seconds).sum,
        "stored_bytes_per_user_byte" -> w.storedPerUserByte)
      EndToEnd.map { case (n, u) => (n, u, values(n)) }
    } else {
      val tracedOps = tracer.ops.toSeq
      val tracedPasses = passes.filter(_.traced).toSeq
      def perPass(f: OpTrace => Double): Double =
        med(tracedPasses.map(pr => tracedOps.filter(_.pass == pr.p).map(f).sum))
      def passMax(f: OpTrace => Double): Double =
        med(tracedPasses.map(pr => (0.0 +: tracedOps.filter(_.pass == pr.p).map(f)).max))
      val listed = perPass(_.filesListed.toDouble)
      val planned = perPass(_.filesPlanned.toDouble)
      val kindP50 = Seq("full" -> "full_scan_p50_s", "project" -> "project_p50_s",
        "filter" -> "filter_p50_s", "groupby" -> "groupby_p50_s", "append" -> "append_p50_s",
        "merge" -> "merge_p50_s", "delete" -> "delete_p50_s").map { case (k, n) =>
        n -> med(plain.filter(_.kind == k).map(_.seconds))
      }
      val facts = tracedPasses.flatMap(_.facts.keys).distinct.map { k =>
        k -> med(tracedPasses.flatMap(_.facts.get(k)))
      }
      val values: Map[String, Double] = Map(
        "spark.plan_ms" -> perPass(_.planMs.toDouble),
        "spark.driver_gap_ms" -> perPass(_.driverGapMs.toDouble),
        "spark.jobs" -> perPass(_.jobs.size.toDouble),
        "spark.stages" -> perPass(_.stages.values.count(_(1) > 0).toDouble),
        "spark.tasks" -> perPass(_.tasks.toDouble),
        "spark.sched_delay_ms" -> perPass(_.schedDelayMs.toDouble),
        "spark.executor_run_ms" -> perPass(_.runMs.toDouble),
        "spark.executor_cpu_ms" -> perPass(_.cpuNs / 1e6),
        "spark.shuffle_read_mb" -> perPass(_.shuffleReadB / 1e6),
        "spark.shuffle_write_mb" -> perPass(_.shuffleWriteB / 1e6),
        "spark.spill_mb" -> perPass(_.spillB / 1e6),
        "spark.peak_exec_mem_mb" -> passMax(_.peakMemB / 1e6),
        "colf_scan.files_listed" -> listed,
        "colf_scan.files_planned" -> planned,
        "colf_scan.prune_frac" -> (if (listed > 0) 1.0 - planned / listed else 0.0),
        "colf_scan.task_ms" -> perPass(t => if (w.readKinds(t.kind)) t.leafRunMs.toDouble else 0),
        "colf_write.task_ms" -> perPass(t => if (t.kind == "append") t.runMs.toDouble else 0),
        "colf_write.commit_ms" -> perPass(t => if (t.kind == "append") t.commitMs.toDouble else 0),
        "jvm.gc_ms" -> med(tracedPasses.map(_.jvm._1)),
        "jvm.heap_peak_mb" -> med(tracedPasses.map(_.jvm._2)),
        "jvm.cpu_s" -> med(tracedPasses.map(_.jvm._3)),
        "jvm.cpu_util" -> med(tracedPasses.map(_.jvm._4)),
        "trace.overhead_frac" -> (med(tracedPasses.map(_.seconds)) /
          med(passes.filterNot(_.traced).map(_.seconds).toSeq) - 1.0)) ++
        kindP50 ++ facts ++ w.layerMetrics(tracedOps)
      System.err.println(s"[perfbench] codec context: ${CodecBench.ReferenceNumbers}")
      val spanFile = new File(arg(args, "--spans"))
      spanFile.getParentFile.mkdirs()
      Files.writeString(spanFile.toPath, tracer.spansJson)
      System.err.println(s"[perfbench] spans: $spanFile")
      LayerMetrics.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
    }

    val metricsJson = metrics.map { case (n, u, v) =>
      val vv = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$vv,"unit":"$u"}"""
    }.mkString(",")
    val line = s"""{"correct":$correct,"attempted":${samples.size},"failed":$failed,""" +
      s""""metrics":{$metricsJson}}"""
    Files.writeString(out.toPath, line)
    spark.stop()
  }
}
