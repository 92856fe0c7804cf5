package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

final case class Result(endToEnd: Map[String, (Double, String)],
                        layer: Map[String, (Double, String)],
                        attempted: Long, failed: Long, correct: Boolean,
                        failures: Seq[String], phaseS: Seq[(String, Double)],
                        latencyMs: Seq[Double])

/** What one measured window produced, for the end-to-end metrics. */
final case class Window(latencyMs: Seq[Double], ops: Long)

object Workload {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "op_p50_ms" -> "ms")

  val Endpoints: Seq[String] = Seq(
    "wrm.Views.latestPerStation", "wrm.Summary.stationSummary", "wrm.Summary.top10Recent",
    "wrm.DailyStats.stationDailySummary", "wrm.DailyStats.bikeMovementSummary",
    "wrm.Density.analyze", "wrm.Enhance.perFileCounts")

  val IngestLayers: Seq[String] = Seq(
    "wrm.RawParser.processPartition", "wrm.Enhance.enhance", "wrm.Validation.validate",
    "wrm.Sinks.overwriteDate")

  /** The per-layer metrics every workload prints. A workload that does no
    * work in a layer reports 0 for it.
    */
  val Layer: Seq[(String, String)] = Seq(
    "gen.setup_s" -> "s", "failed_op_ratio" -> "ratio", "ops" -> "count", "op_p90_ms" -> "ms",
    "log.warn_lines" -> "lines/op", "trace.spans" -> "count", "harness.op_self_s" -> "s",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.jobs_per_op" -> "count/op",
    "engine.stages_per_op" -> "count/op", "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.shuffle_write_mb" -> "MB", "engine.spill_mb" -> "MB", "engine.input_mb" -> "MB",
    "engine.output_mb" -> "MB", "engine.peak_exec_mem_mb" -> "MB") ++
    IngestLayers.map(l => s"${l}_s" -> "s") ++ Seq(
    "wrm.raw_scan_ratio" -> "ratio", "wrm.rows_out" -> "count", "wrm.files_aborted" -> "count") ++
    Endpoints.map(e => s"${e}_p50_ms" -> "ms") ++ Seq(
    "streaming.batch_p50_ms" -> "ms", "streaming.addBatch_p50_ms" -> "ms",
    "streaming.latestOffset_p50_ms" -> "ms", "streaming.queryPlanning_p50_ms" -> "ms",
    "streaming.walCommit_p50_ms" -> "ms", "streaming.jobs_per_batch" -> "count/batch",
    "streaming.files_per_batch_mean" -> "count", "streaming.lag_files_max" -> "count",
    "gen.late_ms_max" -> "ms")
}

/** One workload: seeded inputs, one session whose set-up (session build plus
  * the workload's untimed warm-up, which lets the JIT compile the hot paths)
  * is `setup_s`, a measured window of `--seconds` in that session, and
  * end-of-run output checks.
  */
abstract class Workload(val a: Main.Args, warn: WarnLineCounter) {
  val tracer = new Tracer(a.trace)
  val engine = new EngineCounters
  val manifestPath: Path = a.work.resolve("manifest.json")
  protected var spark: SparkSession = _
  private val failures = ArrayBuffer.empty[String]
  private var attempted, failed = 0L
  private val warmS = ArrayBuffer.empty[Double]
  /** The workload's own per-layer metrics, filled while it runs. */
  protected val layer = scala.collection.mutable.Map.empty[String, Double]

  /** Write the inputs and the manifest under `a.work`. */
  protected def generateInputs(): Gen.Manifest
  /** Warm the new session `spark`: run the operation a fixed number of
    * times, untimed as an operation, so nothing timed later runs cold.
    */
  protected def setUp(m: Gen.Manifest): Unit
  protected def tearDown(): Unit = { spark.stop(); spark = null }
  protected def measure(m: Gen.Manifest, deadlineNs: Long): Window
  /** Checks on the program's output after the window. */
  protected def verify(m: Gen.Manifest): Unit

  final def generate(): Unit = {
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val m = generateInputs()
    write(manifestPath, Serialization.write(m)(DefaultFormats))
    write(a.work.resolve("gen_s"), ((System.nanoTime() - t0) / 1e9).toString)
  }

  protected def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores).getOrCreate()
    s.sparkContext.addSparkListener(engine)
    s
  }

  /** Counters after every queued listener event has been delivered. */
  protected def counters(): Map[String, Long] = {
    Drain.listenerBus(spark.sparkContext)
    engine.snapshot()
  }

  /** One warm-up operation of the set-up; its time goes to the report. */
  protected def warmUp(body: => Any): Unit = {
    val t0 = System.nanoTime()
    body
    warmS += (System.nanoTime() - t0) / 1e9
  }

  /** Run one operation; an exception counts it as failed. */
  protected def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** Record a wrong output of an attempted operation as a failure. */
  protected def wrong(what: String): Unit = { failed += 1; failures += what.take(400) }

  /** An end-of-run check: one attempted operation, failed if `problems`. */
  protected def check(what: String)(problems: => Seq[String]): Unit =
    op(what)(problems).foreach(ps => if (ps.nonEmpty) wrong(s"$what: ${ps.take(5).mkString("; ")}"))

  final def run(): Result = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val m = Serialization.read[Gen.Manifest](
      new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8))
    val genS = scala.util.Try(new String(Files.readAllBytes(a.work.resolve("gen_s"))).trim.toDouble)
      .getOrElse(Double.NaN)
    val ts = System.nanoTime()
    spark = newSession()
    setUp(m)
    val setupS = (System.nanoTime() - ts) / 1e9
    tracer.spans.clear()
    val c0 = counters()
    engine.peakExecMem.set(0)
    val w0 = warn.lines.get
    val t0 = System.nanoTime()
    val w = measure(m, t0 + a.seconds * 1000000000L)
    val c1 = counters()
    val warnLines = warn.lines.get - w0
    val t1 = System.nanoTime()
    verify(m)
    tearDown()
    val phaseS = Seq("gen" -> genS, "setup" -> setupS) ++
      warmS.zipWithIndex.map { case (s, i) => s"warm_${i + 1}" -> s } ++
      Seq("window" -> (t1 - t0) / 1e9, "verify" -> (System.nanoTime() - t1) / 1e9)

    def d(k: String) = (c1(k) - c0(k)).toDouble
    val ops = math.max(w.ops, 1L).toDouble
    val engineLayer = Map(
      "engine.jobs" -> d("jobs"), "engine.stages" -> d("stages"),
      "engine.jobs_per_op" -> d("jobs") / ops, "engine.stages_per_op" -> d("stages") / ops,
      "engine.task_cpu_s" -> d("cpuNs") / 1e9, "engine.gc_s" -> d("gcMs") / 1e3,
      "engine.shuffle_write_mb" -> d("shuffleWrite") / 1e6, "engine.spill_mb" -> d("spill") / 1e6,
      "engine.input_mb" -> d("input") / 1e6, "engine.output_mb" -> d("output") / 1e6,
      "engine.peak_exec_mem_mb" -> c1("peakExecMem") / 1e6)
    val self = tracer.selfSeconds
    val layerValues = engineLayer ++ layer ++ Map(
      "gen.setup_s" -> genS,
      "failed_op_ratio" -> failed.toDouble / math.max(attempted, 1L),
      "ops" -> w.ops.toDouble,
      "op_p90_ms" -> Stats.pct(w.latencyMs, 90),
      "log.warn_lines" -> warnLines / ops,
      "trace.spans" -> tracer.spans.size.toDouble,
      "harness.op_self_s" -> Stats.median(self.getOrElse(s"op.${a.workload}", Nil))) ++
      Workload.IngestLayers.flatMap(l => self.get(l).map(xs => s"${l}_s" -> Stats.median(xs)))
    val e2eValues = Map(
      "setup_s" -> setupS, "peak_rss_mb" -> Stats.peakRssMb(),
      "op_p50_ms" -> Stats.pct(w.latencyMs, 50))
    def table(spec: Seq[(String, String)], v: Map[String, Double]) =
      spec.map { case (k, u) => k -> (v.getOrElse(k, 0.0), u) }.toMap
    if (w.latencyMs.isEmpty) wrong("no operation completed in the window")
    Result(table(Workload.EndToEnd, e2eValues), table(Workload.Layer, layerValues),
      attempted, failed, failed == 0, failures.toSeq, phaseS, w.latencyMs)
  }

  protected def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
