package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload wrm_ingest --seed 1 --seconds 15 --trace 0
  *                --cores 4 --work DIR --reports DIR [--phase all|gen|run]
  * }}}
  *
  * `gen` writes the seeded inputs and `manifest.json` into `--work`; `run`
  * measures against them; `all` (the default) does both. The last stdout line
  * is one JSON object: `correct`, `attempted`, `failed` and `metrics`. The
  * exit code is 0 only when every output check passed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: Path, reports: Path, phase: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      Paths.get(need("work")), Paths.get(need("reports")), kv.getOrElse("phase", "all"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try measure(parse(argv))
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  /** Runs the requested phase; returns the exit code. */
  def measure(a: Args): Int = {
    val warn = WarnLineCounter.install()
    val wl: Workload = a.workload match {
      case "wrm_ingest" => new IngestWorkload(a, warn)
      case "wrm_dashboard" => new DashboardWorkload(a, warn)
      case "wrm_stream" => new StreamWorkload(a, warn)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (a.phase == "gen") { wl.generate(); return 0 }
    if (a.phase == "all" || !Files.exists(wl.manifestPath)) wl.generate()
    val r = wl.run()
    val tag = s"${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}"
    def json(ms: Map[String, (Double, String)]) =
      ms.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Files.createDirectories(a.reports)
    write(a.reports.resolve(s"$tag.json"), Serialization.write(Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "attempted" -> r.attempted,
      "failed" -> r.failed, "correct" -> r.correct, "failures" -> r.failures.take(50),
      "phase_s" -> r.phaseS.toMap, "latency_ms" -> r.latencyMs, "metrics" -> json(r.endToEnd ++ r.layer), "self_s" -> wl.tracer.selfSeconds))(DefaultFormats))
    if (a.trace) write(a.reports.resolve(s"$tag-spans.json"), wl.tracer.toJson)
    r.failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val shown = (if (a.trace) r.layer else r.endToEnd).map { case (k, (v, u)) =>
      k -> (if (v.isNaN || v.isInfinite) 0.0 else v, u)
    }
    System.out.println(Serialization.write(Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> json(shown)))(DefaultFormats))
    if (r.correct) 0 else 1
  }

  def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
