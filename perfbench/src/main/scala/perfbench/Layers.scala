package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer figures shared by the workloads' traced runs. */
object Layers {
  /** Engine counters per traced pass, plus busy_frac = executor run time
    * ÷ (traced wall × cores).
    */
  def engine(t: Tracer, wallS: Double, cpus: Int, passes: Double): Map[String, Double] = {
    t.drain()
    val e = t.engine.counters.map { case (k, v) => k -> v.sum().toDouble }
    val p = t.plans.counters.map { case (k, v) => k -> v.sum().toDouble }
    val perPass = (e - "executor.cpu_ns").map { case (k, v) => k -> v / passes } ++
      Map("executor.cpu_ms" -> e("executor.cpu_ns") / 1e6 / passes) ++
      Seq("driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
        "session_stages.cache_scans").map(k => k -> p(k) / passes)
    perPass + ("executor.busy_frac" ->
      (if (wallS > 0) e("executor.run_ms") / (wallS * 1000.0 * cpus) else 0.0))
  }

  /** The traced passes' median next to the untraced ones'. */
  def traceOverhead(untraced: Seq[Double], traced: Seq[Double]): Map[String, Double] = {
    val u = Harness.median(untraced)
    val t = Harness.median(traced)
    Map("trace.untraced_pass_s" -> u, "trace.traced_pass_s" -> t,
      "trace.overhead_frac" -> (if (u > 0) t / u - 1 else 0.0))
  }

  /** Write the spans (name, start, end, parent) when the run ends. */
  def write(path: String, spans: Seq[Span]): Unit = {
    val json = Json(spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
