package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.HarnessConf

/** Options the launcher (run.py) passes to the JVM. */
final case class Opts(workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, seed: Long, cpus: Int)

/** What one run measured, before the launcher turns it into metrics. */
final case class RunResult(
    setupS: Seq[Double],
    attempted: Int,
    failures: Seq[String],
    peakHeapMb: Double,
    listenersAdded: Int,
    samples: Map[String, Any],
    layers: Map[String, Double])

/** The benchmark's JVM side: runs one workload against the program's
  * public surface and writes the raw measurements as JSON.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *   --seed N --cpus N --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("cpus").toInt)
    val r = o.workload match {
      case "telemetry" => Telemetry.run(o)
      case "query_session" => QuerySession.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val json = Json(Map("setup_s" -> r.setupS, "attempted" -> r.attempted,
      "failures" -> r.failures, "peak_heap_mb" -> r.peakHeapMb,
      "listeners_added" -> r.listenersAdded, "samples" -> r.samples,
      "layers" -> r.layers))
    Files.write(Paths.get(kv("out")), json.getBytes(StandardCharsets.UTF_8))
    Harness.log("result written")
    // streaming and shuffle threads are non-daemon; the result is on disk
    sys.exit(0)
  }
}

/** Session set-up and the measurements every workload shares. */
object Harness {
  /** A session shaped like Bench's: HarnessConf confs, local[cpus] and
    * shuffle partitions = cpus. The other confs only keep the run's
    * files inside its work directory and keep enough streaming progress
    * to read every micro-batch; none of them changes a plan.
    */
  def session(o: Opts): SparkSession = {
    val s = HarnessConf(SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString))
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Set up [[Setups]] times (session start plus the untimed warm-up)
    * and keep the last session. Returns it with each set-up's seconds.
    */
  def setUp(o: Opts)(warmUp: (SparkSession, Int) => Unit): (SparkSession, Seq[Double]) = {
    var last: SparkSession = null
    val times = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(o)
      warmUp(s, i)
      val dt = seconds(t0)
      log(String.format(java.util.Locale.ROOT, "set-up %d took %.2f s", Int.box(i), Double.box(dt)))
      if (i < Setups) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else last = s
      dt
    }
    (last, times)
  }

  /** Passes a run measures at least: two, so a median exists; three when
    * traced (untraced, traced, untraced), so the tracing overhead is not
    * just the second pass against the first.
    */
  def minPasses(o: Opts): Int = if (o.trace) 3 else 2

  /** An action that consumes every output column (a `.count()` would let
    * the optimizer prune columns nobody reads).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Heap that outlives young collections: every heap pool but eden.
    * Eden's peak only says when the last young GC ran.
    */
  private def retainedPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
  /** Start of a timed region: collect, then reset the pools' peaks. */
  def resetPeakHeap(): Unit = { System.gc(); retainedPools.foreach(_.resetPeakUsage()) }
  def peakHeapMb: Double = retainedPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val runStart = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(String.format(java.util.Locale.ROOT, "[perfbench %6.1fs] %s",
      Double.box(seconds(runStart)), msg))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")
}
