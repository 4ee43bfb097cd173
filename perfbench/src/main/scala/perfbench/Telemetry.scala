package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.functions.Signal
import graft.ml.Fft
import graft.operators.Enrich
import graft.streaming.{Pipeline, Streaming}

/** What the generator planted in a telemetry backlog (manifest.json). */
final case class Manifest(records: Long, lateRows: Long, retryIds: Set[Long],
    dlqIds: Set[Long], lateIds: Set[Long])

object Manifest {
  def load(path: String): Manifest = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def num(k: String): Long = (j \ k) match {
      case JInt(v) => v.toLong
      case other => throw new IllegalArgumentException(s"manifest $k: $other")
    }
    def ids(k: String): Set[Long] = (j \ k) match {
      case JArray(xs) => xs.collect { case JInt(v) => v.toLong }.toSet
      case _ => Set.empty
    }
    Manifest(num("records"), num("late_rows"), ids("retry_ids"), ids("dlq_ids"),
      ids("late_ids"))
  }
}

/** The telemetry replay workloads: a generated backlog drained through
  * `Pipeline.start` (lake, 1-minute features, retry/DLQ) with
  * `Trigger.AvailableNow`, one parquet file per micro-batch.
  *
  * A run sets up (session + a small warm-up replay) several times, then
  * replays the backlog into fresh sinks until `seconds` have passed. A
  * traced run alternates untraced and traced replays so the tracing
  * overhead is measured in the same run, then times each public
  * operator on the generated batch.
  */
object Telemetry {
  val Legs = Seq("lake", "features", "dlq")
  val SampleRateHz = 2000.0

  final case class Leg(name: String, query: StreamingQuery, error: Option[Throwable]) {
    /** Executed micro-batches (idle polls carry no addBatch phase). */
    def batches: Seq[StreamingQueryProgress] =
      query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  }
  final case class Replay(index: Int, dir: String, wallS: Double, traced: Boolean,
      legs: Seq[Leg])

  private def readStream(spark: SparkSession, backlog: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(backlog)

  /** Drain the backlog through the pipeline into fresh sinks under dir. */
  def replay(spark: SparkSession, backlog: String, schema: StructType, dir: String,
      index: Int, traced: Boolean): Replay = {
    val t0 = System.nanoTime()
    val running = Pipeline.start(readStream(spark, backlog, schema), s"$dir/lake",
      s"$dir/features", s"$dir/dlq", s"$dir/cp", SampleRateHz)
    val queries = Seq(running.lake, running.features, running.dlq)
    val errors = queries.map { q =>
      try { q.awaitTermination(); None } catch { case e: Throwable => Some(e) }
    }
    val wall = Harness.seconds(t0)
    if (errors.exists(_.isDefined)) running.stopAll()
    Replay(index, dir, wall, traced, Legs.zip(queries).zip(errors).map {
      case ((n, q), e) => Leg(n, q, e)
    })
  }

  def run(o: Opts): RunResult = {
    val m = Manifest.load(s"${o.data}/manifest.json")
    val backlog = s"${o.data}/backlog"
    val warmBacklog = s"${o.data}/warmup/backlog"
    val (spark, setupS) = Harness.setUp(o) { (s, i) =>
      val schema = s.read.parquet(warmBacklog).schema
      val r = replay(s, warmBacklog, schema, s"${o.work}/warmup-$i", 0, traced = false)
      r.legs.foreach(l => l.error.foreach(throw _))
    }
    val schema = spark.read.parquet(backlog).schema
    val listenersBefore = Tracer.listenerCount(spark)
    val tracer = Tracer.attach(spark, o.trace)

    // ---- timed region
    Harness.resetPeakHeap()
    val replays = ArrayBuffer.empty[Replay]
    val t0 = System.nanoTime()
    while (replays.size < Harness.minPasses(o) || Harness.seconds(t0) < o.seconds) {
      val i = replays.size
      def run(traced: Boolean) = replay(spark, backlog, schema, s"${o.work}/replay-$i", i, traced)
      replays += tracer.filter(_ => i % 2 == 1)
        .map(_.pass(s"replay $i")(_ => run(traced = true))).getOrElse(run(traced = false))
      Harness.log(s"replay $i (traced=${replays.last.traced}) took ${replays.last.wallS} s")
    }
    val peak = Harness.peakHeapMb
    // ---- end of timed region

    val failures = ArrayBuffer.empty[String]
    val expected = new Expected(spark, backlog, m)
    replays.foreach { r =>
      failures ++= check(spark, r, m, expected, full = r.index == 0)
      Harness.log(s"replay ${r.index} checked")
    }
    val listenersAdded = Tracer.listenerCount(spark) - listenersBefore
    Harness.log(s"checks done, ${failures.size} failures")

    val samples = Map[String, Any](
      "records" -> m.records,
      "replay_s" -> replays.map(_.wallS),
      "batch_ms" -> replays.flatMap(_.legs.flatMap(_.batches.map(
        _.durationMs.get("triggerExecution").toDouble))),
      "lake_bytes" -> replays.map(r => parquetFiles(s"${r.dir}/lake").map(Files.size).sum.toDouble))
    val (layers, calls) = tracer.map(t => traceLayers(spark, o, t, replays.toSeq, m, backlog,
      failures)).getOrElse((Map.empty[String, Double], 0))
    RunResult(setupS, replays.size * Legs.size + calls, failures.toSeq, peak,
      listenersAdded, samples, layers)
  }

  /** The data files of a sink directory (not the streaming metadata). */
  def parquetFiles(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
      .toSeq

  /** Batch recomputations of every sink by the same public operators. */
  final class Expected(spark: SparkSession, backlog: String, m: Manifest) {
    private val batch = spark.read.parquet(backlog)
    lazy val enriched: DataFrame = Enrich.pipeline(batch, "signal", "ts", "status", SampleRateHz)
      .withColumn("day", to_date(col("ts"))).cache()
    /** Lake rows without the one column that differs per write. */
    def comparable(df: DataFrame): DataFrame =
      df.withColumn("quality_metrics", col("quality_metrics").dropFields("processing_timestamp"))
        .select(enriched.columns.sorted.map(col).toSeq: _*)
    /** Finalized 1-minute windows over valid, on-time rows: the
      * watermark (5 minutes behind the latest event) closes every window
      * ending at or before it; planted late rows are dropped.
      */
    lazy val features: DataFrame = {
      val lateIds = m.lateIds.toSeq
      val valid = enriched.filter(col("outlier_check.is_valid") && !col("id").isin(lateIds: _*))
        .select(col("machine"), col("ts"), col("features.time_domain.rms").as("rms_in"))
      val maxTs = enriched.agg(max(col("ts"))).head().getTimestamp(0)
      Streaming.windowedFeatures(valid, "ts", "machine", "rms_in", "1 minute", "5 minutes")
        .filter(col("window.end") <= (lit(maxTs) - expr("INTERVAL 5 MINUTES")))
        .select(col("window.start").as("window_start"), col("machine"), col("rms"),
          col("peak"), col("kurtosis"), col("n"))
        .cache()
    }
    lazy val featureCount: Long = features.count()
    lazy val lakeDigest: Seq[Any] = Expected.digest(comparable(enriched))
  }

  object Expected {
    /** An order-independent digest of a frame's rows: the row count and
      * two sums of 64-bit row hashes, exact in decimal. Two multisets of
      * rows with equal digests are equal but for a hash collision.
      */
    def digest(df: DataFrame): Seq[Any] = {
      val h = xxhash64(df.columns.map(col).toSeq: _*)
      df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")),
        sum(xxhash64(h).cast("decimal(38,0)"))).head().toSeq
    }
  }

  /** Output checks of one replay; each message names the replay and leg. */
  def check(spark: SparkSession, r: Replay, m: Manifest, x: Expected,
      full: Boolean): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    def fail(leg: String, msg: String): Unit = out += s"replay ${r.index} $leg: $msg"
    r.legs.foreach(l => l.error.foreach(e => fail(l.name, s"threw ${Harness.message(e)}")))
    if (out.nonEmpty) return out.toSeq
    try {
      val lake = spark.read.parquet(s"${r.dir}/lake")
      val n = lake.count()
      if (n != m.records) fail("lake", s"$n rows, expected ${m.records}")
      else if (full) {
        if (Expected.digest(x.comparable(lake)) != x.lakeDigest)
          fail("lake", "rows differ from the batch recomputation")
      }
    } catch { case e: Throwable => fail("lake", s"check threw ${Harness.message(e)}") }
    try {
      val feats = spark.read.parquet(s"${r.dir}/features")
      val n = feats.count()
      val late = r.legs.find(_.name == "features").get.batches
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      if (late != m.lateRows) fail("features", s"$late late rows dropped, planted ${m.lateRows}")
      if (n != x.featureCount) fail("features", s"$n windows, expected ${x.featureCount}")
      else if (full) {
        val keys = Seq("window_start", "machine")
        val joined = feats.as("g").join(x.features.as("w"), keys, "full_outer")
        // sums of doubles may fold in another order: relative 1e-9
        def differs(c: String) = {
          val (g, w) = (col(s"g.$c"), col(s"w.$c"))
          !(g <=> w) && (g.isNull || w.isNull ||
            abs(g - w) > lit(1e-9) * greatest(abs(w), lit(1.0)))
        }
        val bad = joined.filter(differs("n") || differs("rms") || differs("peak") ||
          differs("kurtosis")).count()
        if (bad > 0) fail("features", s"$bad windows differ from the batch recomputation")
      }
    } catch { case e: Throwable => fail("features", s"check threw ${Harness.message(e)}") }
    try {
      val dlq = spark.read.parquet(s"${r.dir}/dlq")
      val routes = dlq.groupBy("route").count().collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
      val want = Map("retry" -> m.retryIds.size.toLong, "dlq" -> m.dlqIds.size.toLong)
        .filter(_._2 > 0)
      if (routes != want) fail("dlq", s"routes $routes, planted $want")
      else if (full) {
        def ids(route: String): Set[Long] = dlq.filter(col("route") === route)
          .select("id").collect().map(_.getLong(0)).toSet
        if (ids("retry") != m.retryIds) fail("dlq", "retry ids differ from the planted bounces")
        if (ids("dlq") != m.dlqIds) fail("dlq", "dead-lettered ids differ from the planted ones")
      }
    } catch { case e: Throwable => fail("dlq", s"check threw ${Harness.message(e)}") }
    out.toSeq
  }

  /** Per-layer metrics of a traced run, and how many operator calls it
    * timed (each one operation). Streaming and engine figures are per
    * traced replay; operator figures time each public call on the
    * generated batch with a noop sink (second of two calls).
    */
  private def traceLayers(spark: SparkSession, o: Opts, t: Tracer, replays: Seq[Replay],
      m: Manifest, backlog: String, failures: ArrayBuffer[String]): (Map[String, Double], Int) = {
    val traced = replays.filter(_.traced)
    val n = traced.size.toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val events = t.progress.progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
    val legOf: Map[String, String] = traced.flatMap(_.legs.map(l => l.query.id.toString -> l.name)).toMap
    val byLeg = events.groupBy(p => legOf.getOrElse(p.id.toString, "")).withDefaultValue(Nil)
    var inputRows = 0.0
    Legs.foreach { leg =>
      val ps = byLeg(leg)
      def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / n
      out(s"streaming.$leg.batches") = ps.size / n
      out(s"streaming.$leg.input_rows") = ps.map(_.numInputRows.toDouble).sum / n
      inputRows += ps.map(_.numInputRows.toDouble).sum / n
      out(s"streaming.$leg.addBatch_ms") = phase("addBatch")
      out(s"streaming.$leg.queryPlanning_ms") = phase("queryPlanning")
      out(s"streaming.$leg.walCommit_ms") = phase("walCommit")
      out(s"streaming.$leg.commitOffsets_ms") = phase("commitOffsets")
      out(s"streaming.$leg.source_ms") = phase("latestOffset") + phase("getBatch")
    }
    def lastState(leg: String): Seq[(Long, Long)] = traced.flatMap(_.legs.find(_.name == leg))
      .flatMap(_.batches.lastOption.flatMap(_.stateOperators.headOption))
      .map(s => (s.numRowsTotal, s.memoryUsedBytes))
    Seq("features", "dlq").foreach { leg =>
      val st = lastState(leg)
      out(s"streaming.$leg.state_rows") = st.map(_._1.toDouble).sum / n
      out(s"streaming.$leg.state_bytes") = st.map(_._2.toDouble).sum / n
    }
    out("streaming.features.late_rows_dropped") = byLeg("features")
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark.toDouble)).sum / n
    val dlqRoutes = traced.map { r =>
      spark.read.parquet(s"${r.dir}/dlq").groupBy("route").count().collect()
        .map(row => row.getString(0) -> row.getLong(1).toDouble).toMap
    }
    out("streaming.dlq.retry_rows") = dlqRoutes.map(_.getOrElse("retry", 0.0)).sum / n
    out("streaming.dlq.dlq_rows") = dlqRoutes.map(_.getOrElse("dlq", 0.0)).sum / n
    out("streaming.source_reads_per_record") = inputRows / m.records

    val wall = traced.map(_.wallS).sum
    val spans = t.linkedSpans(o.workload).map { s => // name each leg's query span
      legOf.get(s.name.stripPrefix("query ")).fold(s)(leg => s.copy(name = s"leg $leg"))
    }
    val batchIds = spans.filter(_.name.startsWith("batch ")).map(_.id).toSet
    out ++= Layers.engine(t, wall, o.cpus, n)
    out("driver.outside_jobs_ms") = Tracer.outsideJobsUs(spans, batchIds) / 1000.0 / n
    out ++= Layers.traceOverhead(replays.filterNot(_.traced).map(_.wallS), traced.map(_.wallS))

    // each public operator on the generated batch (second of two calls).
    // The batch twins of the stateful legs and the lake write then read a
    // cached enrichment, so each figure is that operator's own cost; the
    // enrichment is cached only after Enrich itself was timed, or the
    // cache would answer for it.
    val batch = spark.read.parquet(backlog).cache()
    val sig = col("signal")
    val lakeDir = s"${o.work}/batch-lake"
    lazy val enriched = {
      val e = Enrich.pipeline(batch, "signal", "ts", "status", SampleRateHz).cache()
      e.count()
      e
    }
    def valid = enriched.filter(col("outlier_check.is_valid"))
      .select(col("machine"), col("ts"), col("features.time_domain.rms").as("rms_in"))
    implicit val s: SparkSession = spark
    import spark.implicits._
    def attempts = enriched.select(col("id"), col("outlier_check.is_valid").as("ok"),
      col("machine").as("payload"), unix_millis(col("ts")).as("atMillis")).as[Streaming.Attempt]
    def noop(df: => DataFrame): () => Unit = () => Harness.noop(df)
    val calls: Seq[(String, () => Unit)] = Seq(
      "operators.Enrich.pipeline_s" -> noop(Enrich.pipeline(batch, "signal", "ts", "status", SampleRateHz)),
      "operators.Enrich.outlierCheck_s" -> noop(batch.select(Enrich.outlierCheck(sig))),
      "operators.Enrich.features_s" -> noop(batch.select(Enrich.features(sig, SampleRateHz))),
      "operators.Enrich.qualityMetrics_s" -> noop(batch.select(Enrich.qualityMetrics(
        Seq(sig, col("ts"), col("status")), col("status") === "Good"))),
      "ml.Fft.dominant_freq_s" -> noop(batch.select(Fft.dominant_freq(sig, lit(SampleRateHz)))),
      "ml.Fft.spectral_energy_s" -> noop(batch.select(Fft.spectral_energy(sig))),
      "functions.Signal.arraySumSq_s" -> noop(batch.select(Signal.arraySumSq(sig))),
      "streaming.Streaming.windowedFeatures_s" -> noop(Streaming.windowedFeatures(
        valid, "ts", "machine", "rms_in", "1 minute", "5 minutes")),
      "streaming.Streaming.retryRouteBackoff_s" -> noop(Streaming.retryRouteBackoff(attempts).toDF()),
      "sink.lake.write_s" -> (() => enriched.withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("machine", "day").parquet(lakeDir)))
    calls.foreach { case (name, call) =>
      out(name) = try {
        call()
        val t0 = System.nanoTime()
        call()
        Harness.seconds(t0)
      } catch { case e: Throwable =>
        failures += s"$name threw ${Harness.message(e)}"; 0.0
      }
    }
    val files = parquetFiles(lakeDir)
    out("sink.lake.files") = files.size.toDouble
    out("sink.lake.bytes") = files.map(Files.size).sum.toDouble
    Layers.write(s"${o.work}/trace.json", spans)
    (out.toMap, calls.size)
  }
}
