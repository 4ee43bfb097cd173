package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{Attempt, Routed}

/** Streaming semantics tests (SURVEY.md §2.7, T1-T8) driven by
  * MemoryStream / file sources with processAllAvailable — the §5.2
  * strategy.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val ss: org.apache.spark.sql.SparkSession = spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  case class Ev(ts: java.sql.Timestamp, machine: String, value: Double)
  case class EvN(ts: java.sql.Timestamp, machine: String, value: Option[Double])

  test("T2: tumbling window computes per-key features") {
    val in = MemoryStream[Ev](spark)
    val q = Streaming.windowedFeatures(in.toDF(), "ts", "machine", "value")
      .writeStream.format("memory").queryName("t2out")
      .outputMode("complete").start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:00:10"), "m1", 3.0),
        Ev(ts("2024-01-01 00:00:20"), "m1", 4.0),
        Ev(ts("2024-01-01 00:01:10"), "m1", 5.0))
      q.processAllAvailable()
      val rows = spark.table("t2out").collect()
      assert(rows.length == 2) // two 1-minute windows
      val w0 = rows.find(_.getLong(5) == 2).get
      assert(math.abs(w0.getDouble(2) - math.sqrt((9.0 + 16.0) / 2)) < 1e-9)
    } finally q.stop()
  }

  test("T3: rows later than the watermark are dropped") {
    val in = MemoryStream[Ev](spark)
    val agg = Streaming.windowedFeatures(in.toDF(), "ts", "machine", "value",
      watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("t3out")
      .outputMode("append").start()
    try {
      in.addData(Ev(ts("2024-01-01 01:00:00"), "m1", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      in.addData(Ev(ts("2024-01-01 02:00:00"), "m1", 2.0))
      q.processAllAvailable()
      // this event is hours late — must be dropped, not create a window
      in.addData(Ev(ts("2024-01-01 00:30:00"), "m1", 99.0))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 03:00:00"), "m1", 3.0))
      q.processAllAvailable()
      val windows = spark.table("t3out")
        .select(col("window.start").cast("string")).as[String].collect()
      assert(!windows.exists(_.contains("00:30")), s"late row leaked: ${windows.mkString(",")}")
    } finally q.stop()
  }

  test("T5: session window closes on gap") {
    val in = MemoryStream[Ev](spark)
    val q = Streaming.sessionCounts(in.toDF(), "ts", "machine", gap = "30 minutes")
      .writeStream.format("memory").queryName("t5out")
      .outputMode("complete").start()
    try {
      in.addData(
        Ev(ts("2024-01-01 00:00:00"), "m1", 1.0),
        Ev(ts("2024-01-01 00:10:00"), "m1", 1.0), // same session
        Ev(ts("2024-01-01 01:00:00"), "m1", 1.0)) // gap > 30min → new session
      q.processAllAvailable()
      val counts = spark.table("t5out").select($"n_events").as[Long].collect().sorted
      assert(counts.toList == List(1L, 2L))
    } finally q.stop()
  }

  test("T7: dropDuplicatesWithinWatermark removes stream dupes") {
    case class Msg(id: Long, ts: java.sql.Timestamp)
    val in = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val df = in.toDF().toDF("id", "ts")
    val q = Streaming.dedupWithinWatermark(df, "ts", Seq("id"))
      .writeStream.format("memory").queryName("t7out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 00:00:01")), (1L, ts("2024-01-01 00:00:02")),
        (2L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 00:00:04"))) // dup within watermark
      q.processAllAvailable()
      assert(spark.table("t7out").count() == 2)
    } finally q.stop()
  }

  test("T2 differential: AvailableNow file-source stream == batch twin on identical data") {
    // the SAME windowedFeatures DataFrame program, once under
    // Structured Streaming over the µs-normalized events parquet (file
    // source, Trigger.AvailableNow — drains everything then stops),
    // once in batch over the same files; results must agree row-for-row
    val dir = Tables.eventsPath(spark, sf)
    val sch = spark.read.parquet(dir).schema
    val cp = Files.createTempDirectory("graft_t2diff_cp_").toString
    val stream = spark.readStream.schema(sch).parquet(dir)
    val q = Streaming.windowedFeatures(stream, "ts", "event_type", "value")
      .writeStream.format("memory").queryName("t2diff")
      .outputMode("complete")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out") finally q.stop()
    // string canon: a 1-event window has NULL kurtosis (0/0 variance),
    // which Row.getDouble rejects — cast-to-string keeps NULL comparable
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String, String, Long)] =
      df.select(col("window.start").cast("string"), col("event_type"),
        round(col("rms"), 6).cast("string"), round(col("peak"), 6).cast("string"),
        round(col("kurtosis"), 6).cast("string"), col("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSet
    val streamed = canon(spark.table("t2diff"))
    val batch = canon(
      Streaming.windowedFeatures(Tables.events(spark, sf), "ts", "event_type", "value"))
    assert(streamed.nonEmpty, "stream produced no windows")
    assert(streamed == batch,
      s"stream\\batch=${(streamed -- batch).take(3)}, batch\\stream=${(batch -- streamed).take(3)}")
  }

  test("T5 differential: AvailableNow session windows == batch session windows") {
    // the SAME sessionCounts program (session_window is legal in both
    // execution modes) over the same parquet files — stream vs batch
    val dir = Tables.eventsPath(spark, sf)
    val sch = spark.read.parquet(dir).schema
    val cp = Files.createTempDirectory("graft_t5diff_cp_").toString
    val stream = spark.readStream.schema(sch).parquet(dir)
    val q = Streaming.sessionCounts(stream, "ts", "user_id")
      .writeStream.format("memory").queryName("t5diff")
      .outputMode("complete")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out") finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.select(col("session_window.start").cast("string"),
        col("user_id"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = canon(spark.table("t5diff"))
    val batch = canon(
      Streaming.sessionCounts(Tables.events(spark, sf), "ts", "user_id"))
    assert(streamed.nonEmpty, "stream produced no sessions")
    assert(streamed == batch,
      s"stream\\batch=${(streamed -- batch).take(3)}, batch\\stream=${(batch -- streamed).take(3)}")
  }

  test("T7 differential: streaming dedup over the file source == batch distinct") {
    // dropDuplicatesWithinWatermark on a drained AvailableNow stream
    // must keep exactly one row per event_id — same as batch distinct
    val dir = Tables.eventsPath(spark, sf)
    val sch = spark.read.parquet(dir).schema
    val cp = Files.createTempDirectory("graft_t7diff_cp_").toString
    val stream = spark.readStream.schema(sch).parquet(dir)
    val q = Streaming.dedupWithinWatermark(stream, "ts", Seq("event_id"))
      .writeStream.format("memory").queryName("t7diff")
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out") finally q.stop()
    val streamedIds = spark.table("t7diff")
      .select($"event_id").as[Long].collect().sorted
    val batchIds = Tables.events(spark, sf)
      .select($"event_id").distinct().as[Long].collect().sorted
    assert(streamedIds.nonEmpty)
    assert(streamedIds.sameElements(batchIds))
  }

  test("T6+ differential: watermarked stream-stream attribution join == batch q117 pairs") {
    // the q117 view→click attribution join run as a stream-stream
    // inner join (both sides watermarked, time-range condition bounds
    // the state) over the SAME files as the batch form; the joined
    // pair sets must be identical. Watermark is set far beyond the
    // data span so no cross-batch arrival order can drop a legitimate
    // pair — the differential isolates JOIN semantics, not lateness
    // (lateness drop is T3's test).
    val dir = Tables.eventsPath(spark, sf)
    val sch = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(sch).parquet(dir)
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter($"event_type" === "view").select($"user_id", $"ts"),
      df.filter($"event_type" === "click").select($"user_id", $"ts"))
    val (sv, sc) = split(stream)
    val joined = Streaming
      .streamStreamJoin(sv, sc, "user_id", "ts", "ts", 3600,
        watermark = "3650 days")
      .filter($"r_ts" > $"ts") // q117's strict view-before-click
      .select($"user_id", $"ts".as("vts"), $"r_ts".as("cts"))
    val cp = Files.createTempDirectory("graft_ssjdiff_cp_").toString
    val q = joined.writeStream.format("memory").queryName("ssjdiff")
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out") finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val streamed = canon(spark.table("ssjdiff"))
    val (bv, bc) = split(Tables.events(spark, sf))
    val batch = canon(bv.join(
        bc.select($"user_id".as("c_user"), $"ts".as("cts")),
        $"user_id" === $"c_user" && $"ts" < $"cts" &&
          $"cts" <= $"ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"ts".as("vts"), $"cts"))
    assert(streamed.nonEmpty, "stream-stream join produced no pairs")
    assert(streamed == batch,
      s"stream\\batch=${(streamed -- batch).take(3)}, batch\\stream=${(batch -- streamed).take(3)}")
  }

  test("X1b differential: streamed foreachBatch incremental dedup == batch q93") {
    // the daily-ingest dedup under Structured Streaming: incoming half
    // of `documents` arrives as an AvailableNow file stream, each
    // micro-batch LSH-probed + Levenshtein-verified against the static
    // corpus half via the SAME Dedup.lshVerifiedLookup the batch query
    // runs. sf0.01 (500 docs) so the expected pair set is non-empty.
    val d = "/root/testdata/sf0.01"
    val src = s"$d/documents.parquet"
    // the file source needs a DIRECTORY; stage the single-file table
    val dir = Files.createTempDirectory("graft_incdedup_in_")
    Files.copy(java.nio.file.Paths.get(src),
      dir.resolve("documents.parquet"))
    val sch = spark.read.parquet(src).schema
    val side = pmod(graft.functions.Text.md5Long(col("text")), lit(100L))
    val corpus = Tables.documents(spark, d).filter(side < 50)
    val stream = spark.readStream.schema(sch).parquet(dir.toString)
      .filter(side >= 50)
    val out = Files.createTempDirectory("graft_incdedup_out_").toString
    val cp = Files.createTempDirectory("graft_incdedup_cp_").toString
    val q = Streaming.incrementalDedup(stream, corpus, out, cp)
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    finally q.stop()
    val streamed = spark.read.parquet(out)
      .select($"in_id", $"ex_id", $"dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Queries4.q93(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty, "batch q93 found no pairs at sf0.01")
    assert(streamed == batch,
      s"stream\\batch=${(streamed -- batch).take(3)}, batch\\stream=${(batch -- streamed).take(3)}")
  }

  test("X38 differential: streamed foreachBatch CDC merge == batch q128") {
    // q128's derived change batch (updates for doc_id%50==0, inserts
    // past the corpus) arrives as an AvailableNow file stream in TWO
    // files (maxFilesPerTrigger=1 → two epochs), merged sequentially
    // into the base corpus; the final epoch state must equal the
    // all-at-once batch merge — latest-version-wins associativity
    // under real micro-batch execution.
    val d = "/root/testdata/sf0.01"
    val base = Tables.documents(spark, d)
      .select($"doc_id", $"text", lit(1L).as("version"))
    val updates = Tables.documents(spark, d)
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id", concat(lit("v2 "), $"text").as("text"),
        lit(2L).as("version"))
    val inserts = Tables.documents(spark, d)
      .filter($"doc_id" % 100 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat(lit("new "), $"text").as("text"), lit(2L).as("version"))
    val inDir = Files.createTempDirectory("graft_cdc_in_")
    updates.coalesce(1).write.parquet(inDir.resolve("f1").toString)
    inserts.coalesce(1).write.parquet(inDir.resolve("f2").toString)
    val sch = updates.schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(inDir.toString)
    val statePath = Files.createTempDirectory("graft_cdc_state_").toString
    val cp = Files.createTempDirectory("graft_cdc_cp_").toString
    val q = Streaming.cdcMergeUpsert(stream, base, statePath, cp)
    try assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    finally q.stop()
    val epochs = new java.io.File(statePath).listFiles()
      .map(_.getName.stripPrefix("epoch=").toLong)
    assert(epochs.length >= 2, s"expected >=2 epochs, got ${epochs.toSeq}")
    val streamed = spark.read.parquet(s"$statePath/epoch=${epochs.max}")
      .select($"doc_id", $"version", md5($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = Queries9.q128(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch,
      s"stream\\batch=${(streamed -- batch).take(3)}, batch\\stream=${(batch -- streamed).take(3)}")
  }

  test("T4/T8: retry state routes to DLQ after MaxRetries, success clears") {
    val in = MemoryStream[Attempt](spark)
    val q = Streaming.retryRoute(in.toDS())
      .writeStream.format("memory").queryName("t4out")
      .outputMode("append").start()
    try {
      // id=1 fails 5 times → dlq with error_count=5; id=2 fails twice then ok
      (1 to 4).foreach { i => in.addData(Attempt(1, ok = false, "p1", i)) }
      in.addData(Attempt(2, ok = false, "p2", 1))
      q.processAllAvailable()
      in.addData(Attempt(1, ok = false, "p1", 5))
      in.addData(Attempt(2, ok = false, "p2", 2))
      in.addData(Attempt(2, ok = true, "p2", 3))
      q.processAllAvailable()
      // id=1's 5th failure (the one that dead-letters) arrives in batch
      // 2, so this also pins that the retry count crosses batches
      val routed = spark.table("t4out").as[Routed].collect()
      assert(routed.toSet == Set(
        Routed(1, "dlq", 5, 5, "p1"),
        Routed(2, "processed", 2, 3, "p2")), routed.mkString(","))
      assert(routed.length == 2)
    } finally q.stop()
  }

  test("T8: foreachBatch DLQ fan-out writes both sinks with B6 contract") {
    val dir = Files.createTempDirectory("graft_dlq_").toString
    val in = MemoryStream[Ev](spark)
    val q = Streaming.routeToSinks(in.toDF(), col("value") >= 0,
      s"$dir/processed", s"$dir/dlq", s"$dir/cp")
    try {
      in.addData(Ev(ts("2024-01-01 00:00:00"), "m1", 5.0),
        Ev(ts("2024-01-01 00:00:01"), "m1", -1.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/processed").count() == 1)
      val dlq = spark.read.parquet(s"$dir/dlq")
      // epoch is the idempotent-write partition column
      assert(dlq.columns.toSet ==
        Set("original_message", "error_count", "last_error_time", "epoch"))
      val rec = dlq.head()
      assert(rec.getAs[String]("original_message").contains("-1.0"))
      assert(rec.getAs[Int]("error_count") == 1)
    } finally q.stop()
  }

  test("T4b: event-time timeout closes sessions and emits them") {
    import graft.streaming.Streaming.{Click, ClosedSession}
    val in = MemoryStream[Click](spark)
    val q = Streaming.timeoutSessions(in.toDS(), gapMillis = 60000L)
      .writeStream.format("memory").queryName("t4b_out")
      .outputMode("append").start()
    try {
      in.addData(Click(1, ts("2024-01-01 00:00:00")),
        Click(1, ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      assert(spark.table("t4b_out").count() == 0) // session still open
      // watermark jumps far ahead → session times out and closes
      in.addData(Click(2, ts("2024-01-01 05:00:00")))
      q.processAllAvailable()
      in.addData(Click(2, ts("2024-01-01 06:00:00")))
      q.processAllAvailable()
      val closed = spark.table("t4b_out").as[ClosedSession].collect()
      val s1 = closed.find(_.user == 1L)
      assert(s1.isDefined, s"user 1 session not closed: ${closed.mkString(",")}")
      assert(s1.get.n_events == 2)
      assert(s1.get.endMillis - s1.get.startMillis == 30000L)
    } finally q.stop()
  }

  test("T4b: a late straggler older than the open session closes alone") {
    import graft.streaming.Streaming.{Click, ClosedSession}
    val in = MemoryStream[Click](spark)
    // gap 2s, watermark 10s (from timeoutSessions)
    val q = Streaming.timeoutSessions(in.toDS(), gapMillis = 2000L)
      .writeStream.format("memory").queryName("t4d_out")
      .outputMode("append").start()
    try {
      in.addData(Click(1, ts("2024-01-01 00:01:40")),  // 100s
        Click(1, ts("2024-01-01 00:01:41")))           // 101s — one session
      q.processAllAvailable()
      // watermark is now 91s; 95s is late-but-valid and >2s before
      // session start → must close alone, not corrupt [100,101]
      in.addData(Click(1, ts("2024-01-01 00:01:35")))  // 95s
      q.processAllAvailable()
      in.addData(Click(1, ts("2024-01-01 00:05:00")))  // advance, time out [100,101]
      q.processAllAvailable()
      in.addData(Click(2, ts("2024-01-01 00:10:00")))  // push watermark further
      q.processAllAvailable()
      // three closed: the straggler alone, the [100,101] pair, and the
      // 00:05 single (timed out once user 2 advanced the watermark)
      val closed = spark.table("t4d_out").as[ClosedSession]
        .collect().filter(_.user == 1L).sortBy(_.startMillis)
      assert(closed.length == 3, s"got ${closed.mkString(",")}")
      assert(closed(0).n_events == 1 &&
        closed(0).startMillis == closed(0).endMillis) // the straggler
      assert(closed(1).n_events == 2 &&
        closed(1).endMillis - closed(1).startMillis == 1000L)
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound, bounded state") {
    val imps = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val l = imps.toDF().toDF("ad", "its")
    val r = clicks.toDF().toDF("ad", "cts") // natural names; auto-prefixed
    val joined = Streaming.streamStreamJoin(
      l, r, "ad", "its", "cts", withinSec = 60)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:01:00")))
      clicks.addData(
        (1L, ts("2024-01-01 00:00:30")),  // within 60s of imp 1 → match
        (2L, ts("2024-01-01 00:05:00")))  // 4 min after imp 2 → no match
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(0) == 1L)
    } finally q.stop()
  }

  test("T8: NULL validity routes to DLQ instead of vanishing") {
    val dir = Files.createTempDirectory("graft_dlq_null_").toString
    val in = MemoryStream[EvN](spark)
    val q = Streaming.routeToSinks(in.toDF(), col("value") >= 0,
      s"$dir/processed", s"$dir/dlq", s"$dir/cp")
    try {
      in.addData(EvN(ts("2024-01-01 00:00:00"), "m1", Some(5.0)),
        EvN(ts("2024-01-01 00:00:01"), "m1", None)) // NULL predicate
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/processed").count() == 1)
      assert(spark.read.parquet(s"$dir/dlq").count() == 1) // not lost
    } finally q.stop()
  }

  test("T4: attempts after a terminal event in the same batch are not lost") {
    val in = MemoryStream[Attempt](spark)
    val q = Streaming.retryRoute(in.toDS())
      .writeStream.format("memory").queryName("t4c_out")
      .outputMode("append").start()
    try {
      // success then a failure in ONE batch: failure opens a new cycle
      in.addData(Attempt(9, ok = true, "p", 1), Attempt(9, ok = false, "p", 2))
      q.processAllAvailable()
      // 4 more failures → the post-success failure counts toward DLQ
      (3 to 6).foreach(i => in.addData(Attempt(9, ok = false, "p", i)))
      q.processAllAvailable()
      val routed = spark.table("t4c_out").as[Routed].collect()
      assert(routed.count(_.route == "processed") == 1)
      val dlq = routed.filter(_.route == "dlq")
      assert(dlq.length == 1 && dlq.head.error_count == 5)
    } finally q.stop()
  }

  test("T4c: backoff schedule — premature attempts bounce, due attempts fold") {
    import Streaming.{foldAttemptsBackoff, BackoffState}
    // base 1000: fail@0 schedules due=1000 (bounce @500), fail@1000
    // schedules due=3000 (bounce the @2000 success), success@3000 lands
    val script = Seq(
      Attempt(1, ok = false, "f0", 0),
      Attempt(1, ok = false, "f500", 500),
      Attempt(1, ok = false, "f1000", 1000),
      Attempt(1, ok = true, "ok2000", 2000),
      Attempt(1, ok = true, "ok3000", 3000))
    val (out, st) = foldAttemptsBackoff(1, script, BackoffState(0, 0L))
    assert(out.map(r => (r.route, r.payload, r.error_count, r.last_error_millis)) == Seq(
      ("retry", "f500", 1, 1000L),      // before due=1000: bounced, hint=due
      ("retry", "ok2000", 2, 3000L),    // before due=3000 after 2nd failure
      ("processed", "ok3000", 2, 3000L)))
    assert(st == BackoffState(0, 0L))   // success cleared the schedule
    // the 5th DUE failure dead-letters exactly as the plain machine:
    // fails at 0, +1s, +2s, +4s, +8s — each exactly at its due time
    val fails = Seq(0L, 1000L, 3000L, 7000L, 15000L).zipWithIndex.map {
      case (t, i) => Attempt(2, ok = false, s"f$i", t) }
    val (out2, st2) = foldAttemptsBackoff(2, fails, BackoffState(0, 0L))
    assert(out2.map(_.route) == Seq("dlq") && out2.head.error_count == 5)
    assert(st2 == BackoffState(0, 0L))
  }

  test("T4c: bounce livelock bound — MaxBounces premature redeliveries dead-letter") {
    import Streaming.{foldAttemptsBackoff, BackoffState, MaxBounces}
    // one failure schedules due=1000; every redelivery arrives before
    // it (the poison-message shape: upstream redelivery delay shorter
    // than the backoff schedule) — without the bound this loops on
    // "retry" forever, never consuming a retry credit
    val fail = Attempt(9, ok = false, "f0", 0)
    val premature = (1 to MaxBounces).map(i =>
      Attempt(9, ok = false, s"p$i", i.toLong))
    val (out, st) = foldAttemptsBackoff(9, fail +: premature,
      BackoffState(0, 0L))
    assert(out.count(_.route == "retry") == MaxBounces - 1)
    assert(out.count(_.route == "dlq") == 1)
    assert(out.last.route == "dlq")
    assert(out.last.last_error_millis == 1000L,
      "dead-lettered bounce keeps the due-time hint")
    assert(st == BackoffState(0, 0L), "dead-letter clears the schedule")
    // an ON-TIME attempt resets the bounce count — only CONSECUTIVE
    // premature redeliveries accumulate toward the bound
    val (_, st2) = foldAttemptsBackoff(9, Seq(
      Attempt(9, ok = false, "a", 0),     // due=1000
      Attempt(9, ok = false, "b", 500),   // bounce 1
      Attempt(9, ok = false, "c", 1000)), // on-time: retries=2, due=3000
      BackoffState(0, 0L))
    assert(st2 == BackoffState(2, 3000L, 0))
  }

  test("T4c golden: backoff retry state carries the due time across batches") {
    val in = MemoryStream[Attempt](spark)
    val q = Streaming.retryRouteBackoff(in.toDS()).writeStream.format("memory")
      .queryName("t4c_golden").outputMode("append").start()
    try {
      // batch 1: fail@0 schedules due=1000; the failure @400 and the
      // success @900 arrive before it and bounce
      in.addData(Attempt(1, ok = false, "a", 0),
        Attempt(1, ok = false, "b", 400),
        Attempt(1, ok = true, "c", 900))
      q.processAllAvailable()
      // batch 2: the due time from batch 1 still holds — @950 bounces,
      // @1000 lands; id 2 fails @100 (due=1100) and lands @1100
      in.addData(Attempt(1, ok = true, "d", 950),
        Attempt(1, ok = true, "e", 1000),
        Attempt(2, ok = false, "x", 100),
        Attempt(2, ok = true, "y", 1100))
      q.processAllAvailable()
      val routed = spark.table("t4c_golden").as[Routed].collect().toSeq
        .sortBy(r => (r.id, r.last_error_millis, r.payload))
      assert(routed == Seq(
        Routed(1, "retry", 1, 1000, "b"),
        Routed(1, "retry", 1, 1000, "c"),
        Routed(1, "retry", 1, 1000, "d"),
        Routed(1, "processed", 1, 1000, "e"),
        Routed(2, "processed", 1, 1100, "y")), routed.mkString(","))
    } finally q.stop()
  }

  test("T1: checkpointed file pipeline is exactly-once across restart") {
    val dir = Files.createTempDirectory("graft_eo_").toString
    val src = s"$dir/src"; val out = s"$dir/out"; val cp = s"$dir/cp"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = Streaming.runToParquet(stream, out, cp)
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() == 2)
    // restart with no new data → nothing reprocessed
    run()
    assert(spark.read.parquet(out).count() == 2)
    // add one file, restart → only the new rows appended
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(out).count() == 3)
    assert(spark.read.parquet(out).select(sum($"id")).head().getLong(0) == 6L)
  }

  test("T12: streaming per-key HLL register state is bit-identical to the batch aggregate after arbitrary batch splits") {
    import graft.streaming.Streaming.{KeyedValue, KeyRegs}
    import graft.functions.SketchAggregates.hll_registers
    // real per-day audience rows from the events table, split into 3
    // uneven micro-batches (including a key spanning all three) — the
    // incremental state must equal hll_registers over the union
    val rows = Tables.events(spark, sf).filter($"user_id".isNotNull)
      .select(to_date($"ts").cast("string").as("key"),
        $"user_id".cast("string").as("value"))
      .as[KeyedValue].collect().toSeq
    assert(rows.size > 100, s"fixture too small: ${rows.size}")
    val in = MemoryStream[KeyedValue](spark)
    val q = graft.streaming.Streaming.streamingHllRegs(in.toDS(), 8)
      .writeStream.format("memory").queryName("t12regs")
      .outputMode("update").start()
    try {
      val (b1, rest) = rows.splitAt(rows.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
      // final state per key = the row with the highest update count
      val streamed = spark.table("t12regs").as[KeyRegs].collect()
        .groupBy(_.key).map { case (k, rs) =>
          k -> rs.maxBy(_.nUpdates).regs.toArray }
      val batch = rows.toDF("key", "value").groupBy($"key")
        .agg(hll_registers($"value", 8).as("regs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, regs) =>
        assert(regs.sameElements(batch(k)),
          s"day $k: streamed register file != batch aggregate")
      }
    } finally q.stop()
  }

  test("T14 differential: streaming CUSUM == q229 batch alerts under any batch split") {
    import Streaming.{CusumIn, CusumOut}
    // batch twin: q229's (event_type, day, cusum) alert set
    val batch = SparkEntry.queries("q229_cusum_alerts")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"),
        r.getAs[Double]("cusum"))).toSet
    // same daily series + the SAME calibrated (mu, sd) riding each row
    val daily = Tables.events(spark, sf)
      .filter($"event_type".isNotNull)
      .groupBy($"event_type", expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val params = daily.groupBy($"event_type")
      .agg((sum($"x") / count(lit(1))).as("mu"),
        sqrt(sum($"x" * $"x") / count(lit(1)) -
          (sum($"x") / count(lit(1))) * (sum($"x") / count(lit(1))))
          .as("sd"))
    val rows = daily.join(params, Seq("event_type"))
      .orderBy($"day", $"event_type").collect().map(r =>
        CusumIn(r.getAs[String]("event_type"), r.getAs[Long]("day"),
          r.getAs[Double]("x"), r.getAs[Double]("mu"),
          r.getAs[Double]("sd"))).toSeq
    def run(name: String, nSplits: Int): Set[(String, Long, Double)] = {
      val in = MemoryStream[CusumIn](spark)
      val q = Streaming.cusumAlerts(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val size = math.max(1, rows.size / nSplits)
        rows.grouped(size).foreach { chunk =>
          in.addData(chunk); q.processAllAvailable()
        }
        spark.table(name).as[CusumOut].collect()
          .map(o => (o.key, o.day,
            BigDecimal(o.s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)).toSet
      } finally q.stop()
    }
    val one = run("t14one", 1)
    val four = run("t14four", 4)
    assert(batch.nonEmpty, "fixture should raise at least one alert")
    assert(one == batch,
      s"stream\\batch=${(one -- batch).take(3)}, batch\\stream=${(batch -- one).take(3)}")
    assert(four == batch, "batch-split invariance violated")
    // out-of-order guard: replaying the whole series changes nothing
    val in = MemoryStream[CusumIn](spark)
    val q = Streaming.cusumAlerts(in.toDS())
      .writeStream.format("memory").queryName("t14replay")
      .outputMode("append").start()
    try {
      in.addData(rows); q.processAllAvailable()
      in.addData(rows); q.processAllAvailable()
      val replay = spark.table("t14replay").as[CusumOut].collect()
        .map(o => (o.key, o.day,
          BigDecimal(o.s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)).toSet
      assert(replay == batch, "duplicate replay double-counted evidence")
    } finally q.stop()
  }

  test("T13 differential: streaming as-of serve == batch ROWS-frame under any batch split") {
    import org.apache.spark.sql.expressions.Window
    import Streaming.{FeatEvent, Served}
    val tol = 3600000000L
    val e = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"),
        $"event_id", $"value")
    // the q196 core: prior-view carry over a (t, id)-ordered ROWS frame
    val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val batch = e
      .withColumn("lv_t",
        last(when($"event_type" === "view", $"t"), true).over(w))
      .withColumn("lv_val",
        last(when($"event_type" === "view", $"value"), true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("fresh", $"lv_t".isNotNull && $"t" - $"lv_t" <= tol)
      .select($"user_id", $"event_id", $"fresh",
        when($"fresh", $"lv_val").as("feature"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // feed the SAME rows in global event-time order, split differently
    val rows = e.orderBy($"t", $"event_id").collect().map(r =>
      FeatEvent(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    def run(name: String, nSplits: Int): Set[(Long, Long, Boolean, Option[Double])] = {
      val in = MemoryStream[FeatEvent](spark)
      val q = Streaming.asofServe(in.toDS(), tol)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val size = math.max(1, rows.size / nSplits)
        rows.grouped(size).foreach { chunk =>
          in.addData(chunk); q.processAllAvailable()
        }
        spark.table(name).as[Served].collect()
          .map(s => (s.user, s.id, s.fresh, s.feature)).toSet
      } finally q.stop()
    }
    val one = run("t13one", 1)
    val five = run("t13five", 5)
    assert(one.nonEmpty && one.exists(_._3) && one.exists(!_._3),
      "expected both fresh and stale purchases in the fixture")
    assert(one == batch,
      s"stream\\batch=${(one -- batch).take(3)}, batch\\stream=${(batch -- one).take(3)}")
    assert(five == batch, "batch-split invariance violated")
  }

  test("T15 differential: space-saving at full capacity == batch counts under any batch split") {
    import Streaming.{SsIn, SsOut}
    val rows = Tables.events(spark, sf)
      .filter($"event_type".isNotNull && $"user_id".isNotNull)
      .select($"event_type".as("shard"),
        ($"user_id" % 20).cast("string").as("item"))
      .as[SsIn].collect().toSeq
    assert(rows.size > 100)
    val batch = rows.groupBy(r => (r.shard, r.item))
      .map { case (k, rs) => k -> rs.size.toLong }
    def run(name: String, nSplits: Int): Map[(String, String), (Long, Long)] = {
      val in = MemoryStream[SsIn](spark)
      val q = Streaming.spaceSavingTopK(in.toDS(), capacity = 64)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        val chunks = rows.grouped(
          math.max(1, rows.size / nSplits)).toSeq
        chunks.foreach { c => in.addData(c); q.processAllAvailable() }
        // final state per (shard, item) = the max count ever emitted
        spark.table(name).as[SsOut].collect()
          .groupBy(o => (o.shard, o.item))
          .map { case (k, os) =>
            val last = os.maxBy(_.count); k -> (last.count, last.err) }
      } finally q.stop()
    }
    val one = run("t15one", 1)
    val four = run("t15four", 4)
    // capacity 64 ≥ 20 distinct items per shard → sketch is EXACT
    assert(one.keySet == batch.keySet)
    one.foreach { case (k, (c, e)) =>
      assert(e == 0L, s"$k: unexpected overestimate $e at full capacity")
      assert(c == batch(k), s"$k: $c != ${batch(k)}")
    }
    assert(four == one, "batch-split invariance violated")
  }

  test("T15 bounds: capacity-constrained counts bracket the truth and track the heavy item") {
    import Streaming.{SsIn, SsOut}
    // 60% of the stream is item H; capacity 3 over 11 items
    val items = (1 to 200).map(i =>
      SsIn("s", if (i % 5 <= 2) "H" else s"i${i % 10}"))
    val truth = items.groupBy(_.item).map { case (k, v) => k -> v.size.toLong }
    val in = MemoryStream[SsIn](spark)
    val q = Streaming.spaceSavingTopK(in.toDS(), capacity = 3)
      .writeStream.format("memory").queryName("t15cap")
      .outputMode("update").start()
    try {
      in.addData(items); q.processAllAvailable()
      val state = spark.table("t15cap").as[SsOut].collect()
        .groupBy(_.item).map { case (k, os) => k -> os.maxBy(_.count) }
      assert(state.size <= 3)
      // the guaranteed heavy hitter (freq > N/capacity) is tracked
      assert(state.contains("H"), s"heavy item evicted: ${state.keys}")
      state.values.foreach { o =>
        val t = truth.getOrElse(o.item, 0L)
        assert(o.count >= t && o.count - o.err <= t,
          s"${o.item}: count=${o.count} err=${o.err} truth=$t")
      }
    } finally q.stop()
  }

  test("T16 differential: streaming repetition census == q295 batch under any batch split") {
    import Streaming.DocRow
    // the oracled batch twin, keyed by source
    val batch = SparkEntry.queries("q295_doc_repetition")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    val rows = Tables.documents(spark, sf)
      .select($"source", $"text").as[DocRow].collect().toSeq
    assert(rows.size > 100, s"fixture too small: ${rows.size}")
    val in = MemoryStream[DocRow](spark)
    // complete mode: the census state IS the answer after the last batch
    val q = Streaming.repetitionCensus(in.toDF())
      .writeStream.format("memory").queryName("t16rep")
      .outputMode("complete").start()
    try {
      val (b1, rest) = rows.splitAt(rows.size / 4)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
      val streamed = spark.table("t16rep")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (src, got) =>
        assert(got == batch(src),
          s"source $src: streamed census $got != batch ${batch(src)}")
      }
    } finally q.stop()
  }
}
