package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** RocksDB checkpoint-restart soaks for the full stateful set
  * (VERDICT r13 #4). The StreamingSpec goldens and the T12-T16
  * differentials prove each operator's answer within ONE query run on
  * the default (HDFS-backed) provider; these prove the SAME state
  * survives a mid-stream stop + fresh-query restart under
  * RocksDBStateStoreProvider — the provider a 100 TB deployment runs,
  * where executor state outgrows the JVM heap. Every soak has one
  * shape: stop after the state is half-built, resume from the
  * checkpoint with a new query object, and require the final answer
  * bit-identical to an unrestarted reference run (or the batch twin).
  * Update-mode operators (T12 HLL registers, T15 space-saving) sink
  * via foreachBatch→parquet because the file sink is append-only and
  * the memory sink does not support recovery; append-mode operators
  * (T10 backoff retry, T13 as-of serve, T14 CUSUM) use the file sink
  * directly.
  */
class RocksDbSoakSpec extends SparkSpec {
  import spark.implicits._
  implicit val ss: org.apache.spark.sql.SparkSession = spark

  private def withRocksDB[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Append each micro-batch of an update-mode query to parquet.
    * processAllAvailable() before every stop ⇒ the last batch is
    * fully committed, so the restart never replays a batch into the
    * append sink.
    */
  private def toParquet[T](out: String): (org.apache.spark.sql.Dataset[T], Long) => Unit =
    (df, _) => df.write.mode("append").parquet(out)

  test("T10 restart soak: RocksDB backoff retry state survives a mid-stream checkpoint restart") {
    import Streaming.{Attempt, Routed}
    // the retry/DLQ leg Pipeline runs. Batch 1 leaves id=1 at 4
    // retries with due=15000 (plus one bounce) and id=2 at 1 retry
    // with due=1100; batch 2's verdicts (id=1's dead-letter, id=2's
    // bounce then success) exist only if that state crossed the restart
    val batch1 = Seq(0L, 1000L, 3000L, 7000L, 8000L).map(t =>
      Attempt(1, ok = false, s"f$t", t)) :+ Attempt(2, ok = false, "x", 100)
    val batch2 = Seq(Attempt(1, ok = false, "f15000", 15000),
      Attempt(2, ok = true, "ok1050", 1050),
      Attempt(2, ok = true, "ok1100", 1100))
    // unrestarted reference on the default provider (memory sink)
    val ref = {
      val in = MemoryStream[Attempt](spark)
      val q = Streaming.retryRouteBackoff(in.toDS())
        .writeStream.format("memory").queryName("t10soakref")
        .outputMode("append").start()
      try {
        in.addData(batch1); q.processAllAvailable()
        in.addData(batch2); q.processAllAvailable()
        spark.table("t10soakref").as[Routed].collect().toSet
      } finally q.stop()
    }
    assert(ref.exists(r => r.id == 1 && r.route == "dlq" && r.error_count == 5),
      s"fixture should dead-letter id=1 in batch 2: $ref")
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t10_soak_").toString
      val in = MemoryStream[Attempt](spark)
      def start() = Streaming.retryRouteBackoff(in.toDS())
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      val q1 = start()
      try { in.addData(batch1); q1.processAllAvailable() } finally q1.stop()
      // retry counts and due times now live ONLY in the RocksDB checkpoint
      val q2 = start()
      try { in.addData(batch2); q2.processAllAvailable() } finally q2.stop()
      val restarted = spark.read.parquet(s"$dir/out").as[Routed]
        .collect().toSet
      assert(restarted == ref,
        s"restart\\ref=${restarted -- ref}, ref\\restart=${ref -- restarted}")
    }
  }

  test("T12 restart soak: RocksDB per-key HLL register state survives a mid-stream checkpoint restart") {
    import Streaming.{KeyedValue, KeyRegs}
    import graft.functions.SketchAggregates.hll_registers
    val rows = Tables.events(spark, sf).filter($"user_id".isNotNull)
      .select(to_date($"ts").cast("string").as("key"),
        $"user_id".cast("string").as("value"))
      .as[KeyedValue].collect().toSeq
    assert(rows.size > 100, s"fixture too small: ${rows.size}")
    val (b1, b2) = rows.splitAt(rows.size / 2)
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t12_soak_").toString
      val in = MemoryStream[KeyedValue](spark)
      def start() = Streaming.streamingHllRegs(in.toDS(), 8)
        .writeStream.foreachBatch(toParquet[Streaming.KeyRegs](s"$dir/out"))
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("update").start()
      val q1 = start()
      try { in.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // register state now lives ONLY in the RocksDB checkpoint
      val q2 = start()
      try { in.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val streamed = spark.read.parquet(s"$dir/out").as[KeyRegs].collect()
        .groupBy(_.key).map { case (k, rs) =>
          k -> rs.maxBy(_.nUpdates).regs.toArray }
      val batch = rows.toDF("key", "value").groupBy($"key")
        .agg(hll_registers($"value", 8).as("regs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, regs) =>
        assert(regs.sameElements(batch(k)),
          s"day $k: restarted register file != batch aggregate")
      }
    }
  }

  test("T13 restart soak: RocksDB as-of serve state survives a mid-stream checkpoint restart") {
    import org.apache.spark.sql.expressions.Window
    import Streaming.{FeatEvent, Served}
    val tol = 3600000000L
    val e = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"),
        $"event_id", $"value")
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
    val rows = e.orderBy($"t", $"event_id").collect().map(r =>
      FeatEvent(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t13_soak_").toString
      val in = MemoryStream[FeatEvent](spark)
      def start() = Streaming.asofServe(in.toDS(), tol)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      val q1 = start()
      try { in.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // the per-user last-view feature state crosses the restart:
      // purchases in b2 must still see views that arrived in b1
      val q2 = start()
      try { in.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val restarted = spark.read.parquet(s"$dir/out").as[Served].collect()
        .map(s => (s.user, s.id, s.fresh, s.feature)).toSet
      assert(restarted.nonEmpty && restarted.exists(_._3) &&
        restarted.exists(!_._3),
        "expected both fresh and stale purchases in the fixture")
      assert(restarted == batch,
        s"restart\\batch=${(restarted -- batch).take(3)}, batch\\restart=${(batch -- restarted).take(3)}")
    }
  }

  test("T14 restart soak: RocksDB CUSUM evidence state survives a mid-stream checkpoint restart") {
    import Streaming.{CusumIn, CusumOut}
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
    def canon(s: Iterable[CusumOut]): Set[(String, Long, Double)] =
      s.map(o => (o.key, o.day,
        BigDecimal(o.s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).toSet
    // unrestarted reference on the default provider (memory sink)
    val ref = {
      val in = MemoryStream[CusumIn](spark)
      val q = Streaming.cusumAlerts(in.toDS())
        .writeStream.format("memory").queryName("t14soakref")
        .outputMode("append").start()
      try {
        in.addData(rows); q.processAllAvailable()
        canon(spark.table("t14soakref").as[CusumOut].collect())
      } finally q.stop()
    }
    assert(ref.nonEmpty, "fixture should raise at least one alert")
    val (b1, b2) = rows.splitAt(rows.size / 2)
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t14_soak_").toString
      val in = MemoryStream[CusumIn](spark)
      def start() = Streaming.cusumAlerts(in.toDS())
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("append").start()
      val q1 = start()
      try { in.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // accumulated one-sided evidence sums cross the restart: an
      // alert whose evidence straddles the split is lost if recovery
      // resets state
      val q2 = start()
      try { in.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val restarted =
        canon(spark.read.parquet(s"$dir/out").as[CusumOut].collect())
      assert(restarted == ref,
        s"restart\\ref=${(restarted -- ref).take(3)}, ref\\restart=${(ref -- restarted).take(3)}")
    }
  }

  test("T15 restart soak: RocksDB space-saving counter state survives a mid-stream checkpoint restart") {
    import Streaming.{SsIn, SsOut}
    val rows = Tables.events(spark, sf)
      .filter($"event_type".isNotNull && $"user_id".isNotNull)
      .select($"event_type".as("shard"),
        ($"user_id" % 20).cast("string").as("item"))
      .as[SsIn].collect().toSeq
    assert(rows.size > 100)
    val batch = rows.groupBy(r => (r.shard, r.item))
      .map { case (k, rs) => k -> rs.size.toLong }
    val (b1, b2) = rows.splitAt(rows.size / 2)
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t15_soak_").toString
      val in = MemoryStream[SsIn](spark)
      def start() = Streaming.spaceSavingTopK(in.toDS(), capacity = 64)
        .writeStream.foreachBatch(toParquet[Streaming.SsOut](s"$dir/out"))
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("update").start()
      val q1 = start()
      try { in.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // counter state (counts + error bounds) crosses the restart
      val q2 = start()
      try { in.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val restarted = spark.read.parquet(s"$dir/out").as[SsOut].collect()
        .groupBy(o => (o.shard, o.item))
        .map { case (k, os) =>
          val last = os.maxBy(_.count); k -> (last.count, last.err) }
      // capacity 64 ≥ 20 distinct items per shard → sketch is EXACT,
      // so the restarted run must reproduce the true counts with no
      // overestimate — any state loss undercounts, any replay inflates
      assert(restarted.keySet == batch.keySet)
      restarted.foreach { case (k, (c, e)) =>
        assert(e == 0L, s"$k: unexpected overestimate $e at full capacity")
        assert(c == batch(k), s"$k: $c != ${batch(k)}")
      }
    }
  }

  test("T16 restart soak: RocksDB complete-mode census state survives a mid-stream checkpoint restart") {
    import Streaming.DocRow
    // the one stateful shape T12-T15 don't cover (VERDICT r14 #6): a
    // COMPLETE-mode streaming aggregation, whose full grouped state —
    // per-source doc counts and the Gopher dup-bigram/trigram moment
    // sums — must be restored from the checkpoint, not just a per-key
    // delta. The oracled batch twin (q295) is the reference.
    val batch = SparkEntry.queries("q295_doc_repetition")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    val rows = Tables.documents(spark, sf)
      .select($"source", $"text").as[DocRow].collect().toSeq
    assert(rows.size > 100, s"fixture too small: ${rows.size}")
    val (b1, b2) = rows.splitAt(rows.size / 2)
    withRocksDB {
      val dir = Files.createTempDirectory("graft_t16_soak_").toString
      val in = MemoryStream[DocRow](spark)
      // complete mode emits the FULL census each batch — overwrite the
      // sink so the final batch's output is the answer (the file sink
      // is append-only and the memory sink does not support recovery)
      def start() = Streaming.repetitionCensus(in.toDF())
        .writeStream.foreachBatch(
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => df.write.mode("overwrite").parquet(s"$dir/out"))
        .option("checkpointLocation", s"$dir/cp")
        .outputMode("complete").start()
      val q1 = start()
      try { in.addData(b1); q1.processAllAvailable() } finally q1.stop()
      // the census sums over b1's docs live ONLY in the RocksDB
      // checkpoint now; a recovery that reset them would make the
      // final census count only b2
      val q2 = start()
      try { in.addData(b2); q2.processAllAvailable() } finally q2.stop()
      val restarted = spark.read.parquet(s"$dir/out")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
      assert(restarted.keySet == batch.keySet)
      restarted.foreach { case (src, got) =>
        assert(got == batch(src),
          s"source $src: restarted census $got != batch ${batch(src)}")
      }
    }
  }
}
