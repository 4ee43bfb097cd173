package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** One closed-loop client over a fixed panel of `SparkEntry.queries`:
  * an untimed warm-up at the small scale, then one cold pass at the
  * target scale (every session-cache key for it still empty), then warm
  * passes until `seconds` have passed. The seed sets the panel order.
  * Every execution is timed on a noop write, which consumes every output
  * column. Results are dumped after the timed region for the DuckDB
  * oracle check the launcher runs.
  */
object QuerySession {
  /** The panel: the open ROADMAP items the query surface carries (the
    * ScaleRank probe, the worst cold offender, the LSH session stages, an
    * audit). NOTES.md lists what was left out and why.
    */
  val Panel: Seq[String] = Seq(
    "q70_tfidf", "q46_minhash_lsh_pairs", "q62_dedup_clusters",
    "q242_rfm_segments", "q270_hits_authorities")

  final case class Exec(name: String, buildS: Double, actionS: Double, error: Option[Throwable]) {
    def totalS: Double = buildS + actionS
  }

  /** Build the query, then run it into a noop sink. A traced execution
    * records query → build / action spans and tags their jobs.
    */
  def exec(spark: SparkSession, name: String, dir: String, tracer: Option[Tracer],
      parent: Long): Exec = {
    def span[T](p: Long, n: String)(body: Long => T): T = tracer match {
      case Some(t) => t.spans.time(p, n)(id => SpanProperty.under(spark, id)(body(id)))
      case None => body(0L)
    }
    var buildS = 0.0
    var actionS = 0.0
    try span(parent, name) { q =>
      val t0 = System.nanoTime()
      val df = span(q, "build")(_ => SparkEntry.queries(name)(spark, dir))
      buildS = Harness.seconds(t0)
      val t1 = System.nanoTime()
      span(q, "action")(_ => Harness.noop(df))
      actionS = Harness.seconds(t1)
      Exec(name, buildS, actionS, None)
    } catch { case e: Throwable => Exec(name, buildS, actionS, Some(e)) }
  }

  def storageBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  def run(o: Opts): RunResult = {
    val sfDir = s"${o.data}/sf"
    val warmDir = s"${o.data}/warm"
    val panel = new scala.util.Random(o.seed).shuffle(Panel)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    val (spark, setupS) = Harness.setUp(o) { (s, _) =>
      panel.foreach { n =>
        attempted += 1
        exec(s, n, warmDir, None, 0L).error.foreach(e =>
          failures += s"$n (warm-up) threw ${Harness.message(e)}")
      }
    }
    val listenersBefore = Tracer.listenerCount(spark)
    val tracer = Tracer.attach(spark, o.trace)

    // ---- timed region
    Harness.resetPeakHeap()
    val pinnedBefore = storageBytes(spark)
    def pass(label: String, traced: Boolean): Seq[Exec] = {
      val r = tracer.filter(_ => traced) match {
        case Some(t) => t.pass(label)(id => panel.map(n => exec(spark, n, sfDir, Some(t), id)))
        case None => panel.map(n => exec(spark, n, sfDir, None, 0L))
      }
      Harness.log(s"$label (traced=$traced) took ${r.map(_.totalS).sum} s")
      r
    }
    val t0 = System.nanoTime()
    val cold = pass("cold pass", tracer.isDefined)
    val pinned = storageBytes(spark) - pinnedBefore
    val warm = ArrayBuffer.empty[(Seq[Exec], Boolean)]
    while (warm.size < Harness.minPasses(o) || Harness.seconds(t0) < o.seconds) {
      val traced = tracer.isDefined && warm.size % 2 == 1
      warm += pass(s"warm pass ${warm.size}", traced) -> traced
    }
    val peak = Harness.peakHeapMb
    // ---- end of timed region

    val listenersAdded = Tracer.listenerCount(spark) - listenersBefore
    val all = cold ++ warm.flatMap(_._1)
    attempted += all.size
    all.foreach(x => x.error.foreach(e => failures += s"${x.name} threw ${Harness.message(e)}"))

    // results and oracle SQL for the oracle check, outside the timed
    // region, in the layout tools/check_oracle.py reads
    val results = s"${o.work}/results"
    panel.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").parquet(s"$results/$n")
      catch { case e: Throwable => failures += s"$n (result dump) threw ${Harness.message(e)}" }
    }
    Files.write(Paths.get(s"$results/oracle_sql.json"), Json(panel.map(n =>
      n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap).getBytes(StandardCharsets.UTF_8))

    val warmByQuery = warm.flatMap(_._1).groupBy(_.name)
    val samples = Map[String, Any](
      "panel" -> panel,
      "cold_s" -> cold.map(x => x.name -> x.totalS).toMap,
      "warm_s" -> warmByQuery.map { case (n, xs) => n -> xs.map(_.totalS) },
      "executions" -> all.map(_.name).groupBy(identity).map { case (n, xs) => n -> xs.size })
    val layers = tracer.map { t =>
      val out = LinkedHashMap.empty[String, Double]
      val traced = Seq(cold) ++ warm.filter(_._2).map(_._1)
      val n = traced.size.toDouble
      val spans = t.linkedSpans(o.workload)
      val stepIds = spans.filter(s => s.name == "build" || s.name == "action").map(_.id).toSet
      out ++= Layers.engine(t, traced.map(_.map(_.totalS).sum).sum, o.cpus, n)
      out("driver.outside_jobs_ms") = Tracer.outsideJobsUs(spans, stepIds) / 1000.0 / n
      out("query.build_ms") = traced.map(_.map(_.buildS).sum).sum * 1000.0 / n
      out("query.action_ms") = traced.map(_.map(_.actionS).sum).sum * 1000.0 / n
      out("session_stages.pinned_bytes") = pinned
      cold.foreach(x => out(s"query.${x.name}.cold_s") = x.totalS)
      warmByQuery.foreach { case (q, xs) => out(s"query.$q.warm_s") = Harness.median(xs.map(_.totalS).toSeq) }
      out ++= Layers.traceOverhead(warm.filterNot(_._2).map(_._1.map(_.totalS).sum).toSeq,
        warm.filter(_._2).map(_._1.map(_.totalS).sum).toSeq)
      Layers.write(s"${o.work}/trace.json", spans)
      out.toMap
    }.getOrElse(Map.empty[String, Double])
    RunResult(setupS, attempted, failures.toSeq, peak, listenersAdded, samples, layers)
  }
}
