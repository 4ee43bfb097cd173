package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Signal, Text}
import graft.operators.Dedup

/** Scalacheck-generator property suites (SURVEY.md §5.2 #3), drawn
  * with a fixed seed so runs are deterministic. (scalatestplus is not
  * in the offline cache, so Gen is driven directly.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def draws[T](g: Gen[T], n: Int, seed0: Long): Seq[T] = {
    var seed = Seed(seed0)
    (1 to n).flatMap { _ =>
      val v = g.apply(params, seed); seed = seed.next; v
    }
  }

  private val signalGen: Gen[List[Double]] =
    Gen.chooseNum(2, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e4, 1e4)))

  test("property: rms/peak invariants on arbitrary signals") {
    draws(signalGen, 15, 42L).filter(_.exists(_ != 0.0)).foreach { xs =>
      val row = Seq(xs).toDF("a").select(
        Signal.arrayRms($"a"), Signal.arrayPeak($"a")).head()
      val (rms, peak) = (row.getDouble(0), row.getDouble(1))
      assert(rms >= 0 && peak >= 0, s"negative on $xs")
      assert(rms <= peak + 1e-9, s"rms > peak on $xs")
      assert(peak <= rms * math.sqrt(xs.length.toDouble) + 1e-9,
        s"peak > rms*sqrt(n) on $xs")
    }
  }

  test("property: kurtosis shift invariance (array form)") {
    draws(signalGen, 10, 7L)
      .filter(xs => xs.length >= 4 && xs.distinct.length > 1).foreach { xs =>
        val k0 = Seq(xs).toDF("a").select(Signal.arrayKurtosis($"a"))
          .head().getDouble(0)
        val k1 = Seq(xs.map(_ + 123.0)).toDF("a")
          .select(Signal.arrayKurtosis($"a")).head().getDouble(0)
        if (!k0.isNaN && !k1.isNaN && math.abs(k0) < 1e6)
          assert(math.abs(k0 - k1) < 1e-3 * math.max(1.0, math.abs(k0)),
            s"kurtosis not shift-invariant on $xs: $k0 vs $k1")
      }
  }

  test("property: exact dedup is idempotent and count-preserving") {
    val textGen = Gen.listOfN(30, Gen.oneOf("a b c", "d e f", "g h i", "j k l"))
    draws(textGen, 5, 11L).filter(_.nonEmpty).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.exact(df, $"text", $"doc_id")
      assert(once.agg(sum($"n_copies")).head().getLong(0) == texts.length)
      val reps = once.select($"keep_id".as("doc_id")).join(df, "doc_id")
      val twice = Dedup.exact(reps, $"text", $"doc_id")
      assert(twice.count() == once.count())
      assert(twice.agg(max($"n_copies")).head().getLong(0) == 1L)
    }
  }

  test("property: union of a disjoint split is the identity (U1/P5)") {
    val e = Tables.events(spark, sf)
    val a = e.filter($"value" > 100); val b = e.filter($"value" <= 100)
    assert(a.unionByName(b).count() == e.filter($"value".isNotNull).count())
  }

  test("property: minhash signature minima are monotone under union") {
    // sig(A ∪ B)[i] <= min(sig(A)[i], sig(B)[i]) — the minhash axiom
    val ta = "a b c d e"; val tb = "f g h i j"
    val df = Seq(ta, tb, s"$ta $tb").toDF("t")
    val sigs = df.select(Text.minhashSignature(Text.shingles($"t", 2), 4))
      .collect().map(_.getSeq[Long](0))
    (0 until 4).foreach { i =>
      assert(sigs(2)(i) <= math.min(sigs(0)(i), sigs(1)(i)))
    }
  }

  test("property: connectedComponents is invariant to edge direction and duplication") {
    val edges = Seq((5L, 2L), (2L, 9L), (7L, 8L)).toDF("a_id", "b_id")
    val base = Dedup.connectedComponents(edges, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // flipped + duplicated edge list → identical clustering
    val messy = edges.select($"b_id".as("a_id"), $"a_id".as("b_id"))
      .unionByName(edges).unionByName(edges)
    val same = Dedup.connectedComponents(messy, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == same)
    // every label is the min member of its component
    base.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
  }

  test("property: q68 EWMA stays within each user's value range") {
    val out = Queries2.q68(spark, sf)
      .groupBy($"user_id")
      .agg(min($"ewma").as("mne"), max($"ewma").as("mxe"),
        min($"value").as("mnv"), max($"value").as("mxv"))
      .collect()
    out.foreach { r =>
      assert(r.getDouble(1) >= r.getDouble(3) - 1e-6,
        s"ewma min below value min for user ${r.getLong(0)}")
      assert(r.getDouble(2) <= r.getDouble(4) + 1e-6,
        s"ewma max above value max for user ${r.getLong(0)}")
    }
    assert(out.nonEmpty)
  }

  test("property: q69 gap fill covers at least the observed slots") {
    val rows = Queries2.q69(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (slots, obs) = (r.getLong(1), r.getLong(2))
      assert(obs >= 1 && slots >= obs,
        s"user ${r.getLong(0)}: slots=$slots observed=$obs")
    }
  }

  test("property: q75 histogram partitions all rows into buckets 0..19") {
    val rows = Queries2.q75(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ==
      Tables.events(spark, sf).filter($"value".isNotNull).count())
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 19))
  }

  test("property: q67/q70 per-group ranks are 1..3 with valid scores") {
    val knn = Queries2.q67(spark, sf).collect()
    assert(knn.nonEmpty)
    knn.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 3)
      val c = r.getDouble(3); assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
    val tfidf = Queries2.q70(spark, sf).collect()
    assert(tfidf.nonEmpty)
    tfidf.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 3)
      assert(r.getDouble(3) >= 0.0, s"negative tfidf: $r")
    }
  }

  test("sketches: approx_count_distinct within rsd, percentile_approx sane") {
    val e = Tables.events(spark, sf)
    val row = e.agg(
      countDistinct($"user_id").as("exact"),
      approx_count_distinct($"user_id", 0.05).as("approx"),
      percentile_approx($"value", lit(0.5), lit(1000)).as("p50"),
      expr("percentile_approx(value, 0.99, 1000)").as("p99")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.15,
      s"HLL too far off: $approx vs $exact")
    val (p50, p99) = (row.getDouble(2), row.getDouble(3))
    assert(p50 > 0 && p50 < p99)
  }

  test("property: backoff retry fold is batch-split invariant at time boundaries") {
    import graft.streaming.Streaming
    import graft.streaming.Streaming.{Attempt, BackoffState}
    // the micro-batch contract: folding a time-ordered attempt stream
    // in ONE batch must equal folding it as TWO batches with the state
    // carried across the cut — for EVERY cut point. This is what makes
    // the streaming operator's routing independent of how the source
    // happens to batch the events.
    val attemptGen: Gen[List[Attempt]] = for {
      n <- Gen.chooseNum(1, 24)
      oks <- Gen.listOfN(n, Gen.oneOf(true, false, false))
      gaps <- Gen.listOfN(n, Gen.chooseNum(0L, 2500L))
    } yield {
      var t = 0L
      oks.zip(gaps).zipWithIndex.map { case ((ok, g), i) =>
        t += g; Attempt(1L, ok, s"p$i", t)
      }
    }
    // cuts at STRICT time boundaries only: a cut separating two
    // equal-timestamp attempts changes which side of the tie folds
    // first — the documented cross-batch reordering limitation (full
    // event-time reconciliation would need watermark buffering, see
    // the foldAttempts scaladoc). At strict boundaries the per-batch
    // sorts compose into the whole-batch sort, so routing, emission
    // order AND carried state must all be identical.
    draws(attemptGen, 25, 606L).foreach { script =>
      val whole = Streaming.foldAttemptsBackoff(1L, script,
        BackoffState(0, 0L))
      (0 to script.length)
        .filter(cut => cut == 0 || cut == script.length ||
          script(cut - 1).atMillis != script(cut).atMillis)
        .foreach { cut =>
          val (b1, b2) = script.splitAt(cut)
          val (out1, st1) = Streaming.foldAttemptsBackoff(1L, b1,
            BackoffState(0, 0L))
          val (out2, st2) = Streaming.foldAttemptsBackoff(1L, b2, st1)
          assert((out1 ++ out2, st2) == whole,
            s"cut=$cut diverged for $script")
        }
    }
  }

  test("property: HllEstimate is partitioning-invariant (merge associativity)") {
    import graft.functions.SketchAggregates.hll_estimate
    // the SAME rows split 1 / 7 / 32 ways must produce bit-identical
    // estimates: update order varies per partitioning, merge tree
    // varies with partition count — only a commutative/associative
    // (buffer, merge) pair survives this unchanged
    val e = Tables.events(spark, sf).select($"event_type",
      $"user_id".cast("string").as("u"))
    val ests = Seq(1, 7, 32).map { np =>
      e.repartition(np).groupBy($"event_type")
        .agg(hll_estimate($"u", 8).as("est"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    assert(ests.forall(_ == ests.head), s"partitioning changed the sketch: $ests")
  }

  test("property: HllEstimate error is inside 3 standard errors at p=8") {
    import graft.functions.SketchAggregates.hll_estimate
    // distinct counts at several magnitudes; 3σ = 3·1.04/√256 ≈ 19.5%
    import spark.implicits._
    val rows = (1 to 20000).map(i => s"v$i").toDF("u")
    Seq(100, 2000, 20000).foreach { n =>
      val est = rows.limit(n).agg(hll_estimate($"u", 8)).head().getDouble(0)
      assert(math.abs(est - n) / n < 0.195, s"n=$n est=$est")
    }
  }

  test("property: QuantileSketch is partitioning-invariant (merge = count sum)") {
    import graft.functions.SketchAggregates.qsketch_quantile
    // same rows split 1 / 7 / 32 ways → bit-identical estimates: the
    // integer-histogram merge is exactly associative/commutative
    val d = Tables.documents(spark, sf)
      .select($"lang", $"n_chars".cast("long").as("v"))
    val ests = Seq(1, 7, 32).map { np =>
      d.repartition(np).groupBy($"lang")
        .agg(qsketch_quantile($"v", 0.5, 5).as("p50"),
          qsketch_quantile($"v", 0.9, 5).as("p90"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(ests.forall(_ == ests.head), s"partitioning changed the sketch: $ests")
  }

  test("property: QuantileSketch lower edge is within 2^-s relative error of the rank element") {
    import graft.functions.SketchAggregates.qsketch_quantile
    // structural bound: the selected bucket CONTAINS the rank-r
    // element, and a log2-linear bucket at s=5 spans < 2^-5 = 3.125%
    // of its lower edge — checked corpus-wide per group and quantile
    val d = Tables.documents(spark, sf)
      .select($"lang", $"n_chars".cast("long").as("v"))
    val groups = d.collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    Seq(0.5, 0.9, 0.99).foreach { q =>
      val est = d.groupBy($"lang").agg(qsketch_quantile($"v", q, 5).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      groups.foreach { case (lang, sorted) =>
        val r = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
        val trueVal = sorted(r - 1)
        val e = est(lang)
        assert(e <= trueVal, s"$lang q=$q: est $e above rank element $trueVal")
        if (trueVal > 0)
          assert((trueVal - e).toDouble / trueVal < 1.0 / 32,
            s"$lang q=$q: est $e too far below $trueVal")
        else assert(e == 0L)
      }
    }
  }

  test("property: HllRegisters union algebra — zip_with-greatest merge equals the union's register file, estimator matches HllEstimate") {
    import graft.functions.SketchAggregates.{hll_estimate, hll_registers}
    // regs(A ∪ B) = max(regs(A), regs(B)) must hold EXACTLY (max is
    // both the update absorber and the merge), and the Column-code
    // estimator over a register file must reproduce the scalar
    // aggregate bit-for-bit — the two laws q163's oracle rests on
    val e = Tables.events(spark, sf).filter($"user_id".isNotNull)
      .select($"event_type", $"user_id".cast("string").as("u"))
    val types = Seq("view", "click")
    val per = e.filter($"event_type".isin(types: _*))
      .groupBy($"event_type")
      .agg(hll_registers($"u", 8).as("regs"), hll_estimate($"u", 8).as("est"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Int](1).toArray, r.getDouble(2))).toMap
    // law 1: estimator-from-registers ≡ scalar aggregate, in-engine
    val estFromRegs = e.filter($"event_type".isin(types: _*))
      .groupBy($"event_type").agg(hll_registers($"u", 8).as("regs"))
      .select($"event_type", Queries19.hllEstFromRegs("regs", 8).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    types.foreach { t =>
      assert(estFromRegs(t) == per(t)._2,
        s"$t: Column estimator ${estFromRegs(t)} != aggregate ${per(t)._2}")
    }
    // law 2: elementwise max of the two files = the union's file
    val unionRegs = e.filter($"event_type".isin(types: _*))
      .agg(hll_registers($"u", 8).as("regs"))
      .head().getSeq[Int](0).toArray
    val merged = per(types(0))._1.zip(per(types(1))._1).map { case (a, b) =>
      math.max(a, b) }
    assert(merged.sameElements(unionRegs),
      "max(regs(view), regs(click)) != regs(view ∪ click)")
  }

  test("property: QsketchCounts state reproduces QuantileSketch's rank selection and is partitioning-invariant") {
    import graft.functions.SketchAggregates.{qsketch_counts, qsketch_quantile}
    val d = Tables.documents(spark, sf)
      .select($"lang", $"n_chars".cast("long").as("v"))
    // the sparse state + the integer rank walk must reproduce the
    // scalar aggregate exactly (q165's rank-walk-in-Column-code is
    // the same arithmetic)
    val states = d.groupBy($"lang").agg(qsketch_counts($"v", 5).as("st"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => e.getInt(0) -> e.getLong(1)).sortBy(_._1)).toMap
    Seq(0.5, 0.9).foreach { q =>
      val direct = d.groupBy($"lang").agg(qsketch_quantile($"v", q, 5).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      states.foreach { case (lang, st) =>
        val n = st.map(_._2).sum
        val rank = math.max(1L, math.ceil(q * n.toDouble).toLong)
        var cum = 0L
        val i = st.collectFirst {
          case (idx, c) if { cum += c; cum >= rank } => idx }.get
        val decoded = ((i % 64).toLong) << (i / 64)
        assert(decoded == direct(lang),
          s"$lang q=$q: state walk $decoded != aggregate ${direct(lang)}")
      }
    }
    // same rows split 1 / 7 / 32 ways → identical sparse states
    val sts = Seq(1, 7, 32).map { np =>
      d.repartition(np).groupBy($"lang").agg(qsketch_counts($"v", 5).as("st"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => e.getInt(0) -> e.getLong(1)).sortBy(_._1)).toMap
    }
    assert(sts.forall(_ == sts.head), "partitioning changed the sparse state")
  }
}
