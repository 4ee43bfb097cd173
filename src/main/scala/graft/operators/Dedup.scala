package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Deduplication operators for the large-scale training-data pipeline
  * surface (north-star X1): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. All are pure DataFrame programs — no driver-side loops —
  * so they scale with partitioning:
  *
  *  - exact: shuffle keyed on a 16-byte md5 fingerprint, never the body
  *  - minhash/LSH: per-row signature (narrow) + explode-by-band join;
  *    band buckets are the shuffle key, so only same-bucket docs meet
  *  - ngram-jaccard: inverted shingle index self-join; candidate pairs
  *    bounded by shingle co-occurrence, not |docs|^2
  */
object Dedup {

  /** Exact dedup: one representative (min id) + multiplicity per
    * distinct text. Groups by md5 fingerprint so the 100 TB shuffle
    * carries 16 bytes + id per row.
    */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(Text.fingerprint(text).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature columns s0..s{k-1} over word
    * n-gram shingles.
    *
    * Computed in explode+aggregate form: one interpreted shingle
    * evaluation per doc, ONE codegen'd md5 per posting, then k cheap
    * universal-hash mixes with map-side partial MIN — identical values
    * to the array_min(transform(...)) Column form
    * (Text.minhashSignature), but the hash kernel stays in codegen and
    * is evaluated once (CollapseProject would inline the array form k×
    * per consumer).
    */
  def minhashSignature(df: DataFrame, text: Column, id: Column,
      n: Int, k: Int): DataFrame = {
    // ONE md5 per posting, computed inside the single-pass
    // Md5ShingleHashes expression (no shingle-string array in the row
    // pipeline); the k families are cheap arithmetic mixes of that
    // base hash (Text.minhashMix)
    val sh = df.select(id.as("doc_id"),
      explode(graft.functions.TextExpressions.md5_shingle_hashes(text, n)).as("h"))
    val aggs = (0 until k).map(i =>
      min(Text.minhashMix(col("h"), i)).as(s"s$i"))
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    // explode drops NULL-text docs; restore them with NULL signatures
    // (matches the Column-form and oracle semantics)
    df.select(id.as("doc_id")).join(sig, Seq("doc_id"), "left")
  }

  /** LSH banding: docs sharing any band bucket are candidate pairs.
    * k = bands * rowsPerBand hash families. Returns (a_id, b_id)
    * candidate pairs (a < b), deduped across bands. Signatures come
    * from the explode+agg minhash (codegen'd hashing); band keys
    * concatenate each band's signature slice.
    */
  /** (doc_id-as-`outId`, band, bucket) banding rows — THE banding
    * formula, single source for the within-corpus pair form
    * (lshCandidates) and the cross-corpus lookup form (lshLookup).
    * NULL signatures (NULL-text docs) have no shingles → no buckets.
    */
  private def bandedSignatures(df: DataFrame, text: Column, id: Column,
      n: Int, bands: Int, rowsPerBand: Int, outId: String): DataFrame =
    minhashSignature(df, text, id, n, bands * rowsPerBand)
      .filter(col("s0").isNotNull)
      .select(col("doc_id").as(outId),
        posexplode(array((0 until bands).map { b =>
          concat_ws("_", (0 until rowsPerBand).map(r =>
            col(s"s${b * rowsPerBand + r}")): _*)
        }: _*)).as(Seq("band", "bucket")))

  /** `maxBucket > 0` drops any band bucket holding more than that many
    * docs BEFORE pair generation — the same quadratic-bound move as
    * ngramPairStats' `maxDf` (a boilerplate mega-cluster whose docs
    * share a band signature would otherwise emit O(k²) pairs from one
    * task). A dropped bucket only loses pairs that other, sparser
    * bands still propose unless the docs are near-identical across ALL
    * bands — exactly the mega-cluster case the cap exists to bound.
    * The oracle-checked capped form is q143; `lshBucketProfile` below
    * measures what a given cap would drop. 0 = uncapped (the exact
    * forms q46/q62/... keep it off).
    */
  def lshCandidates(df: DataFrame, text: Column, id: Column,
      n: Int, bands: Int, rowsPerBand: Int, maxBucket: Int = 0): DataFrame = {
    val banded = bandedSignatures(df, text, id, n, bands, rowsPerBand, "doc_id")
    // bucket-collect instead of a self-join: the signature pipeline
    // runs ONCE, one shuffle on (band,bucket), pairs generated inside
    // each bucket (same shape as ngramPairStats)
    val buckets0 = banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
    val buckets = if (maxBucket > 0) buckets0.filter(size(col("ds")) <= maxBucket)
      else buckets0
    buckets
      .select(explode(flatten(
        transform(col("ds"), (a, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
            struct(least(a, b).as("a_id"), greatest(a, b).as("b_id"))))))
        .as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
  }

  /** Per-band bucket-population profile of the LSH banding — the
    * measurement companion to `lshCandidates(maxBucket)`: how many
    * buckets exist, how hot the hottest is, and how many a given cap
    * would drop. Run it on every new corpus BEFORE choosing the cap
    * (the 100 TB operating procedure); it is one aggregate over the
    * same (band, bucket) shuffle the pair generator uses, so it costs
    * one banding pass and nothing quadratic.
    */
  def lshBucketProfile(df: DataFrame, text: Column, id: Column,
      n: Int, bands: Int, rowsPerBand: Int, maxBucket: Int): DataFrame =
    bandedSignatures(df, text, id, n, bands, rowsPerBand, "doc_id")
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bn")).as("max_bucket"),
        sum(when(col("bn") > 1, 1L).otherwise(0L)).as("n_pair_buckets"),
        sum(when(col("bn") > maxBucket, 1L).otherwise(0L)).as("n_dropped"))

  /** LSH LOOKUP: candidate pairs between an INCOMING batch and an
    * EXISTING corpus — the incremental-ingest dedup shape (dedup each
    * day's crawl against the accumulated corpus without re-pairing the
    * corpus against itself). Both sides are banded with the SAME
    * signature pipeline as lshCandidates; the join is an equi-join on
    * (band, bucket). At 100 TB the existing side's banded table is
    * materialized once and bucketed/partitioned by (band, bucket) on
    * disk, so a day's ingest probes only the buckets it lands in —
    * cost tracks the BATCH, not the corpus.
    */
  /** `maxBucket > 0` caps the EXISTING side's bucket population (the
    * lshCandidates cap applied to the probe shape): a boilerplate
    * mega-bucket in the accumulated corpus would otherwise multiply
    * every incoming doc that lands in it by the full bucket depth.
    * Incoming-side buckets are batch-bounded by construction and stay
    * uncapped.
    */
  def lshLookup(existing: DataFrame, incoming: DataFrame, text: Column,
      id: Column, n: Int, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 0): DataFrame = {
    val ex0 = bandedSignatures(existing, text, id, n, bands, rowsPerBand, "ex_id")
    val ex =
      if (maxBucket > 0) {
        import org.apache.spark.sql.expressions.Window
        // bucket population via a window over the same (band, bucket)
        // shuffle the join needs — no extra aggregate pass
        ex0.withColumn("__bn",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
          .filter(col("__bn") <= maxBucket).drop("__bn")
      } else ex0
    bandedSignatures(incoming, text, id, n, bands, rowsPerBand, "in_id")
      .join(ex, Seq("band", "bucket"))
      .select(col("in_id"), col("ex_id"))
      .distinct()
  }

  /** lshLookup + Levenshtein precision verify: the full incremental
    * ingest dedup operator (LSH recall against the corpus, then the
    * bounded edit-distance check on candidates only). Shared verbatim
    * by batch q93 and the streaming foreachBatch twin
    * (streaming.Streaming.incrementalDedup) so the two execution modes
    * cannot drift. Output: (in_id, ex_id, dist) with dist <= maxDist.
    */
  def lshVerifiedLookup(existing: DataFrame, incoming: DataFrame,
      text: Column, id: Column, n: Int, bands: Int, rowsPerBand: Int,
      maxDist: Int): DataFrame =
    lshLookup(existing, incoming, text, id, n, bands, rowsPerBand)
      .join(incoming.select(id.as("in_id"), text.as("in_text")), Seq("in_id"))
      .join(existing.select(id.as("ex_id"), text.as("ex_text")), Seq("ex_id"))
      .select(col("in_id"), col("ex_id"),
        levenshtein(col("in_text"), col("ex_text"), maxDist).as("dist"))
      .filter(col("dist") >= 0)

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle, filtered at `minJaccard`.
    *
    * Shape: inverted index as ONE shuffle on the 8-byte shingle hash
    * (TextExpressions.ShingleHashes — single-pass, distinct, no string
    * arrays), pairs generated inside each posting bucket, then one
    * shuffle on the pair key. Per-doc set sizes ride along on the
    * postings, so no re-join afterwards. |A∩B| = number of buckets
    * containing the pair; jaccard = inter / (|A|+|B|-inter).
    *
    * Scale: pair fan-out is Σ df² over shingles. A df cap (drop
    * ultra-common shingles before pairing — they carry no similarity
    * signal) bounds the quadratic term at 100 TB; pass maxDf>0 to
    * enable (the exact oracle-checked queries keep it off).
    */
  /** The shared inverted-index pair statistics (a_id, b_id, inter,
    * na, nb) behind BOTH similarity measures — computed once, derived
    * into Jaccard or containment by the cheap projections below (and
    * cached across the two by LshStages.ngramStats in the harness).
    */
  private[graft] def ngramPairStats(df: DataFrame, text: Column, id: Column,
      n: Int, maxDf: Int = 0): DataFrame = {
    val base = df.select(id.as("doc_id"),
      graft.functions.TextExpressions.shingle_hashes(text, n).as("shs"))
    pairsFromInverted(base.select(
      struct(col("doc_id"), size(col("shs")).as("n_sh")).as("dn"),
      explode(col("shs")).as("h")), maxDf)
  }

  /** Pair statistics derived from an already-built df-annotated
    * posting list (dfAnnotatedPostings / LshStages.dfPostings): the
    * per-doc set size `n` rides the postings, so no array
    * re-materialization — the Jaccard/containment arm and the PPJoin
    * arm share ONE posting-list stage per run instead of each paying
    * its own shingle pass.
    */
  private[graft] def pairStatsFromPostings(posted: DataFrame,
      maxDf: Int = 0, persistBuckets: Boolean = false): DataFrame =
    pairsFromInverted(posted.select(
      struct(col("doc_id"), col("n").as("n_sh")).as("dn"),
      col("tok").as("h")), maxDf, ComboBucketCap, persistBuckets)

  /** Bucket-size ceiling for the in-row Combos expansion: C(8192,2)
    * ≈ 33.5M pairs is the largest single-row expansion we allow. Far
    * below it, C(n,2) stays long-safe (the Int overflow bites at
    * n = 65536) and the collected bucket row stays ≲100 KB. Buckets
    * larger than this fall back to the streamed equi-join expansion
    * below (ADVICE r13) — same pairs, no giant row.
    */
  private[graft] val ComboBucketCap = 8192

  private def pairsFromInverted(sh: DataFrame, maxDf: Int): DataFrame =
    pairsFromInverted(sh, maxDf, ComboBucketCap)

  /** `persistBuckets` (round 16, VERDICT r15 #6 — measured): the
    * two-branch candidate plan below consumes the collect_list bucket
    * aggregate THREE times (the Combos branch plus both sides of the
    * flood fallback's aliased self-join — aliasing defeats exchange
    * reuse), so a non-persisted run pays the aggregate 3× even when
    * the flood branch matches zero buckets. tools/P125 at sf0.1: the
    * aggregate alone is ~0.53 s, the pairs branch ~0.84 s, the full
    * union ~1.49 s — ~0.6 s/execution of pure recompute. With the
    * bucket stage persisted (bounded by Skew's LRU stage registry,
    * same lifecycle as chunkedSessionize's phase-1 stage) all three
    * consumers read one InMemoryRelation. Callers whose OUTPUT is
    * already session-cached (ngramStats) keep the default false —
    * they pay the triple read once per session, and an extra live
    * cache entry would only pressure the registry cap.
    */
  private[graft] def pairsFromInverted(sh: DataFrame, maxDf: Int,
      comboCap: Int, persistBuckets: Boolean = false): DataFrame = {
    // sort_array orders each posting bucket by doc_id (the struct's
    // leading field), so the Combos kernel's position-ordered pairs
    // are value-ordered too: smaller doc_id first, no per-pair
    // comparison. Combos replaces the interpreted nested
    // transform+slice lambda expansion — the same O(k²)-allocations
    // HOF class the round-12 kernel killed for q279/q171, measured
    // again here as the structural cost of q125's candidate stage.
    val buckets0 = sh.groupBy(col("h"))
      .agg(sort_array(collect_list(col("dn"))).as("ds"))
      .filter(size(col("ds")) > 1)
    val bucketsRaw = if (maxDf > 0) buckets0.filter(size(col("ds")) <= maxDf)
      else buckets0
    val buckets = if (persistBuckets) {
      val b = bucketsRaw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Skew.trackStage(b); b
    } else bucketsRaw
    val pairs = buckets.filter(size(col("ds")) <= comboCap).select(explode(
      graft.functions.TextExpressions.combos(col("ds"), 2)).as("p"))
    // Flood fallback (ADVICE r13): a bucket with more than comboCap
    // docs would expand C(n,2) pairs inside ONE row — past 65,535
    // docs C(n,2) overflows Int and Combos throws; well before that
    // the single-row expansion risks executor OOM. Such buckets
    // re-explode to posting rows and pair by a streamed self-join on
    // the bucket key instead: identical pairs (a < b on the same
    // struct ordering sort_array used), arbitrary df, the pairs
    // stream through the join iterator into the map-side partial
    // aggregate instead of materializing per-row. The O(df) collected
    // bucket row itself still exists transiently (~13 bytes/doc —
    // 1.3 MB at df = 10^5); a corpus degenerate enough to push single
    // buckets toward GB-scale rows is what maxDf is for (such
    // shingles carry no similarity signal). On benign corpora this
    // branch is empty (rare-first prefixes / shingle dfs stay far
    // below the cap) and costs nothing; on a corpus of many short
    // near-identical docs it is what keeps the stage alive.
    val bigRows = buckets.filter(size(col("ds")) > comboCap)
      .select(col("h"), explode(col("ds")).as("dn"))
    val bigPairs = bigRows.as("x")
      .join(bigRows.as("y"),
        col("x.h") === col("y.h") && col("x.dn") < col("y.dn"))
      .select(struct(col("x.dn").as("a"), col("y.dn").as("b")).as("p"))
    pairs.unionByName(bigPairs)
      .groupBy(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"),
        max(col("p.a.n_sh")).as("na"), max(col("p.b.n_sh")).as("nb"))
  }

  /** Global-df-annotated posting list `(doc_id, tok, df, n, pos)` over
    * DISTINCT n-gram shingle hashes: `df` = the shingle's global
    * document frequency, `n` = the doc's distinct-shingle count,
    * `pos` = the shingle's 1-based rank within its doc under the
    * canonical prefix-filter ordering (df asc, tok asc — rarest
    * first; ties impossible, tok is distinct per doc). This is the
    * shared prefix of the PPJoin candidate generator
    * (prefixJaccardPairs) AND the inverted-index pair statistics
    * (pairStatsFromPostings) — the harness materializes it once per
    * (session, sf dir) in LshStages.dfPostings.
    *
    * Shape: one codegen shingle pass over the scan, one shuffle on the
    * 8-byte tok (df window), one shuffle on doc_id (pos + n in a
    * single exchange — two window specs over the same partitioning).
    */
  def dfAnnotatedPostings(df: DataFrame, text: Column, id: Column,
      n: Int): DataFrame = {
    val post = df.select(id.as("doc_id"),
      explode(graft.functions.TextExpressions.shingle_hashes(text, n))
        .as("tok"))
    val withDf = post.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("tok"))))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    withDf
      .withColumn("pos", row_number().over(byDoc))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  /** PREFIX-FILTER SET-SIMILARITY JOIN (AllPairs/PPJoin candidate
    * generation + exact verify, Chaudhuri/Bayardo) at Jaccard
    * threshold t = tNum/tDen over a df-annotated posting list.
    *
    * A doc of n distinct shingles exposes only its first
    * n − ceil(t·n) + 1 rarest shingles as join keys; two docs with
    * Jaccard ≥ t MUST collide on at least one prefix shingle (the
    * prefix-filter theorem), so candidates → exact-verify loses
    * nothing. The AllPairs length rule prunes size-incompatible
    * candidates in EXACT integer arithmetic (t·|a| ≤ |b| and
    * t·|b| ≤ |a|).
    *
    * ceil(t·n) is computed by EXACT integer ceil — (tNum·n + tDen−1)
    * div tDen (round 13). The previous double form ceil(0.8 · n)
    * evaluates 0.8·5 = 4.0000000000000002 → ceil 5: one prefix token
    * SHORT of the theorem's bound for every n ≡ 0 (mod tDen). The
    * brute-force oracle hash gate stayed green (no pair was actually
    * lost on these corpora), but at 100 TB that is a recall hole, not
    * a rounding nit — the integer form can only ADD candidates, and
    * verification is exact, so results are unchanged where the double
    * form was lucky.
    *
    * Scale: recall-1.0 competitor to MinHash banding — no banding
    * error; candidate volume is bounded by rare-first ordering (a
    * boilerplate shingle never enters a prefix unless the doc is
    * nearly all boilerplate). All joins are 8-byte-key equi-joins;
    * verify touches candidates only. Candidate generation routes
    * through pairsFromInverted, whose in-row Combos expansion is
    * bounded at ComboBucketCap docs per prefix-token bucket — a
    * corpus of many short near-identical docs CAN put the same token
    * in most prefixes, and such buckets fall back to the streamed
    * equi-join expansion instead of a C(n,2) single-row blowup
    * (ADVICE r13; Round14Spec pins both paths pair-identical).
    */
  def prefixJaccardPairs(posted: DataFrame, sets: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    val need = col("n") -
      floor((col("n") * lit(tNum) + lit(tDen - 1)) / lit(tDen)) + 1
    val prefix = posted.filter(col("pos") <= need)
    // Candidate generation as ONE in-bucket expansion (round 13): the
    // previous aliased self-join shuffled the prefix postings twice
    // (two exchanges — aliasing defeats ReusedExchange) and then paid
    // a third shuffle for distinct(). pairStatsFromPostings groups
    // the prefix by tok once and expands pairs inside each posting
    // bucket — same candidate set, already distinct, sizes riding
    // along for the AllPairs length rule (exact integer arithmetic:
    // a double t·n is ABOVE the true product for some n and would
    // drop boundary pairs).
    // bucket stage persisted (round 16): prefixJaccardPairs' output
    // is NOT session-cached, so every execution re-paid the bucket
    // aggregate 3× (see pairsFromInverted's scaladoc); conf-gated
    // only for the same-JVM A/B — results are plan-invariant either
    // way (hash-gated at sf0.01 and sf0.1 under both values)
    val persistB = !posted.sparkSession.conf
      .getOption("spark.graft.bucketStagePersist").contains("false")
    val cand = pairStatsFromPostings(prefix, persistBuckets = persistB)
      .filter(col("nb") * tDen >= col("na") * tNum &&
        col("na") * tDen >= col("nb") * tNum)
      .select(col("a_id"), col("b_id"), col("na"), col("nb"))
    // Exact verify against the per-doc shingle SET table, not the
    // exploded postings: two doc-keyed equi-joins fetch each side's
    // distinct-hash array and an in-row kernel measures |A∩B| —
    // the posting-table form re-shuffled the FULL postings twice per
    // execution for the same number. `sets` is |docs| rows (the
    // candidate table is far smaller still); at 100 TB both joins are
    // doc_id-keyed shuffles touching candidates only.
    // Kernel choice (round 16, conf-gated for the same-JVM A/B):
    // both sides are duplicate-free, so size(array_intersect) and the
    // codegen sort-merge IntersectSize count the SAME number — the
    // conf only swaps the kernel, never the answer (hash-gated at
    // sf0.01 and sf0.1 under both values).
    val interOf: (Column, Column) => Column =
      if (sets.sparkSession.conf.getOption("spark.graft.verifyIntersect")
          .contains("hash"))
        (x, y) => size(array_intersect(x, y))
      else graft.functions.VectorExpressions.intersect_size
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("shs").as("shs_a")),
        Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("shs").as("shs_b")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        interOf(col("shs_a"), col("shs_b")).as("i"),
        col("na"), col("nb"))
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i"))
        >= lit(tNum.toDouble / tDen))
      .select(col("a_id"), col("b_id"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
          .as("jaccard"))
  }

  private[graft] def jaccardFrom(stats: DataFrame, minJaccard: Double): DataFrame =
    stats
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))

  /** Asymmetric n-gram CONTAINMENT pairs over pair stats (a_id, b_id,
    * inter, na, nb): c(A→B) = |A∩B| / |A| — the quote/inclusion
    * detector (a short doc fully contained in a long one scores 1.0 on
    * its side while Jaccard stays low, so the near-dup pass misses it).
    * Same inverted-index shape and cost envelope as ngramJaccardPairs
    * when fed by ngramPairStats: one shuffle on the 8-byte shingle
    * hash, pairs inside postings, set sizes carried along, both
    * directions emitted per unordered pair. Filter keeps pairs where
    * EITHER direction reaches `minContainment` (unrounded compare —
    * engines agree on boundaries).
    */
  private[graft] def containmentFrom(stats: DataFrame,
      minContainment: Double): DataFrame =
    stats
      .withColumn("ca", col("inter").cast("double") / col("na").cast("double"))
      .withColumn("cb", col("inter").cast("double") / col("nb").cast("double"))
      .filter(greatest(col("ca"), col("cb")) >= minContainment)
      .select(col("a_id"), col("b_id"), col("inter"),
        round(col("ca"), 4).as("cont_a"), round(col("cb"), 4).as("cont_b"))

  def ngramJaccardPairs(df: DataFrame, text: Column, id: Column,
      n: Int, minJaccard: Double, maxDf: Int = 0): DataFrame =
    jaccardFrom(ngramPairStats(df, text, id, n, maxDf), minJaccard)

  /** Connected components over a candidate-pair edge list — the
    * clustering step that turns near-dup PAIRS into dedup GROUPS
    * (cluster id = min doc id in the component; one kept doc per
    * cluster).
    *
    * Iterative min-label propagation WITH pointer-jump shortcutting:
    * each round every node takes the minimum label among itself and
    * its neighbors (one join), then jumps to its label's label (a
    * second join — the label table is keyed by node, and every label
    * is a node id, so the lookup always hits). Neighbor propagation
    * alone needs O(component diameter) rounds; the jump halves label
    * depth every round, so a length-L chain converges in O(log L)
    * rounds — a 1000-doc boilerplate chain is ~10 rounds, not 1000.
    * Each round is two shuffles keyed on node id — no driver-side
    * graph state, so it scales with the edge list, not the corpus.
    * A massive-graph deployment would swap in large-star/small-star
    * contraction, same DataFrame shape. `localCheckpoint` truncates
    * the iterative lineage so plans don't grow with the round count.
    *
    * Returns (node, cluster) for every node present in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val und = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist()
    // labels only ever DECREASE, so Σ(lbl) is strictly monotone while
    // anything changes — an O(1)-row convergence probe with no extra
    // join. Decimal sum: exact at any node-count/id magnitude. None ⇔
    // empty label set (sum of zero rows is NULL).
    def lblSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head().getDecimal(0))
    def sameSum(a: Option[java.math.BigDecimal],
        b: Option[java.math.BigDecimal]): Boolean = (a, b) match {
      case (Some(x), Some(y)) => x.compareTo(y) == 0
      case (None, None) => true // empty graph: trivially converged
      case _ => false
    }
    var labels = und.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("node"), least(col("node"), col("nbr")).as("lbl"))
      .transform(graft.Materialize.truncate)
    var prevSum = lblSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min over {self} ∪ neighbors in ONE join + ONE partial+final
      // aggregate per round
      val prop = labels.unionByName(
        und.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("lbl")))
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      // pointer jump: lbl ← min(lbl, lbl(lbl)). Labels are node ids,
      // so the self-join always finds a row; "left" guards the first
      // rounds where a label may not have stabilized as a key yet.
      val next = prop
        .join(prop.select(col("node").as("ln"), col("lbl").as("l2")),
          col("lbl") === col("ln"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("l2"), col("lbl"))).as("lbl"))
        .transform(graft.Materialize.truncate)
      val s = lblSum(next)
      labels = next
      if (sameSum(s, prevSum)) converged = true else prevSum = s
      iter += 1
    }
    und.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("node"), col("lbl").as("cluster"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SOCC 2014) — the billion-edge path promised in the
    * connectedComponents scaladoc, now implemented and
    * equality-proven (StarCcSpec) against the min-label version.
    *
    *  - large-star(u): link every neighbor v > u to
    *    m = min(N(u) ∪ {u})
    *  - small-star(u): link every neighbor v < u, and u itself, to m
    *
    * Each phase is ONE window-min over the symmetric edge list plus a
    * projection — no driver-side state; rounds are O(log n) in the
    * worst case and the edge set only ever contracts toward stars
    * centered at component minima. Versus min-label propagation the
    * per-round state is the EDGE list, not a label per node, and
    * contraction strictly shrinks high-degree structures — the
    * preferred shape once components stop being shallow (boilerplate
    * mega-clusters at open-crawl scale).
    *
    * Returns (node, cluster) for every node present in `pairs` —
    * identical contract and values to connectedComponents.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // node universe from the RAW pairs: a node whose only edge is a
    // self-pair must still be returned (as its own singleton cluster),
    // exactly as connectedComponents does — self-loops are dropped
    // from the EDGE set only
    val nodes = pairs.select(col(aCol).as("node"))
      .unionByName(pairs.select(col(bCol).as("node")))
      .distinct().transform(graft.Materialize.truncate)
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().transform(graft.Materialize.truncate)
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val w = Window.partitionBy(col("u"))
      val withM = und.withColumn("m", least(min(col("v")).over(w), col("u")))
      val emitted =
        if (large)
          withM.filter(col("v") > col("u"))
            .select(col("m").as("u"), col("v"))
        else
          withM.filter(col("v") < col("u"))
            .select(col("m").as("u"), col("v"))
            .unionByName(withM.select(col("m").as("u"), col("u").as("v")))
      emitted.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    }
    var iter = 0
    var converged = false
    // single-action convergence probe: the (|E|, Σxxhash64(u,v),
    // Σxxhash64(7,u,v)) fingerprint of the DISTINCT edge set. Equal
    // fingerprints on consecutive rounds mean equal sets up to a
    // ~2^-128 two-sum collision — one aggregate job per round where
    // the previous count+except probe cost two actions (and an extra
    // shuffle) on the billion-edge path this algorithm exists for.
    def fingerprint(e: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = e.agg(
        count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        sum(xxhash64(lit(7L), col("u"), col("v")).cast("decimal(38,0)"))).head()
      def dec(i: Int): BigDecimal =
        Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
      (r.getLong(0), dec(1), dec(2))
    }
    var fp = fingerprint(edges)
    while (!converged && iter < maxIter) {
      val next = star(star(edges, large = true), large = false).transform(graft.Materialize.truncate)
      val nfp = fingerprint(next)
      edges = next
      if (nfp == fp) converged = true
      fp = nfp
      iter += 1
    }
    require(converged, s"star contraction did not converge in $maxIter rounds")
    // fixpoint = disjoint stars: centers (component minima) appear only
    // as u, every other node exactly once as v
    val leaves = edges.select(col("v").as("node"), col("u").as("cluster"))
    val centers = nodes.join(leaves.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster"))
    leaves.unionByName(centers)
  }

  /** Maximal recycled token SPANS per document pair — exact-substring
    * dedup over `windowTokens`-token SLIDING windows (stride 1, the
    * Text.shingles positional convention: a doc shorter than the
    * window yields its one clamped window). Every window carries its
    * position; matches of a pair on one diagonal (posB − posA
    * constant) with consecutive positions form a span. Stride 1 makes
    * detection SHIFT-INVARIANT — a copied passage is found wherever
    * it starts in either document (a fixed non-overlapping chunking
    * like q132's misses any copy not aligned to a chunk boundary) —
    * and makes the token arithmetic exact: a shared contiguous run of
    * L ≥ windowTokens tokens produces exactly L − windowTokens + 1
    * consecutive window matches, so span_tokens = span_windows +
    * windowTokens − 1 is the TRUE maximal run length, not an
    * upper-rounded chunk multiple. Returns one row per pair whose
    * longest span has ≥ `minSpanWindows` windows: (a_id, b_id,
    * n_aligned_windows, max_span_windows).
    *
    * Scale: fingerprint-keyed equi-join — text never shuffles, only a
    * 16-byte md5 + two ints per window; stride 1 costs ~|tokens| rows
    * per doc (the same envelope as the ngram inverted index, not a
    * blowup); span assembly is a partition-local window per
    * (pair, diagonal). `maxDf > 0` drops window fingerprints shared
    * by more than that many documents BEFORE pairing (the
    * ngramPairStats/lshCandidates cap): a boilerplate mega-window is
    * the one input that makes the join quadratic, and it carries no
    * plagiarism signal.
    */
  /** Stride-1 sliding-window fingerprints: (doc_id, pos, fp), one row
    * per window position (a doc shorter than the window yields its one
    * clamped window; NULL text yields no rows). Shared by dupSpans and
    * windowDfProfile so the capped pair path and the cap-sizing
    * measurement see the SAME window population.
    */
  private[graft] def slidingWindows(df: DataFrame, text: Column, id: Column,
      windowTokens: Int): DataFrame =
    df.select(id.as("doc_id"), split(text, " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(size(col("toks")) - windowTokens, lit(0))),
          i => md5(array_join(
            slice(col("toks"), i + 1, lit(windowTokens)), " "))))
          .as(Seq("pos", "fp")))

  def dupSpans(df: DataFrame, text: Column, id: Column, windowTokens: Int,
      minSpanWindows: Int, maxDf: Int = 0): DataFrame =
    dupSpansFromWindows(slidingWindows(df, text, id, windowTokens),
      minSpanWindows, maxDf)

  /** dupSpans over a PRE-MATERIALIZED (doc_id, pos, fp) window table —
    * q155/q157 share LshStages.windowFps so the dominant stride-1
    * fingerprint pass runs once per session, not once per query
    * (VERDICT r8 perf: the LshStages rationale applied to the
    * window-fp family).
    */
  def dupSpansFromWindows(wins: DataFrame,
      minSpanWindows: Int, maxDf: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept =
      if (maxDf > 0) {
        // anti-join against the OVER-cap fingerprints, not an inner
        // join against the keep list: the keep list is corpus-sized
        // (~every distinct window), while over-cap fps are bounded by
        // n_windows / maxDf and in practice are the rare boilerplate
        // tail — a small (often broadcast) side instead of a second
        // full-width shuffle of the window rows
        // materialized (round 12): `kept` heads BOTH sides of the pair
        // self-join below, and the plan audit showed the df census
        // (distinct + groupBy, two exchanges over every window row)
        // re-running once PER SIDE — the over-cap list itself is tiny
        // (bounded by n_windows/maxDf), so truncating it costs one
        // small eager job and halves the census work. A/B at sf0.1
        // read a WASH (1.13 vs 1.02 s on near-equal windows — the
        // saved census ≈ the truncate's eager job at this scale);
        // kept anyway because the trade is scale-asymmetric: the
        // census side grows with the corpus, the truncated frame
        // stays bounded by n_windows/maxDf
        val hot = graft.Materialize.truncate(
          wins.select(col("doc_id"), col("fp")).distinct()
            .groupBy(col("fp")).agg(count(lit(1)).as("fp_df"))
            .filter(col("fp_df") > maxDf))
        wins.join(hot.select(col("fp")), Seq("fp"), "left_anti")
      } else wins
    val pairs = kept
      .select(col("doc_id").as("a_id"), col("pos").as("ai"), col("fp"))
      .join(kept.select(col("doc_id").as("b_id"), col("pos").as("bi"),
        col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("ai"),
        (col("bi") - col("ai")).as("diag"))
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
      .orderBy(col("ai"))
    pairs.withColumn("grp", col("ai") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("span_windows"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("span_windows")).as("n_aligned_windows"),
        max(col("span_windows")).as("max_span_windows"))
      .filter(col("max_span_windows") >= minSpanWindows)
  }

  /** Window-fingerprint document-frequency profile — the measurement
    * `dupSpans(maxDf)` is sized from, exactly as lshBucketProfile
    * sizes lshCandidates(maxBucket). One row: total distinct window
    * fingerprints, the hottest fingerprint's document frequency, how
    * many fingerprints appear in more than one doc (the pair-
    * generating population), and what a given cap would drop — both
    * as fingerprints and as window ROWS (the join-input reduction,
    * which is what actually bounds the quadratic pairing). One
    * aggregate over the same window rows the pair generator shuffles;
    * nothing quadratic.
    */
  def windowDfProfile(df: DataFrame, text: Column, id: Column,
      windowTokens: Int, maxDf: Int): DataFrame =
    windowDfProfileFromWindows(slidingWindows(df, text, id, windowTokens),
      maxDf)

  /** windowDfProfile over a pre-materialized window table (see
    * dupSpansFromWindows).
    */
  def windowDfProfileFromWindows(wins: DataFrame, maxDf: Int): DataFrame =
    wins
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_wins"),
        count_distinct(col("doc_id")).as("fp_df"))
      .agg(count(lit(1)).as("n_fps"),
        max(col("fp_df")).as("max_df"),
        sum(when(col("fp_df") > 1, 1L).otherwise(0L)).as("n_multi_fps"),
        sum(when(col("fp_df") > maxDf, 1L).otherwise(0L))
          .as("n_dropped_fps"),
        sum(when(col("fp_df") > maxDf, col("n_wins")).otherwise(0L))
          .as("n_dropped_windows"))

  /** Per-document SimHash bit fingerprint (as a bit string of length
    * `bits`). Near-dups differ in few bits; pair generation at scale
    * buckets on bit-band substrings exactly like minhash LSH.
    */
  def simhash(df: DataFrame, text: Column, id: Column, bits: Int): DataFrame =
    df.select(id.as("doc_id"),
      Text.simhashBits(Text.tokens(text), bits).as("simhash"))

  /** SimHash packed into a joinable BIGINT — a NARROW projection via
    * the single-pass `TextExpressions.SimhashPacked` kernel (tokenize,
    * one md5 per token, ±1 vote accumulation, bit pack — all inside
    * one expression call per document). Value-identical to the
    * explode + per-bit vote aggregate form (vote sums are
    * order-independent integers) and to Text.simhash64, with NO
    * shuffle and NO restore-join: a NULL text evaluates to NULL and
    * coalesces to fingerprint 0, matching the oracle's
    * CASE WHEN NULL > 0 ... ELSE 0 semantics. An earlier
    * explode+aggregate form shuffled |tokens| rows and aggregated
    * `bits` vote columns — measurably slower at 48 bits and
    * pointlessly wide at 100 TB.
    */
  def simhashPacked(df: DataFrame, text: Column, id: Column,
      bits: Int): DataFrame = {
    require(bits <= 60, s"simhash bits must be <= 60 (md5Long yields 60 usable bits; bit ${bits - 1} would alias bit ${(bits - 1) % 60}), got $bits")
    df.select(id.as("doc_id"),
      coalesce(graft.functions.TextExpressions.simhash_packed(text, bits),
        lit(0L)).as("sh"))
  }

  /** SimHash near-dup pairs via bit-band bucketing — the open-scale
    * pair generator. Fingerprints are split into `bands` contiguous
    * bit ranges; by pigeonhole any pair within `maxHamming` bit flips
    * (maxHamming < bands) shares at least one untouched band, so
    * bucketing on (band, band-bits) proposes every qualifying pair and
    * the exact in-bucket Hamming filter discards false collisions —
    * result-identical to the all-pairs join (the DuckDB oracle IS the
    * brute-force form) without its O(n²) probe cost.
    *
    * Shape: one shuffle on (band, bucket) — same bucket-collect as
    * lshCandidates, fingerprints ride along in the posting struct so no
    * re-join — then distinct on the pair. Wide fingerprints (48+ bits)
    * keep band values sparse, so bucket populations stay bounded as the
    * corpus grows; 16-bit fingerprints make half-bands dense and were
    * measured SLOWER than brute force at sf0.1, which is why the width
    * and the banding must move together.
    */
  def simhashPairs(df: DataFrame, text: Column, id: Column,
      bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must split evenly into $bands bands")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming ($maxHamming) < bands ($bands)")
    val w = bits / bands
    val sh = simhashPacked(df, text, id, bits)
    val banded = sh.select(struct(col("doc_id"), col("sh")).as("dsh"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sh"), b * w).bitwiseAND(lit((1L << w) - 1))): _*))
        .as(Seq("band", "bucket")))
    banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("dsh")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(
        transform(col("ds"), (a, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
            struct(
              least(a.getField("doc_id"), b.getField("doc_id")).as("a_id"),
              greatest(a.getField("doc_id"), b.getField("doc_id")).as("b_id"),
              bit_count(a.getField("sh").bitwiseXOR(b.getField("sh")))
                .as("hamming"))))))
        .as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
