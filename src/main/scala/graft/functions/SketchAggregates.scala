package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom per-group sketch aggregates — the `TypedImperativeAggregate`
  * escape hatch SURVEY §2.9 declares for 100 TB: when a per-key
  * summary (HLL, KLL, CMS-per-group) has no built-in, this is the
  * preferred shape — an aggregate with an arbitrary mutable buffer
  * that still runs as a NORMAL partial+final Spark aggregate (map-side
  * combine, bounded per-group state, mergeable across partitions), as
  * opposed to collect_list + driver math which ships raw values.
  *
  * [[HllEstimate]] is the demonstrator: classic HyperLogLog (Flajolet,
  * Fusy, Gandouet, Meunier 2007) over the repo's shared 60-bit md5
  * projection (Text.md5Long — first 15 hex chars), so the DuckDB
  * oracle can rebuild the EXACT register file in SQL and the declared
  * query (q145) is hash-verified, not just bounded: every arithmetic
  * step of the estimator is written in the same left-to-right IEEE
  * order on both engines.
  *
  * Register layout for precision p (m = 2^p registers):
  *   h   = md5Long(value)            (60 usable bits)
  *   idx = h & (m-1)                 (low p bits)
  *   w   = h >>> p                   (60-p bits)
  *   rho = (60-p) + 1 - bitlength(w) (leading-zero count + 1; w=0 →
  *                                    the max, (60-p)+1)
  *   M_idx = max(rho)
  * Estimator: raw = alpha_m * m * m * 2^(60-p+1) / S with the integer
  * S = Σ_j 2^((60-p+1) - M_j) — EXACT in a 64-bit long for p ≥ 8
  * (each term ≤ 2^53, 256 terms → ≤ 2^61), which is what makes the
  * harmonic mean reproducible bit-for-bit in DuckDB (a float Σ 2^-M_j
  * would be summation-order-dependent). Small-range correction:
  * raw ≤ 2.5m with empty registers → linear counting m·ln(m/zeros).
  */
object SketchAggregates {

  /** Shared HLL register-file kernel — ONE implementation of the
    * update/merge math used by both [[HllEstimate]] (scalar estimate)
    * and [[HllRegisters]] (the raw register file for sketch ALGEBRA:
    * union = elementwise max is exactly this merge, so a register file
    * computed per source/day/partition can be combined later without
    * rescanning the data — the mergeability property that makes
    * sketches the 100 TB answer to distinct-count set operations).
    */
  private object HllCore {
    val md5Local: ThreadLocal[java.security.MessageDigest] =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))

    /** Fold one string value into the register file (mutates buf). */
    def update(buf: Array[Byte], value: String, p: Int): Unit = {
      val m = 1 << p
      val wBits = 60 - p
      // the shared 60-bit projection: first 7 md5 bytes + high nibble
      // of the 8th (bit-identical to Text.md5Long / Md5ShingleHashes)
      val d = md5Local.get().digest(
        value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v56 = 0L
      var b = 0
      while (b < 7) { v56 = (v56 << 8) | (d(b) & 0xffL); b += 1 }
      val h = (v56 << 4) | ((d(7) & 0xf0L) >>> 4)
      val idx = (h & (m - 1)).toInt
      val w = h >>> p
      // w=0: numberOfLeadingZeros(0)=64 → bitlength 0 → rho = wBits+1
      val rho = wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(idx)) buf(idx) = rho.toByte
    }

    /** Elementwise max — HLL merge AND set union, associative. */
    def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
      var j = 0
      while (j < b1.length) { if (b2(j) > b1(j)) b1(j) = b2(j); j += 1 }
      b1
    }
  }

  /** Streaming hook on the ONE kernel: fold a value into a register
    * file — used by Streaming.streamingHllRegs so the incremental
    * per-key state is bit-identical to the batch aggregate's (the T12
    * differential).
    */
  def hllUpdate(buf: Array[Byte], value: String, p: Int): Unit =
    HllCore.update(buf, value, p)

  /** HyperLogLog cardinality estimate of `child` (StringType) with
    * 2^p byte registers. p=8 → ±1.04/√256 ≈ 6.5% standard error on
    * ~256 bytes of state per group, at any cardinality.
    */
  case class HllEstimate(child: Expression, p: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Byte]]
      with UnaryLike[Expression] {
    require(p >= 4 && p <= 12,
      s"hll precision p must be in [4,12] (m=2^p byte registers), got $p")

    private val m = 1 << p
    private val wBits = 60 - p          // bits left after the index
    private val scale = wBits + 1       // max register value

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def prettyName: String = "graft_hll"

    override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

    override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
      val v = child.eval(input)
      if (v != null)
        HllCore.update(buf, v.asInstanceOf[UTF8String].toString, p)
      buf
    }

    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
      HllCore.merge(b1, b2)

    override def eval(buf: Array[Byte]): Any = {
      var s = 0L
      var zeros = 0
      var j = 0
      while (j < m) {
        s += 1L << (scale - buf(j))
        if (buf(j) == 0) zeros += 1
        j += 1
      }
      val md = m.toDouble
      // keep this exact operation order in sync with the Oracle13 SQL:
      // ((((0.7213/(1+1.079/m)) * m) * m) * 2^scale) / S
      val raw = 0.7213 / (1.0 + 1.079 / md) * md * md *
        java.lang.Math.pow(2.0, scale) / s.toDouble
      if (raw <= 2.5 * md && zeros > 0) md * java.lang.Math.log(md / zeros)
      else raw
    }

    override def serialize(buf: Array[Byte]): Array[Byte] = buf
    override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_hll expects a string column, got ${child.dataType}")

    override def withNewMutableAggBufferOffset(
        newOffset: Int): HllEstimate =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): HllEstimate =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): HllEstimate = copy(child = newChild)
  }

  /** Column-API form: `hll_estimate($"user_id".cast("string"), 8)`. */
  def hll_estimate(c: Column, p: Int): Column =
    GraftShim.column(
      HllEstimate(GraftShim.expression(c), p).toAggregateExpression())

  /** The RAW register file of the same HLL sketch, as array<int> of
    * length 2^p — the sketch-ALGEBRA form. Two register files merge by
    * elementwise max (`zip_with(a, b, greatest)` in plain Column code),
    * and max is exactly how the sketch absorbs values, so
    * regs(A ∪ B) = max(regs(A), regs(B)) HOLDS EXACTLY — union
    * cardinality (and intersections via inclusion-exclusion) of
    * arbitrary group combinations come from the tiny per-group state,
    * never a rescan. Estimator arithmetic over a register array is
    * deliberately NOT baked in here: it is four Column expressions
    * (see Queries19.hllEstFromRegs) kept in the same IEEE order as
    * [[HllEstimate.eval]] and the Oracle13/Oracle19 SQL.
    */
  case class HllRegisters(child: Expression, p: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Byte]]
      with UnaryLike[Expression] {
    require(p >= 4 && p <= 12,
      s"hll precision p must be in [4,12] (m=2^p byte registers), got $p")

    private val m = 1 << p

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_hll_regs"

    override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

    override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
      val v = child.eval(input)
      if (v != null)
        HllCore.update(buf, v.asInstanceOf[UTF8String].toString, p)
      buf
    }

    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
      HllCore.merge(b1, b2)

    override def eval(buf: Array[Byte]): Any =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        buf.map(_.toInt))

    override def serialize(buf: Array[Byte]): Array[Byte] = buf
    override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_hll_regs expects a string column, got ${child.dataType}")

    override def withNewMutableAggBufferOffset(
        newOffset: Int): HllRegisters =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): HllRegisters =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): HllRegisters = copy(child = newChild)
  }

  /** Column-API form: `hll_registers($"text", 8)`. */
  def hll_registers(c: Column, p: Int): Column =
    GraftShim.column(
      HllRegisters(GraftShim.expression(c), p).toAggregateExpression())

  /** Shared log2-linear bucketing kernel — ONE implementation of the
    * quantization/merge math used by both [[QuantileSketch]] (scalar
    * quantile estimate) and [[QsketchCounts]] (the raw sparse count
    * state for sketch ALGEBRA: merge = elementwise count SUM, so
    * per-shard/per-day sketches combine relationally — explode +
    * groupBy(bucket) + sum — without rescanning values).
    */
  private[functions] object QsketchCore {
    def newBuffer(s: Int): Array[Long] = {
      val subBuckets = 1 << (s + 1)
      val nShifts = 64 - (s + 1) + 1   // shift ∈ [0, 64-(s+1)]
      new Array[Long](nShifts * subBuckets)
    }

    def indexOf(v0: Long, s: Int): Int = {
      val v = if (v0 < 0) 0L else v0   // declared domain: non-negative
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(v)
      val shift = math.max(bitlen - (s + 1), 0)
      shift * (1 << (s + 1)) + (v >>> shift).toInt
    }

    /** Elementwise count sum — exactly associative/commutative. */
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var j = 0
      while (j < b1.length) { b1(j) += b2(j); j += 1 }
      b1
    }
  }

  /** Per-group quantile sketch over NON-NEGATIVE longs — the second
    * TypedImperativeAggregate (the HLL treatment applied to
    * quantiles). HDR-histogram-style log2-linear buckets (Tene's
    * HdrHistogram layout, also DDSketch's guarantee shape — Masson,
    * Rim, Lee, VLDB 2019): value v quantizes to
    *   shift = max(bitlength(v) − (s+1), 0);  qv = v >> shift
    *   index = shift · 2^(s+1) + qv
    * i.e. the top s+1 significant bits, which bounds RELATIVE error
    * at 2^−s while the state stays a bounded integer histogram —
    * every step (bucketing, counting, rank selection) is INTEGER
    * arithmetic, so the DuckDB oracle rebuilds the sketch bit-for-bit
    * from `bitlength` + shifts (the q145 trick: no float summation
    * order to coordinate).
    *
    * Estimate for quantile q: rank r = max(1, ceil(q·n)) (one IEEE
    * multiply+ceil, identical on both engines for n < 2^53), then the
    * LOWER EDGE (qv << shift) of the first bucket whose cumulative
    * count reaches r — a value ≤ the true rank-r element, within
    * 2^−s of it relatively.
    *
    * Scale: the point of the operator — a per-group quantile at
    * 100 TB carries ≤ (64−s)·2^(s+1) longs of mergeable state per
    * group through a normal partial+final aggregate instead of
    * sorting the group (exact percentile = global sort per group) or
    * collecting values. Merge = elementwise count sum: exactly
    * associative/commutative, so partitioning cannot change the
    * answer (PropertySpec).
    */
  case class QuantileSketch(child: Expression, q: Double, s: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]]
      with UnaryLike[Expression] {
    require(s >= 2 && s <= 8,
      s"qsketch sub-bucket bits s must be in [2,8], got $s")
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0,1], got $q")

    private val subBuckets = 1 << (s + 1)

    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_qsketch"

    override def createAggregationBuffer(): Array[Long] =
      QsketchCore.newBuffer(s)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) buf(QsketchCore.indexOf(v.asInstanceOf[Long], s)) += 1L
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      QsketchCore.merge(b1, b2)

    override def eval(buf: Array[Long]): Any = {
      var n = 0L
      var j = 0
      while (j < buf.length) { n += buf(j); j += 1 }
      if (n == 0L) null
      else {
        // keep this in sync with the Oracle17 SQL rank expression
        val rank = math.max(1L, math.ceil(q * n.toDouble).toLong)
        var cum = 0L
        var i = 0
        var res: Any = null
        while (res == null && i < buf.length) {
          cum += buf(i)
          if (cum >= rank) {
            val shift = i / subBuckets
            val qv = (i % subBuckets).toLong
            res = qv << shift
          }
          i += 1
        }
        res
      }
    }

    // sparse wire format: [nEntries:int][index:int,count:long]* — the
    // dense in-memory buffer has (64-s)·2^(s+1) slots but real groups
    // occupy only the magnitudes they contain
    override def serialize(buf: Array[Long]): Array[Byte] = {
      var nz = 0
      var j = 0
      while (j < buf.length) { if (buf(j) != 0L) nz += 1; j += 1 }
      val bb = java.nio.ByteBuffer.allocate(4 + nz * 12)
      bb.putInt(nz)
      j = 0
      while (j < buf.length) {
        if (buf(j) != 0L) { bb.putInt(j); bb.putLong(buf(j)) }
        j += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = createAggregationBuffer()
      var nz = bb.getInt
      while (nz > 0) { buf(bb.getInt) = bb.getLong; nz -= 1 }
      buf
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_qsketch expects a bigint column, got ${child.dataType}")

    override def withNewMutableAggBufferOffset(
        newOffset: Int): QuantileSketch =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): QuantileSketch =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): QuantileSketch = copy(child = newChild)
  }

  /** Column-API form: `qsketch_quantile($"n_chars".cast("long"), 0.5, 5)`. */
  def qsketch_quantile(c: Column, q: Double, s: Int): Column =
    GraftShim.column(
      QuantileSketch(GraftShim.expression(c), q, s).toAggregateExpression())

  /** The RAW sparse state of the same quantile sketch, as
    * array<struct<i:int, cnt:bigint>> sorted by bucket index — the
    * sketch-ALGEBRA form (the [[HllRegisters]] treatment applied to
    * quantiles). Two states merge by elementwise count SUM, which in
    * relational code is explode → groupBy(i) → sum(cnt): per-shard /
    * per-day / per-source sketches computed in ONE pass combine into
    * ANY grouping later without rescanning the values. Rank selection
    * over a merged state is a cumulative-sum window + a min(i) filter
    * (see Queries20.q165) — all integer arithmetic, so the combined
    * estimate stays bit-reproducible in DuckDB.
    */
  case class QsketchCounts(child: Expression, s: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]]
      with UnaryLike[Expression] {
    require(s >= 2 && s <= 8,
      s"qsketch sub-bucket bits s must be in [2,8], got $s")

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("i",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("cnt", LongType,
            nullable = false))), containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_qsketch_counts"

    override def createAggregationBuffer(): Array[Long] =
      QsketchCore.newBuffer(s)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) buf(QsketchCore.indexOf(v.asInstanceOf[Long], s)) += 1L
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      QsketchCore.merge(b1, b2)

    override def eval(buf: Array[Long]): Any = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var j = 0
      while (j < buf.length) {
        if (buf(j) != 0L)
          out += InternalRow(j, buf(j))
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }

    // same sparse wire format as QuantileSketch
    override def serialize(buf: Array[Long]): Array[Byte] = {
      var nz = 0
      var j = 0
      while (j < buf.length) { if (buf(j) != 0L) nz += 1; j += 1 }
      val bb = java.nio.ByteBuffer.allocate(4 + nz * 12)
      bb.putInt(nz)
      j = 0
      while (j < buf.length) {
        if (buf(j) != 0L) { bb.putInt(j); bb.putLong(buf(j)) }
        j += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = createAggregationBuffer()
      var nz = bb.getInt
      while (nz > 0) { buf(bb.getInt) = bb.getLong; nz -= 1 }
      buf
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_qsketch_counts expects a bigint column, got ${child.dataType}")

    override def withNewMutableAggBufferOffset(
        newOffset: Int): QsketchCounts =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(
        newOffset: Int): QsketchCounts =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(
        newChild: Expression): QsketchCounts = copy(child = newChild)
  }

  /** Column-API form: `qsketch_counts($"n_chars".cast("long"), 5)`. */
  def qsketch_counts(c: Column, s: Int): Column =
    GraftShim.column(
      QsketchCounts(GraftShim.expression(c), s).toAggregateExpression())
}
