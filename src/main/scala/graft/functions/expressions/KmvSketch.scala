package graft.functions.expressions

import java.nio.ByteBuffer

import graft.functions.JvmHash
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV ("k minimum values") theta sketch — the distinct-count sketch
  * whose artifacts support SET ALGEBRA: union by merge, intersection by
  * the theta rule. This is what HLL cannot do (HLL unions fine but has
  * no intersection), and what production sketch libraries ship as the
  * "theta sketch": audience overlap, cross-source dedup estimation,
  * retained-user counting — all from pre-aggregated per-partition
  * artifacts, never rescanning keys.
  *
  * The estimator: keep the k smallest DISTINCT 60-bit hashes of the key
  * stream. If fewer than k distinct hashes were ever seen the sketch is
  * EXACT (the set IS the distinct set). Otherwise the k-th minimum m
  * estimates the density: k−1 distinct values landed uniformly below
  * m/2^60, so distinct ≈ (k−1)·2^60/m. Intersection (theta rule):
  * θ = min(θ_A, θ_B) where θ is 2^60 for an exact sketch and the k-th
  * minimum otherwise; every retained hash < θ is a uniform sample of
  * the underlying set at rate θ/2^60, so |A∩B| ≈ |S_A ∩ S_B below θ| ·
  * 2^60/θ.
  *
  * Everything is DuckDB-replayable BIT-EXACTLY — the design choice that
  * separates this from engine-private sketches: hashes are the md5-
  * derived h60 (JvmHash ≡ PortableHash ≡ the SQL twin), "k smallest
  * distinct" is a window rank both engines share, and the estimates are
  * integer floor-divisions ((k−1)·2^60 exceeds int64, so the oracle
  * computes in HUGEINT and the engine in BigInt — same value). The
  * gates therefore compare the ESTIMATES themselves, not bounds.
  *
  * Scale shape: per-partition buffers hold ≤ k longs (2 KB at k=256);
  * merge is a sorted-set union trimmed to k — commutative, associative,
  * partitioning-invariant. Artifacts broadcast as ≤ 2 KB scalars and
  * intersect driver-free inside a projection.
  *
  * Artifact layout: [int32 k][int32 n][n int64 hashes, ascending] with
  * n ≤ k; n < k marks an exact sketch.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  def this(child: Expression) = this(child, KmvSketch.DefaultK, 0, 0)

  require(k >= 8 && k <= (1 << 16), s"k must be in [8, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_agg expects a string input, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = JvmHash.h60(v.asInstanceOf[UTF8String].toString)
      // Only insert when it could make the k-minimum set: cheap guard
      // that keeps the hot path O(log k) with zero churn once warm.
      if (buf.size < k) buf.add(h)
      else if (h < buf.last()) { buf.add(h); if (buf.size > k) buf.pollLast() }
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (b1.size < k) b1.add(h)
      else if (h < b1.last()) { b1.add(h); if (b1.size > k) b1.pollLast() }
    }
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = serialize(buf)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.size)
    bb.putInt(k)
    bb.putInt(buf.size)
    val it = buf.iterator() // TreeSet iterates ascending
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.getInt() // k — fixed per operator instance
    val n = bb.getInt()
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { out.add(bb.getLong()); i += 1 }
    out
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv_agg"
  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Union of pre-built KMV artifacts: sorted-set union trimmed to k —
  * the query-time merge over per-shard/per-micro-batch sketches. The
  * merged artifact is IDENTICAL to the sketch built over the union
  * stream (the k smallest distinct hashes of a union are the k smallest
  * of the pooled candidate sets), the property the gate pins. Same
  * loud-failure discipline as graft_cms_merge: headers validated,
  * mismatched k refuses. */
case class KmvMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends ArtifactMergeAgg("KMV") {

  def this(child: Expression) = this(child, 0, 0)

  override protected def validate(art: Array[Byte]): Unit =
    KmvSketch.validate(art, "graft_kmv_merge")

  override protected def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (ka, ha) = KmvSketch.parse(a)
    val (kb, hb) = KmvSketch.parse(b)
    require(ka == kb,
      s"graft_kmv_merge: mismatched k ($ka / $kb) — sketches built with " +
        "different k cannot merge")
    // Sorted-merge the two ascending arrays, dedup, trim to k.
    val out = new Array[Long](math.min(ka, ha.length + hb.length))
    var i = 0; var j = 0; var n = 0
    var last = -1L
    while (n < out.length && (i < ha.length || j < hb.length)) {
      val v =
        if (j >= hb.length || (i < ha.length && ha(i) <= hb(j))) { val x = ha(i); i += 1; x }
        else { val x = hb(j); j += 1; x }
      if (v != last) { out(n) = v; n += 1; last = v }
    }
    val bb = ByteBuffer.allocate(8 + 8 * n)
    bb.putInt(ka); bb.putInt(n)
    var t = 0
    while (t < n) { bb.putLong(out(t)); t += 1 }
    bb.array()
  }

  override protected def empty(): Array[Byte] = KmvSketch.emptyArtifact()

  override def prettyName: String = "graft_kmv_merge"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Distinct-count estimate from a KMV artifact (see [[KmvSketch.estimate]]). */
case class KmvEstimate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kmv_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_estimate expects a binary KMV artifact, got ${child.dataType.catalogString}")

  override def nullSafeEval(art: Any): Any =
    KmvSketch.estimate(art.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.KmvSketch.estimate($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection-cardinality estimate of two KMV artifacts by the theta
  * rule (see [[KmvSketch.intersect]]). */
case class KmvIntersect(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kmv_intersect"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_intersect expects (binary, binary), got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    KmvSketch.intersect(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.KmvSketch.intersect($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object KmvSketch {
  /** 256 minima: relative standard error ≈ 1/√(k−2) ≈ 6.3%, 2 KB. */
  val DefaultK = 256

  /** Hash-space size: h60 is uniform on [0, 2^60). */
  val Space: Long = 1L << 60

  def emptyArtifact(): Array[Byte] = {
    val bb = ByteBuffer.allocate(8)
    bb.putInt(DefaultK); bb.putInt(0)
    bb.array()
  }

  private[expressions] def validate(art: Array[Byte], who: String): Unit = {
    require(art.length >= 8 && (art.length - 8) % 8 == 0,
      s"$who: ${art.length} B is not a KMV artifact " +
        "(expected [int32 k][int32 n][n int64 ascending hashes])")
    val bb = ByteBuffer.wrap(art)
    val k = bb.getInt(); val n = bb.getInt()
    require(k >= 8 && k <= (1 << 16) && n >= 0 && n <= k &&
        art.length == 8 + 8 * n,
      s"$who: artifact header k=$k n=$n inconsistent with ${art.length} B " +
        "— not a graft_kmv artifact")
  }

  private[expressions] def parse(art: Array[Byte]): (Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(art)
    val k = bb.getInt()
    val n = bb.getInt()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = bb.getLong(); i += 1 }
    (k, hs)
  }

  /** θ of a sketch: the full hash space when exact, else the k-th
    * minimum (the largest retained hash). */
  private def theta(k: Int, hs: Array[Long]): Long =
    if (hs.length < k) Space else hs(hs.length - 1)

  /** Distinct estimate: exact below k, else floor((k−1)·2^60 / m). The
    * product exceeds int64, so it is computed exactly in BigInt (the
    * oracle's HUGEINT twin) and capped at Long.MaxValue. */
  def estimate(art: Array[Byte]): Long = {
    validate(art, "graft_kmv_estimate")
    val (k, hs) = parse(art)
    if (hs.length < k) hs.length.toLong
    else clamp(BigInt(k - 1) * BigInt(Space) / BigInt(hs(hs.length - 1)))
  }

  /** Theta-rule intersection estimate: hashes retained below
    * θ = min(θ_A, θ_B) are a uniform θ/2^60 sample of each set, so the
    * strictly-below-θ matches scale back by 2^60/θ. Exact when both
    * sketches are exact (θ = 2^60 and the match count IS the answer). */
  def intersect(a: Array[Byte], b: Array[Byte]): Long = {
    validate(a, "graft_kmv_intersect")
    validate(b, "graft_kmv_intersect")
    val (ka, ha) = parse(a)
    val (kb, hb) = parse(b)
    val th = math.min(theta(ka, ha), theta(kb, hb))
    var i = 0; var j = 0; var m = 0L
    while (i < ha.length && j < hb.length && ha(i) < th && hb(j) < th) {
      if (ha(i) == hb(j)) { m += 1; i += 1; j += 1 }
      else if (ha(i) < hb(j)) i += 1
      else j += 1
    }
    if (th == Space) m // both exact: the count is exact
    else clamp(BigInt(m) * BigInt(Space) / BigInt(th))
  }

  // DuckDB twins of the estimates, for the oracles. Each reads the rank
  // window of rankSql (columns h, rk, nd) inside an aggregate, one group
  // per sketch; DefaultK and Space size them like the engine's sketches.

  /** The rank window over the distinct hashes `h` of `hashes`, per `by`
    * group when one is named: rk is the 1-based ascending rank, nd the
    * group's distinct count. */
  def rankSql(hashes: String, by: String = ""): String = {
    val (cols, part) = if (by.isEmpty) ("h", "") else (s"$by, h", s"PARTITION BY $by")
    s"SELECT $cols, ROW_NUMBER() OVER ($part ORDER BY h) AS rk, COUNT(*) OVER ($part) AS nd FROM $hashes"
  }

  /** [[estimate]] of the default-k sketch of one rank-window group: exact
    * below k, else the HUGEINT floor division, bit-equal to the BigInt. */
  def estimateSql: String =
    s"""CASE WHEN MAX(nd) < $DefaultK THEN CAST(MAX(nd) AS BIGINT)
             ELSE CAST(CAST(${DefaultK - 1} AS HUGEINT) * $Space //
                  MAX(CASE WHEN rk = $DefaultK THEN h END) AS BIGINT) END"""

  /** [[theta]] of the default-k sketch of one rank-window group. */
  def thetaSql: String =
    s"""CASE WHEN MAX(nd) < $DefaultK THEN $Space
             ELSE MAX(CASE WHEN rk = $DefaultK THEN h END) END"""

  /** [[intersect]]'s theta rule: `matches` retained hashes below `theta`,
    * scaled back by 2^60/theta unless both sketches are exact. */
  def intersectSql(matches: String, theta: String): String =
    s"""CASE WHEN $theta = $Space THEN CAST($matches AS BIGINT)
             ELSE CAST(CAST($matches AS HUGEINT) * $Space //
                  $theta AS BIGINT) END"""

  private def clamp(v: BigInt): Long =
    if (v > BigInt(Long.MaxValue)) Long.MaxValue else v.toLong
}
