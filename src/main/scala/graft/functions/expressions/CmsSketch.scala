package graft.functions.expressions

import java.nio.ByteBuffer

import graft.functions.JvmHash
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch as a native aggregate + point-frequency probe pair
  * (`graft_cms_agg` / `graft_cms_estimate`) — the bounded-memory
  * frequency table for heavy-hitter screening, rate limiting, and
  * join-cardinality hints over key spaces far too large to count
  * exactly.
  *
  * Scale shape: each partition aggregates map-side into one depth×width
  * Long grid (~16 KB at the defaults) that merges by ELEMENTWISE SUM —
  * commutative and associative, so partials combine in any order and the
  * finished artifact is partitioning-invariant. The artifact then
  * broadcasts as a few-KB binary scalar; `graft_cms_estimate` probes it
  * inside whole-stage codegen with two multiplies and a min-loop per
  * row. At 100 TB the sketch replaces a full groupBy of the key space
  * with one fixed-size buffer per task — the shuffle carries d·w longs
  * per partition, independent of cardinality.
  *
  * Guarantees (both oracle-gated in `q_cms_freq`):
  *  - NO UNDERESTIMATE: est(k) ≥ true count(k), always — every
  *    occurrence of k lands in all d of its counters.
  *  - Bounded overestimate: est(k) ≤ count(k) + εN with probability
  *    1−(1/2)^d for ε = e/width (collisions only ever ADD).
  *
  * Unlike the bloom pair (whose Kirsch-Mitzenmacher md5 hashing is
  * engine-private and gated by contract), the CMS rows hash PORTABLY
  * over h60p(key), so a DuckDB oracle recomputes the ESTIMATES
  * THEMSELVES exactly, not just the inequalities. The row family is NOT
  * `JvmHash.seeded`: its multipliers are LINEAR in the seed
  * (a_i = A·(i+1) mod P), so any key pair whose h60p difference δ has
  * A·δ mod P divisible by the width without wrapping P collides in
  * EVERY row — ~1/width of all pairs, observed immediately on a 60-key
  * fixture — and the depth then buys nothing for exactly the pairs the
  * min is supposed to rescue. Each CMS row instead draws INDEPENDENT
  * Carter-Wegman constants from md5 ([[CmsSketch.rowA]]/[[CmsSketch
  * .rowB]]): pairwise-independent within a row, independent across
  * rows, and still one md5 per KEY (the row constants are per-operator,
  * not per-row-per-key). [[CmsSketch.DefaultWidth]] is PRIME so both
  * reductions (mod P, then mod width) are by primes — reducing mod a
  * power of two would bias the low bits, the other failure mode the
  * bloom scaladoc documents.
  *
  * Artifact layout: [int32 depth][int32 width][depth·width int64 counters,
  * row-major, big-endian] — the probe derives its shape from the artifact
  * itself, so a stored sketch cannot be misread with mismatched
  * parameters.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends TypedImperativeAggregate[Array[Long]] {

  def this(child: Expression) = this(child, CmsSketch.DefaultDepth, CmsSketch.DefaultWidth, 0, 0)

  require(depth > 0 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width > 1 && width <= (1 << 20), s"width must be in [2,2^20], got $width")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_agg expects a string input, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  // Shared per-JVM constants; depth <= 16 is enforced above.
  @transient private lazy val rowAs: Array[Long] = CmsSketch.RowAs
  @transient private lazy val rowBs: Array[Long] = CmsSketch.RowBs

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = JvmHash.h60p(v.asInstanceOf[UTF8String].toString)
      var i = 0
      while (i < depth) {
        buf(i * width + (((rowAs(i) * h + rowBs(i)) % JvmHash.P) % width).toInt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.length)
    bb.putInt(depth)
    bb.putInt(width)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  // Shuffle partials reuse the artifact layout so serialize/deserialize
  // stay trivially dual (same discipline as BloomSketchAgg).
  override def serialize(buf: Array[Long]): Array[Byte] = eval(buf).asInstanceOf[Array[Byte]]

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.getInt(); bb.getInt() // depth/width — fixed per operator instance
    val out = new Array[Long]((bytes.length - 8) / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms_agg"
  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Merge of pre-built CMS artifacts by elementwise counter SUM — the
  * pre-aggregated-sketch maintenance pattern the HLL and bloom merges
  * already pin (q_hll_merge / the bloom generation rotation): per-shard
  * or per-micro-batch sketches persist as rows, and a query-time merge
  * reconstructs the global sketch WITHOUT rescanning any keys. Because
  * counter addition is commutative and associative, a merge of partials
  * is BYTE-IDENTICAL to the sketch built over the union stream — the
  * property stream_cms_live gates end-to-end.
  *
  * Same SQL-exposure discipline as [[BloomSketchAgg]]'s merge: arbitrary
  * binaries must fail loudly (header validated before any byte is
  * touched), and artifacts with mismatched depth/width refuse to merge.
  */
case class CmsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends ArtifactMergeAgg("CMS") {

  def this(child: Expression) = this(child, 0, 0)

  override protected def validate(art: Array[Byte]): Unit =
    CmsSketch.validate(art, "graft_cms_merge")

  override protected def combine(buf: Array[Byte], art: Array[Byte]): Array[Byte] = {
    require(buf.length == art.length &&
        java.util.Arrays.equals(buf, 0, 8, art, 0, 8),
      s"graft_cms_merge: mismatched artifact shapes (${buf.length} B / " +
        s"${art.length} B) — sketches built with different depth/width cannot merge")
    val b = ByteBuffer.wrap(buf)
    val a = ByteBuffer.wrap(art)
    var off = 8
    while (off < buf.length) {
      b.putLong(off, b.getLong(off) + a.getLong(off))
      off += 8
    }
    buf
  }

  // An all-null/empty group yields the default-shape zero sketch: every
  // estimate 0, which IS the sketch of an empty stream.
  override protected def empty(): Array[Byte] = CmsSketch.emptyArtifact()

  override def prettyName: String = "graft_cms_merge"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Point-frequency estimate against a graft_cms_agg artifact: the MIN of
  * the key's d counters. Codegen emits a static call so the probe stays
  * inside whole-stage codegen. */
case class CmsEstimate(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cms_estimate expects (binary, string), got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def nullSafeEval(cms: Any, key: Any): Any =
    CmsSketch.estimate(cms.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, k) =>
      s"${ev.value} = graft.functions.expressions.CmsSketch.estimate($c, $k.toString());")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CmsSketch {
  /** 4 rows: overestimate beyond εN with probability (1/2)^4 ≈ 6%. */
  val DefaultDepth = 4

  /** PRIME width (largest prime < 512): ε = e/509 ≈ 0.53% of stream
    * length; ~16 KB of counters at depth 4. See the class scaladoc for
    * why prime, not a power of two. */
  val DefaultWidth = 509

  /** Row-i Carter-Wegman multiplier in [1, P−1]: md5-derived so rows are
    * INDEPENDENT (see the class scaladoc for the linear-seed failure),
    * md5-derived so DuckDB recomputes it bit-equal ([[rowASql]]). */
  def rowA(i: Int): Long = JvmHash.h60p(s"graft-cms-a-$i") % (JvmHash.P - 1) + 1

  /** Row-i offset in [0, P−1]. */
  def rowB(i: Int): Long = JvmHash.h60p(s"graft-cms-b-$i")

  // Precomputed for the max depth (16): 32 md5s once per JVM, so the
  // codegen'd per-row probe never touches MessageDigest for constants.
  private[expressions] val RowAs: Array[Long] = Array.tabulate(16)(rowA)
  private[expressions] val RowBs: Array[Long] = Array.tabulate(16)(rowB)

  /** DuckDB twins of [[rowA]]/[[rowB]]/the bucket map, for oracle reuse —
    * `i` is a SQL expression evaluating to the row index. */
  def rowASql(i: String): String =
    s"(${graft.functions.PortableHash.h60pSql(s"('graft-cms-a-' || CAST($i AS VARCHAR))")} % 1000000006 + 1)"
  def rowBSql(i: String): String =
    graft.functions.PortableHash.h60pSql(s"('graft-cms-b-' || CAST($i AS VARCHAR))")
  private def bucketSql(h: String, i: String): String =
    s"(((${rowASql(i)} * $h + ${rowBSql(i)}) % 1000000007) % $DefaultWidth)"

  /** The DuckDB replay of a default-shape sketch's point estimates, as
    * the CTEs `keyed, hashed, counters, probes, est`. `keyed` is the body
    * of the first: one row per key, `k` BIGINT and its `exact_cnt`.
    * Counter (i, b) sums the exact counts of the keys that row i buckets
    * to b; `probes` are the 20 most frequent keys (ties to the smaller
    * k), and `est` gives each its `est_cnt`, the min over its counters. */
  def estimateCtesSql(keyed: String): String =
    s"""keyed AS (
            $keyed),
          hashed AS (
            SELECT k, exact_cnt, seeds.i AS i,
                   ${bucketSql(graft.functions.PortableHash.h60pSql("CAST(k AS VARCHAR)"), "seeds.i")} AS b
            FROM keyed CROSS JOIN range($DefaultDepth) seeds(i)),
          counters AS (
            SELECT i, b, SUM(exact_cnt) AS cnt FROM hashed GROUP BY 1, 2),
          probes AS (
            SELECT k, exact_cnt FROM keyed ORDER BY exact_cnt DESC, k LIMIT 20),
          est AS (
            SELECT h.k, MIN(c.cnt) AS est_cnt
            FROM hashed h JOIN counters c ON h.i = c.i AND h.b = c.b
            WHERE h.k IN (SELECT k FROM probes)
            GROUP BY h.k)"""

  /** The default-shape all-zero artifact (the sketch of an empty
    * stream) — graft_cms_merge's identity element. */
  def emptyArtifact(): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * DefaultDepth * DefaultWidth)
    bb.putInt(DefaultDepth)
    bb.putInt(DefaultWidth)
    bb.array()
  }

  /** The CMS artifact header check, shared by every reader: depth and
    * width in the ranges the aggregate allows, and a length that holds
    * exactly depth·width counters. `who` prefixes the failure. */
  private[expressions] def validate(art: Array[Byte], who: String): Unit = {
    require(art.length >= 8 + 8 && (art.length - 8) % 8 == 0,
      s"$who: ${art.length} B is not a CMS artifact " +
        "(expected [int32 depth][int32 width][depth*width int64 counters])")
    val bb = ByteBuffer.wrap(art)
    val depth = bb.getInt(); val width = bb.getInt()
    require(depth > 0 && depth <= 16 && width > 1 && width <= (1 << 20) &&
        art.length == 8 + 8 * depth * width,
      s"$who: artifact header depth=$depth width=$width inconsistent " +
        s"with ${art.length} B — not a graft_cms artifact")
  }

  /** Static probe shared by the interpreted and codegen paths.
    *
    * Header-validated like the bloom probes: graft_cms_estimate is
    * SQL-exposed, so an arbitrary binary must fail loudly, not index out
    * of bounds or return a garbage minimum. */
  def estimate(artifact: Array[Byte], key: String): Long = {
    validate(artifact, "graft_cms_estimate")
    val bb = ByteBuffer.wrap(artifact)
    val depth = bb.getInt()
    val width = bb.getInt()
    val h = JvmHash.h60p(key)
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = bb.getLong(8 + 8 * (i * width + (((RowAs(i) * h + RowBs(i)) % JvmHash.P) % width).toInt))
      if (c < min) min = c
      i += 1
    }
    min
  }
}
