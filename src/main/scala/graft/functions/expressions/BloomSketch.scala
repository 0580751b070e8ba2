package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable bloom filter as a native Catalyst aggregate + probe pair
  * (`graft_bloom_agg` / `graft_bloom_contains`) — DIY runtime-filter
  * semi-join pruning.
  *
  * Spark's own BloomFilterAggregate/BloomFilterMightContain exist but are
  * internal-only (not in the public FunctionRegistry); this pair exposes
  * the same capability as a first-class library function, with the
  * md5-derived PortableHash ≡ JvmHash family so the filter's bit pattern
  * is deterministic cross-run, cross-partitioning, and cross-engine.
  *
  * Scale shape (the point of the operator): the BUILD side aggregates
  * map-side — each partition ships one `numBits/8`-byte partial that
  * merges by bitwise OR — and the finished filter is a few-KB binary
  * scalar that BROADCASTS to the probe side, where `graft_bloom_contains`
  * runs inside whole-stage codegen as a map-only filter. At 100 TB this
  * prunes the big table BEFORE its shuffle (the InjectRuntimeFilter
  * pattern), turning a shuffle-both-sides semi-join into a broadcast of
  * 8 KB plus a pruned scan. No false negatives by construction; the
  * false-positive rate for n keys in m bits with k hashes is
  * (1 - e^(-kn/m))^k — sized by the caller, gated in q_bloom_join.
  *
  * Artifact layout: [int32 numHashes][bitset longs, big-endian] — the
  * probe derives k and numBits from the artifact itself, so a stored
  * filter can't be misread with mismatched parameters.
  */
case class BloomSketchAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends TypedImperativeAggregate[Array[Long]] {

  def this(child: Expression) = this(child, BloomSketch.DefaultBits, BloomSketch.DefaultHashes, 0, 0)

  require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64, got $numBits")
  require(numHashes > 0 && numHashes <= 16, s"numHashes must be in [1,16], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_agg expects a string input, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      BloomSketch.setBits(buf, numBits, numHashes, v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(numHashes)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  // The aggregation buffer IS the bitset; shuffle partials reuse the same
  // artifact layout as eval so serialize/deserialize stay trivially dual.
  override def serialize(buf: Array[Long]): Array[Byte] = eval(buf).asInstanceOf[Array[Byte]]

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.getInt() // numHashes — fixed per operator instance
    val out = new Array[Long]((bytes.length - 4) / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_agg"
  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Bitwise-OR union of finished bloom artifacts (`graft_bloom_merge`):
  * collapses ANY number of artifact rows into the single filter accepting
  * every key inserted into any input — a union bloom has no false
  * negatives for any constituent's keys, by construction. This is the
  * one-row guarantee Graft.bloomProbe needs: probing a grouped build
  * (one artifact per group) must not cross-join N artifact rows into the
  * probe side and duplicate every surviving row (round-4 ADVICE).
  * Artifacts with different parameters (bit count or hash count, both
  * recorded in the layout) cannot be OR-ed meaningfully and fail fast.
  * Zero input rows yield an all-zero default-shape artifact — a probe
  * against an empty build correctly rejects every key. */
case class BloomMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int,
    override val inputAggBufferOffset: Int)
  extends ArtifactMergeAgg("bloom") {

  def this(child: Expression) = this(child, 0, 0)

  override protected def validate(art: Array[Byte]): Unit =
    BloomSketch.validate(art, "graft_bloom_merge")

  override protected def combine(buf: Array[Byte], art: Array[Byte]): Array[Byte] = {
    require(buf.length == art.length &&
        ByteBuffer.wrap(buf).getInt() == ByteBuffer.wrap(art).getInt(),
      s"graft_bloom_merge: mismatched artifact shapes (${buf.length} B / " +
        s"${art.length} B) — filters built with different numBits/numHashes cannot merge")
    var i = 4 // headers equal; OR only the bitset words
    while (i < buf.length) { buf(i) = (buf(i) | art(i)).toByte; i += 1 }
    buf
  }

  override protected def empty(): Array[Byte] = BloomSketch.emptyArtifact()

  override def prettyName: String = "graft_bloom_merge"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Membership probe against a graft_bloom_agg artifact. True ⇒ maybe
  * present (FPR-bounded); false ⇒ definitely absent. Codegen emits a
  * static call so the probe stays inside whole-stage codegen with zero
  * per-row allocation beyond the hash.
  */
case class BloomContains(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects (binary, string), got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def nullSafeEval(bloom: Any, key: Any): Any =
    BloomSketch.contains(bloom.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, k) =>
      s"${ev.value} = graft.functions.expressions.BloomSketch.contains($b, $k.toString());")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomSketch {
  /** 2^16 bits = 8 KB: FPR ≈ 2e-4 for n=3000 keys at k=6; still < 1% at
    * n=12k. Callers with bigger build sides size up via the 3-arg form. */
  val DefaultBits = 1 << 16
  val DefaultHashes = 6

  // graft_bloom_contains runs once per PROBE-SIDE row — per-row
  // MessageDigest.getInstance would be the hot-path allocation the
  // scaladoc promises not to make. (JvmHash.h60 keeps the simple form;
  // it documents driver-side/low-volume use.)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Two independent 64-bit halves of the key's md5 for Kirsch-
    * Mitzenmacher double hashing (idx_j = h1 + j·h2 mod m). NOT the
    * `JvmHash.seeded` family: its seeds are linear in j (a_j = A·(j+1)),
    * and reducing an even-multiplier hash mod a power-of-two bit count
    * drops low bits — the k probes decorrelate from theory and the
    * measured FPR inflates ~38× (caught by graft.Stress). h2 is forced
    * odd so the stride has full period mod 2^t. */
  private def kmHashes(key: String): (Long, Long) = {
    val md = md5.get()
    md.reset()
    val dig = md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 8) { h1 = (h1 << 8) | (dig(i) & 0xffL); i += 1 }
    while (i < 16) { h2 = (h2 << 8) | (dig(i) & 0xffL); i += 1 }
    (h1, h2 | 1L)
  }

  private def bitIndex(h1: Long, h2: Long, j: Int, numBits: Int): Int =
    java.lang.Math.floorMod(h1 + j.toLong * h2, numBits.toLong).toInt

  def setBits(buf: Array[Long], numBits: Int, numHashes: Int, key: String): Unit = {
    val (h1, h2) = kmHashes(key)
    var j = 0
    while (j < numHashes) {
      val idx = bitIndex(h1, h2, j, numBits)
      buf(idx >> 6) |= (1L << (idx & 63))
      j += 1
    }
  }

  /** Empty artifact in the same layout eval() produces — for callers
    * (e.g. streaming state) that grow a filter incrementally. */
  def emptyArtifact(numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Array[Byte] = {
    require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64, got $numBits")
    // numHashes <= 0 would make contains() vacuously true for EVERY key —
    // a consumer like dedupApproxByBloom would silently drop its whole
    // stream. Same bounds as the aggregate.
    require(numHashes > 0 && numHashes <= 16, s"numHashes must be in [1,16], got $numHashes")
    val bb = ByteBuffer.allocate(4 + numBits / 8)
    bb.putInt(numHashes)
    bb.array()
  }

  /** Set `key`'s bits directly in an artifact, in place — the streaming-
    * state mutation path (bounded O(m) state however many keys stream
    * through). Bit addressing matches eval()'s big-endian long layout,
    * pinned against the aggregate build in BloomSketchSpec. */
  def addToArtifact(artifact: Array[Byte], key: String): Unit = {
    // A malformed artifact in the streaming-state path must fail fast
    // here, not scribble bytes or silently no-op.
    validate(artifact, "addToArtifact")
    val numHashes = ByteBuffer.wrap(artifact).getInt()
    val numBits = (artifact.length - 4) * 8
    val (h1, h2) = kmHashes(key)
    var j = 0
    while (j < numHashes) {
      val idx = bitIndex(h1, h2, j, numBits)
      val b = idx & 63
      // big-endian long word: value-bit b lives in byte (7 - b/8) of the word
      val byteOff = 4 + (idx >> 6) * 8 + (7 - (b >> 3))
      artifact(byteOff) = (artifact(byteOff) | (1 << (b & 7)).toByte).toByte
      j += 1
    }
  }

  /** The bloom artifact header check, shared by every reader: at least
    * one bitset word after the header (a 4-byte header-only blob would
    * make a probe divide by numBits = 0), and numHashes in the range the
    * aggregate allows. An arbitrary binary whose leading int32 is <= 0
    * would make a probe vacuously TRUE for every key. `who` prefixes the
    * failure. */
  private[expressions] def validate(art: Array[Byte], who: String): Unit = {
    require(art.length >= 12 && (art.length - 4) % 8 == 0,
      s"$who: ${art.length} B is not a bloom artifact " +
        "(expected [int32 numHashes][>=1 8-byte bitset words])")
    val numHashes = ByteBuffer.wrap(art).getInt()
    require(numHashes > 0 && numHashes <= 16,
      s"$who: artifact header numHashes=$numHashes outside [1,16] — not a graft_bloom artifact")
  }

  /** Static probe shared by the interpreted and codegen paths.
    *
    * Header-validated like graft_bloom_merge, since graft_bloom_contains
    * is SQL-exposed. Three int compares per probe, noise next to the two
    * hashes kmHashes computes anyway. */
  def contains(artifact: Array[Byte], key: String): Boolean = {
    validate(artifact, "graft_bloom_contains")
    val bb = ByteBuffer.wrap(artifact)
    val numHashes = bb.getInt()
    val numBits = (artifact.length - 4) * 8
    val (h1, h2) = kmHashes(key)
    var j = 0
    while (j < numHashes) {
      val idx = bitIndex(h1, h2, j, numBits)
      val word = bb.getLong(4 + (idx >> 6) * 8)
      if ((word & (1L << (idx & 63))) == 0L) return false
      j += 1
    }
    true
  }
}
