package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Merge of finished sketch artifacts (`graft_bloom_merge`,
  * `graft_cms_merge`, `graft_kmv_merge`): collapses any number of binary
  * artifact rows into one. The buffer IS an artifact, so partials
  * (de)serialize as themselves.
  *
  * The merges are SQL-exposed, so the artifact column can be any binary
  * column: every non-null data row is validated before a byte of it is
  * read, a zero-length one included (a truncated artifact is not an empty
  * sketch, and skipping it would lose every key it held). Only `merge` of
  * two internal buffers treats an empty buffer as "no rows yet", which is
  * what a row-less partition legitimately ships. Null rows are skipped,
  * and zero input rows yield the sketch's empty artifact.
  *
  * Each sketch supplies [[validate]], [[combine]] and [[empty]]; `kind`
  * names its artifact in the input type error. (Serializable because
  * Java deserialization of the case classes needs every superclass with
  * constructor parameters to be serializable.) */
abstract class ArtifactMergeAgg(kind: String)
  extends TypedImperativeAggregate[Array[Byte]] with Serializable {

  def child: Expression

  /** Throws unless `art` is a well-formed artifact of this sketch. */
  protected def validate(art: Array[Byte]): Unit

  /** Folds the validated artifact `art` into the non-empty buffer `buf`
    * (which it may update in place); throws if their shapes differ. */
  protected def combine(buf: Array[Byte], art: Array[Byte]): Array[Byte]

  /** The artifact of an empty input. */
  protected def empty(): Array[Byte]

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary $kind artifact, got ${child.dataType.catalogString}")

  // Empty marker until the first artifact arrives — the artifact's own
  // header fixes the shape, so the buffer can't pre-commit to one.
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def absorb(buf: Array[Byte], art: Array[Byte]): Array[Byte] =
    if (buf.isEmpty) art.clone() else combine(buf, art)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val art = v.asInstanceOf[Array[Byte]]
      validate(art)
      absorb(buf, art)
    }
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    if (b2.isEmpty) b1 else absorb(b1, b2)

  override def eval(buf: Array[Byte]): Any = if (buf.isEmpty) empty() else buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
}
