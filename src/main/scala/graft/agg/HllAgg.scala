package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

import graft.core.Hll

/** hll_agg(value[, p]) → binary sketch: HyperLogLog cardinality sketch
  * over any atomic column (default precision p = 12 → 4 KiB registers,
  * ~1.6% standard error). Value hashing is [[KmvHash]]'s arms — the same
  * distinctness semantics as kmv_agg, so the two sketches are
  * drop-in-comparable. NULLs are skipped. */
case class HllAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BlobSketchAggregate[Hll]
  with BinaryLike[Expression] with ImplicitCastInputTypes with ConstantParams {

  def this(value: Expression) = this(value, Literal(12))

  private lazy val p: Int = right.eval().asInstanceOf[Number].intValue()
  @transient private lazy val hash: AtomicKey.Arm = AtomicKey.kmvHash(left.dataType)

  override def codec: SketchCodec[Hll] = HllCodec
  override protected def constantParams: Seq[(String, Expression)] = Seq("precision" -> right)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(AtomicKey.inputType(left.dataType), IntegerType)
  override def nullable: Boolean = false
  override def prettyName: String = "hll_agg"

  override def createAggregationBuffer(): Hll = {
    if (p < 4 || p > 16)
      throw new IllegalArgumentException("precision must be in [4, 16]")
    new Hll(p)
  }

  override def update(buf: Hll, input: InternalRow): Hll = {
    val v = left.eval(input)
    if (v != null) buf.add(hash(v))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): HllAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllAgg =
    copy(left = l, right = r)
}
