package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.CountMin

/** Key→i64 for CMS bucketing: integrals use the raw value (the bucket mix
  * avalanches), fractionals bit-cast (−0.0 ≡ 0.0), strings/binaries
  * byte-hash — same arms and kernels as [[KmvHash]]/Hash64, so the DuckDB
  * oracle mirrors every arm. [[AtomicKey.cmsKey]] picks the arm. */
object CmsKey {
  // per-arm kernels, also called from generated code (CmsCount.doGenCode)
  @inline def doubleKey(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
  @inline def binaryKey(b: Array[Byte]): Long =
    graft.expr.TextHash.hashBytes(b, 0, b.length, 0L)
  @inline def utf8Key(s: UTF8String): Long = binaryKey(s.getBytes)
}

/** cms_agg(item[, depth, width]) → binary sketch: Count-Min frequency
  * sketch over any atomic column. NULLs are skipped. */
case class CountMinAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BlobSketchAggregate[CountMin]
  with TernaryLike[Expression] with ImplicitCastInputTypes with ConstantParams {

  def this(item: Expression, depth: Expression, width: Expression) =
    this(item, depth, width, 0, 0)
  def this(item: Expression) =
    this(item, Literal(4), Literal(1 << 12), 0, 0)

  private lazy val depth: Int = second.eval().asInstanceOf[Number].intValue()
  private lazy val width: Int = third.eval().asInstanceOf[Number].intValue()
  @transient private lazy val key: AtomicKey.Arm = AtomicKey.cmsKey(first.dataType)

  override def codec: SketchCodec[CountMin] = CountMinCodec
  override protected def constantParams: Seq[(String, Expression)] =
    Seq("depth" -> second, "width" -> third)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(AtomicKey.inputType(first.dataType), IntegerType, IntegerType)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_agg"

  override def createAggregationBuffer(): CountMin = new CountMin(depth, width)

  override def update(buf: CountMin, input: InternalRow): CountMin = {
    val v = first.eval(input)
    if (v != null) buf.add(key(v))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): CountMinAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): CountMinAgg = copy(first = f, second = s, third = t)
}
