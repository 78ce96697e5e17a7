package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.AbstractDataType
import org.apache.spark.sql.types._

import graft.core.KmvSketch
import graft.expr.TextHash

/** Value→hash for KMV: deterministic 64-bit, independent of partitioning.
  * Longs/doubles avalanche their bit pattern; strings/binaries hash their
  * bytes (FNV-1a + splitmix finish, same stable kernel as the text ops). */
object KmvHash {
  @inline def ofLong(v: Long): Long = TextHash.avalanche(v ^ 0x9e3779b97f4a7c15L)
  /** SQL DISTINCT semantics: −0.0 ≡ 0.0 (normalize before bit-casting;
    * doubleToLongBits already canonicalizes NaN). */
  @inline def ofDouble(v: Double): Long =
    ofLong(java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v))
  @inline def ofBytes(b: Array[Byte]): Long = TextHash.hashBytes(b, 0, b.length, 0L)
}

/** kmv_agg(value[, k]) → binary sketch: KMV distinct-value sketch over any
  * atomic column. NULLs are skipped (Spark agg convention); the sketch is
  * EXACT (true distinct count) while under k distinct values. */
case class KmvAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BlobSketchAggregate[KmvSketch]
  with BinaryLike[Expression] with ImplicitCastInputTypes with ConstantParams {

  def this(value: Expression) = this(value, Literal(1024))

  private lazy val k: Int = right.eval().asInstanceOf[Number].intValue()
  @transient private lazy val hash: AtomicKey.Arm = AtomicKey.kmvHash(left.dataType)

  override def codec: SketchCodec[KmvSketch] = KmvCodec
  override protected def constantParams: Seq[(String, Expression)] = Seq("k" -> right)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(AtomicKey.inputType(left.dataType), IntegerType)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_agg"

  override def createAggregationBuffer(): KmvSketch = {
    if (k < 2 || k > (1 << 20))
      throw new IllegalArgumentException("k must be in [2, 1048576]")
    new KmvSketch(k)
  }

  override def update(buf: KmvSketch, input: InternalRow): KmvSketch = {
    val v = left.eval(input)
    if (v != null) buf.add(hash(v))
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): KmvAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KmvAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvAgg =
    copy(left = l, right = r)
}
