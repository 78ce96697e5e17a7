package graft.agg

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The byte form and merge of one sketch type: everything an aggregate needs
  * from a sketch except its per-row add. `name` is the sketch's SQL prefix
  * (`tdigest` → `tdigest_merge_agg`). `merge` folds `b` into `a` in place. */
abstract class SketchCodec[S](val name: String) extends Serializable {
  def fromBytes(b: Array[Byte]): S
  def toBytes(s: S): Array[Byte]
  def merge(a: S, b: S): Unit
  override def toString: String = name
}

object TDigestCodec extends SketchCodec[TDigest]("tdigest") {
  def fromBytes(b: Array[Byte]): TDigest = TDigest.deserialize(b)
  def toBytes(s: TDigest): Array[Byte] = s.serialize()
  def merge(a: TDigest, b: TDigest): Unit = a.merge(b)
}

object SpaceSavingCodec extends SketchCodec[SpaceSavingBase]("ss") {
  def fromBytes(b: Array[Byte]): SpaceSavingBase = SpaceSaving.deserialize(b)
  def toBytes(s: SpaceSavingBase): Array[Byte] = s.serialize()
  def merge(a: SpaceSavingBase, b: SpaceSavingBase): Unit = a.mergeBase(b)
}

object HllCodec extends SketchCodec[Hll]("hll") {
  def fromBytes(b: Array[Byte]): Hll = Hll.deserialize(b)
  def toBytes(s: Hll): Array[Byte] = s.serialize()
  def merge(a: Hll, b: Hll): Unit = a.merge(b)
}

object KmvCodec extends SketchCodec[KmvSketch]("kmv") {
  def fromBytes(b: Array[Byte]): KmvSketch = KmvSketch.deserialize(b)
  def toBytes(s: KmvSketch): Array[Byte] = s.serialize()
  def merge(a: KmvSketch, b: KmvSketch): Unit = a.merge(b)
}

object CountMinCodec extends SketchCodec[CountMin]("cms") {
  def fromBytes(b: Array[Byte]): CountMin = CountMin.deserialize(b)
  def toBytes(s: CountMin): Array[Byte] = s.serialize()
  def merge(a: CountMin, b: CountMin): Unit = a.merge(b)
}

object MomentsCodec extends SketchCodec[MomentsSketch]("stats") {
  def fromBytes(b: Array[Byte]): MomentsSketch = MomentsSketch.deserialize(b)
  def toBytes(s: MomentsSketch): Array[Byte] = s.serialize()
  def merge(a: MomentsSketch, b: MomentsSketch): Unit = a.merge(b)
}

object ExactSumCodec extends SketchCodec[ExactSum]("exact_sum") {
  def fromBytes(b: Array[Byte]): ExactSum = ExactSum.deserialize(b)
  def toBytes(s: ExactSum): Array[Byte] = s.serialize()
  def merge(a: ExactSum, b: ExactSum): Unit = a.merge(b)
}

/** The merge / serialize / deserialize half of every sketch aggregate, from
  * its codec. A NULL buffer means "no sketch yet" — only a merge aggregate
  * holds one, until it adopts the first sketch it sees (and with it that
  * sketch's parameters) — and travels between partial and final aggregation
  * as zero bytes. */
trait SketchAggregate[S >: Null <: AnyRef] extends TypedImperativeAggregate[S] {
  def codec: SketchCodec[S]

  override def merge(b1: S, b2: S): S =
    if (b1 == null) b2 else { if (b2 != null) codec.merge(b1, b2); b1 }
  override def serialize(buf: S): Array[Byte] =
    if (buf == null) Array.emptyByteArray else codec.toBytes(buf)
  override def deserialize(b: Array[Byte]): S =
    if (b.isEmpty) null else codec.fromBytes(b)
}

/** A sketch aggregate whose result is the serialized sketch (NULL while it
  * holds none). */
trait BlobSketchAggregate[S >: Null <: AnyRef] extends SketchAggregate[S] {
  override def dataType: DataType = BinaryType
  override def eval(buf: S): Any = if (buf == null) null else codec.toBytes(buf)
}

/** `<name>_merge_agg(sketch)` → merged sketch: re-aggregates a stored sketch
  * column of one codec (persist → read → merge). Parameters (compression,
  * capacity, key type, precision, k, depth × width) come from the sketches
  * themselves; an empty or all-NULL group yields NULL. */
case class SketchMergeAgg[S >: Null <: AnyRef](
    child: Expression,
    codec: SketchCodec[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BlobSketchAggregate[S] with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def nullable: Boolean = true
  override def prettyName: String = s"${codec.name}_merge_agg"

  override def createAggregationBuffer(): S = null

  override def update(buf: S, input: InternalRow): S = {
    val v = child.eval(input)
    // the decoded sketch is a fresh object, so the buffer may adopt it
    if (v == null) buf else merge(buf, codec.fromBytes(v.asInstanceOf[Array[Byte]]))
  }

  override def withNewMutableAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): SketchMergeAgg[S] =
    copy(child = c)
}

/** tdigest_merge_agg (reference merge T11). */
object TDigestMergeAgg {
  def apply(child: Expression): SketchMergeAgg[TDigest] = SketchMergeAgg(child, TDigestCodec)
}

/** ss_merge_agg (Cafaro merge S8). */
object SpaceSavingMergeAgg {
  def apply(child: Expression): SketchMergeAgg[SpaceSavingBase] =
    SketchMergeAgg(child, SpaceSavingCodec)
}

/** hll_merge_agg (register-wise max). */
object HllMergeAgg {
  def apply(child: Expression): SketchMergeAgg[Hll] = SketchMergeAgg(child, HllCodec)
}

/** Analysis-time check that a sketch's parameters are non-null constants: a
  * per-row or NULL parameter would otherwise fail only when the first
  * buffer is built. */
trait ConstantParams extends Expression {
  /** (name, expression) of every parameter read once per aggregate */
  protected def constantParams: Seq[(String, Expression)]

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else constantParams.collectFirst {
      case (name, e) if !e.foldable || e.eval() == null =>
        TypeCheckResult.TypeCheckFailure(s"$name must be a non-null constant")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

/** Routing of an atomic value column to a 64-bit key.
  *
  * `inputType` is the implicit-cast target: fractional numerics widen to
  * Double (a TypeCollection would cast a float/decimal to its FIRST numeric
  * member, LongType, truncating 1.1/1.2/1.9 to one distinct value), integrals
  * widen to Long, strings and binaries stay byte-hashed. The arm is picked
  * once per aggregate from the cast type, not per row. */
object AtomicKey {
  /** value → key for one input type */
  trait Arm extends Serializable { def apply(v: Any): Long }

  def inputType(dt: DataType): AbstractDataType = dt match {
    case FloatType | DoubleType | _: DecimalType => DoubleType
    case ByteType | ShortType | IntegerType | LongType => LongType
    case BinaryType => BinaryType
    case StringType => StringType
    case _ => TypeCollection(LongType, DoubleType, StringType, BinaryType)
  }

  /** [[KmvHash]] arms (HLL, KMV) */
  def kmvHash(dt: DataType): Arm = dt match {
    case LongType => v => KmvHash.ofLong(v.asInstanceOf[Long])
    case DoubleType => v => KmvHash.ofDouble(v.asInstanceOf[Double])
    case BinaryType => v => KmvHash.ofBytes(v.asInstanceOf[Array[Byte]])
    case _ => v => KmvHash.ofBytes(v.asInstanceOf[UTF8String].getBytes)
  }

  /** [[CmsKey]] arms (Count-Min) */
  def cmsKey(dt: DataType): Arm = dt match {
    case LongType => v => v.asInstanceOf[Long]
    case DoubleType => v => CmsKey.doubleKey(v.asInstanceOf[Double])
    case BinaryType => v => CmsKey.binaryKey(v.asInstanceOf[Array[Byte]])
    case _ => v => CmsKey.utf8Key(v.asInstanceOf[UTF8String])
  }
}
