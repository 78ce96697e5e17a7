package graftbench

import scala.collection.mutable

import graft.agg._
import graft.core.{Hll, MomentsSketch, SpaceSaving, SpaceSavingObj, TDigest}
import graft.expr.{HllDistinct, SSTopK, TDigestQuantiles}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Direct single-thread calls into the `core`, `agg` and `expr` layers on a
  * workload's own values and sketches. Each measurement is one span. */
final class Layers(in: LayerInputs, spans: Spans, root: Int, budgetMs: Double) {
  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val n = math.min(in.values.length, 100000)
  private val values = in.values.take(n)
  private val items = in.items.take(n)
  private val hashes = items.map(s => KmvHash.ofBytes(UTF8String.fromString(s).getBytes))
  private val rows: Array[InternalRow] = Array.tabulate(n)(i =>
    new GenericInternalRow(Array[Any](values(i), UTF8String.fromString(items(i)))))

  private def record(name: String, unit: String, scale: Double)(ns: => Double): Unit = {
    val layer = name.takeWhile(_ != '.')
    val v = spans.time(root, -1, layer, name)(ns)
    out(name) = (v / scale, unit)
  }

  /** Cost per call of `f` over fresh objects from `make` (built untimed). */
  private def perCall[T](make: () => Array[T])(f: T => Unit): Double =
    Micro.nsPerCall(budgetMs)(make) { xs => xs.foreach(f); xs.length.toLong }

  private def blobRows(blobs: Array[Array[Byte]]): Array[InternalRow] =
    blobs.map(b => new GenericInternalRow(Array[Any](b)): InternalRow)

  def run(): Map[String, (Double, String)] = {
    val mi = in.mergeInputs
    // ---- core: adds on the workload's values
    record("core.tdigest.add_ns", "ns", 1) {
      Micro.nsPerCall(budgetMs)(() => TDigest(100.0)) { t => values.foreach(t.add(_)); n.toLong } }
    record("core.spacesaving.add_ns", "ns", 1) {
      Micro.nsPerCall(budgetMs)(() => new SpaceSavingObj(in.capacity)) { s =>
        items.foreach(s.add(_)); n.toLong } }
    record("core.moments.add_ns", "ns", 1) {
      Micro.nsPerCall(budgetMs)(() => new MomentsSketch) { m => values.foreach(m.add(_, 1L)); n.toLong } }
    record("core.hll.add_ns", "ns", 1) {
      Micro.nsPerCall(budgetMs)(() => new Hll(in.hllP)) { h => hashes.foreach(h.add); n.toLong } }

    // ---- core: merge / serialize / deserialize / query on its sketches
    val tdAcc = () => TDigest(100.0)
    record("core.tdigest.merge_us", "us", 1e3) {
      Micro.nsPerCall(budgetMs)(() => (tdAcc(), mi.td.map(TDigest.deserialize))) { case (acc, ds) =>
        ds.foreach(acc.merge); ds.length.toLong } }
    record("core.tdigest.serialize_us", "us", 1e3)(
      perCall(() => mi.td.map(TDigest.deserialize))(t => Micro.sink += t.serialize().length))
    record("core.tdigest.deserialize_us", "us", 1e3)(
      perCall(() => mi.td)(b => Micro.sink += TDigest.deserialize(b).size))
    record("core.tdigest.quantile_us", "us", 1e3)(
      perCall(() => in.outputs.td.map(TDigest.deserialize))(t => Micro.sink += t.quantile(0.5).toLong))
    record("core.spacesaving.merge_us", "us", 1e3) {
      Micro.nsPerCall(budgetMs)(() => (new SpaceSavingObj(in.capacity), mi.ss.map(SpaceSaving.deserializeObj))) {
        case (acc, ss) => ss.foreach(acc.merge); ss.length.toLong } }
    record("core.spacesaving.serialize_us", "us", 1e3)(
      perCall(() => mi.ss.map(SpaceSaving.deserializeObj))(s => Micro.sink += s.serialize(SpaceSaving.TagString).length))
    record("core.spacesaving.deserialize_us", "us", 1e3)(
      perCall(() => mi.ss)(b => Micro.sink += SpaceSaving.deserializeObj(b).size))
    record("core.hll.merge_us", "us", 1e3) {
      Micro.nsPerCall(budgetMs)(() => (new Hll(in.hllP), mi.hll.map(Hll.deserialize))) {
        case (acc, hs) => hs.foreach(acc.merge); hs.length.toLong } }
    record("core.hll.serialize_us", "us", 1e3)(
      perCall(() => mi.hll.map(Hll.deserialize))(h => Micro.sink += h.serialize().length))
    record("core.hll.deserialize_us", "us", 1e3)(
      perCall(() => mi.hll)(b => Micro.sink += Hll.deserialize(b).p))
    record("core.moments.merge_ns", "ns", 1) {
      Micro.nsPerCall(budgetMs)(() => new MomentsSketch) { acc => mi.stats.foreach(acc.merge); mi.stats.length.toLong } }
    def meanLen(bs: Array[Array[Byte]]): Double = bs.map(_.length.toDouble).sum / math.max(bs.length, 1)
    out("core.tdigest.bytes") = (meanLen(in.outputs.td), "B")
    out("core.spacesaving.bytes") = (meanLen(in.outputs.ss), "B")
    out("core.hll.bytes") = (meanLen(in.outputs.hll), "B")
    out("core.moments.bytes") = (meanLen(in.outputs.stats.map(_.serialize())), "B")

    // ---- agg: the aggregate wrappers on InternalRows
    val v = BoundReference(0, DoubleType, nullable = false)
    val it = BoundReference(1, StringType, nullable = false)
    def updates[B](a: TypedImperativeAggregate[B]): Double =
      Micro.nsPerCall(budgetMs)(() => a.createAggregationBuffer()) { b =>
        var buf = b; rows.foreach(r => buf = a.update(buf, r)); n.toLong }
    record("agg.tdigest.update_ns", "ns", 1)(updates(TDigestAgg(v, Literal(1.0), Literal(100.0))))
    record("agg.spacesaving.update_ns", "ns", 1)(
      updates(SpaceSavingAgg(it, Literal(1L), Literal(in.capacity))))
    record("agg.stats.update_ns", "ns", 1)(updates(SummaryStatsAgg(v, Literal(1L))))
    record("agg.hll.update_ns", "ns", 1)(updates(HllAgg(it, Literal(in.hllP))))
    val bin = BoundReference(0, BinaryType, nullable = true)
    def mergeUpdates[B](a: TypedImperativeAggregate[B], rs: Array[InternalRow]): Double =
      Micro.nsPerCall(budgetMs)(() => a.createAggregationBuffer()) { b =>
        var buf = b; rs.foreach(r => buf = a.update(buf, r)); rs.length.toLong }
    record("agg.tdigest_merge.update_us", "us", 1e3)(mergeUpdates(TDigestMergeAgg(bin), blobRows(mi.td)))
    record("agg.spacesaving_merge.update_us", "us", 1e3)(mergeUpdates(SpaceSavingMergeAgg(bin), blobRows(mi.ss)))
    record("agg.hll_merge.update_us", "us", 1e3)(mergeUpdates(HllMergeAgg(bin), blobRows(mi.hll)))
    record("agg.stats_merge.update_us", "us", 1e3)(mergeUpdates(
      StatsMergeAgg(BoundReference(0, StatsStruct.schema, nullable = true)),
      mi.stats.map(m => new GenericInternalRow(Array[Any](StatsStruct.toRow(m))): InternalRow)))

    // ---- expr: finisher eval, one row per call
    val qs = Literal(new GenericArrayData(Checks.Qs.map(x => x: Any)), ArrayType(DoubleType, containsNull = false))
    def evals(e: Expression, rs: Array[InternalRow]): Double =
      perCall(() => rs)(r => Micro.sink += (if (e.eval(r) == null) 0 else 1))
    record("expr.tdigest_quantiles_us", "us", 1e3)(evals(TDigestQuantiles(bin, qs), blobRows(in.outputs.td)))
    record("expr.ss_topk_us", "us", 1e3)(evals(SSTopK(bin, Literal(Checks.TopK), StringType), blobRows(in.outputs.ss)))
    record("expr.hll_distinct_us", "us", 1e3)(evals(HllDistinct(bin), blobRows(in.outputs.hll)))
    out.toMap
  }
}
