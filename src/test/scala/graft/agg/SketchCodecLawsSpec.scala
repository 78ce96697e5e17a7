package graft.agg

import graft.core.{SpaceSaving, SpaceSavingLong, SpaceSavingObj, TDigest}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Monoid laws of the sketch aggregates, driven at the aggregate layer with
  * no Spark session: createAggregationBuffer / update / serialize /
  * deserialize / merge / eval are called directly, the way the planner runs
  * a partial → shuffle → final aggregation.
  *
  * Each trial draws a seeded random input, cuts it into random partitions
  * (some empty) and checks that the partitioned result agrees with a
  * one-shot sketch: byte-identical where the sketch is exact under merge
  * (HLL, KMV, CMS; moments count/min/max), within the MonoidLawsSpec bounds
  * where it is not (t-digest, Space-Saving). Stored-sketch re-aggregation
  * goes through the binary merge aggregates the same way. */
class SketchCodecLawsSpec extends AnyFunSuite {
  import SketchCodecLawsSpec.Blob

  private def trials(seeds: Int)(body: Random => Unit): Unit =
    (0 until seeds).foreach(i => body(new Random(i * 7919 + 1)))

  private val AtomicTypes = Seq(LongType, DoubleType, StringType, BinaryType)

  private def value(dt: DataType, n: Int): Any = dt match {
    case LongType => n.toLong - 10
    case DoubleType => if (n == 0) -0.0 else if (n == 1) 0.0 else n * 0.5
    case StringType => UTF8String.fromString(if (n % 7 == 0) s"é$n" else s"k$n")
    case _ => Array[Byte](n.toByte, (n * 37 + 128).toByte, -1)
  }

  /** skewed keys over a small domain, ~10% NULL */
  private def atomicRows(rnd: Random, dt: DataType): Seq[InternalRow] =
    Seq.fill(rnd.nextInt(300)) {
      InternalRow(if (rnd.nextInt(10) == 0) null else value(dt, rnd.nextInt(1 + rnd.nextInt(40))))
    }

  private def doubleRows(rnd: Random): Seq[InternalRow] =
    Seq.fill(rnd.nextInt(300)) {
      InternalRow(rnd.nextInt(8) match {
        case 0 => null
        case 1 => 0.0
        case 2 => (rnd.nextInt(10) - 5).toDouble
        case 3 => rnd.nextGaussian() * 1e6
        case _ => rnd.nextDouble() * 2e6 - 1e6
      })
    }

  /** random cut into 1–6 partitions (possibly empty), after a shuffle */
  private def split[T](rnd: Random, xs: Seq[T]): Seq[Seq[T]] = {
    val ys = rnd.shuffle(xs)
    val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(ys.length + 1)).sorted
    (0 +: cuts :+ ys.length).sliding(2).map { case Seq(a, b) => ys.slice(a, b) }.toSeq
  }

  private def fold[B](a: TypedImperativeAggregate[B], rows: Seq[InternalRow]): B = {
    var buf = a.createAggregationBuffer()
    rows.foreach(r => buf = a.update(buf, r))
    buf
  }

  /** partial aggregate per partition → bytes → final merge into a fresh buffer */
  private def partitioned[B](a: TypedImperativeAggregate[B], parts: Seq[Seq[InternalRow]]): B = {
    val partials = parts.map(p => a.serialize(fold(a, p)))
    var acc = a.createAggregationBuffer()
    partials.foreach(b => acc = a.merge(acc, a.deserialize(b)))
    acc
  }

  private def evalFold[B](a: TypedImperativeAggregate[B], rows: Seq[InternalRow]): Any =
    a.eval(fold(a, rows))
  private def evalParts[B](a: TypedImperativeAggregate[B], parts: Seq[Seq[InternalRow]]): Any =
    a.eval(partitioned(a, parts))

  private val v = BoundReference(0, DoubleType, nullable = true)
  private val bin = BoundReference(0, BinaryType, nullable = true)
  private val statsIn = BoundReference(0, StatsStruct.schema, nullable = true)
  private def atom(dt: DataType) = BoundReference(0, dt, nullable = true)

  private def exactBlobs: Seq[Blob] = AtomicTypes.flatMap { dt =>
    val r: Random => Seq[InternalRow] = atomicRows(_, dt)
    Seq(
      Blob(s"hll/$dt", HllAgg(atom(dt), Literal(8)), HllMergeAgg(bin), r),
      Blob(s"kmv/$dt", KmvAgg(atom(dt), Literal(16)), SketchMergeAgg(bin, KmvCodec), r),
      Blob(s"cms/$dt", CountMinAgg(atom(dt), Literal(3), Literal(64)),
        SketchMergeAgg(bin, CountMinCodec), r))
  }

  private def ssBlobs: Seq[Blob] = AtomicTypes.map { dt =>
    Blob(s"ss/$dt", SpaceSavingAgg(atom(dt), Literal(1L), Literal(16)),
      SpaceSavingMergeAgg(bin), atomicRows(_, dt))
  }

  private def tdBlob = Blob("tdigest", TDigestAgg(v, Literal(1.0), Literal(100.0)),
    TDigestMergeAgg(bin), doubleRows)

  private def allBlobs: Seq[Blob] = exactBlobs ++ ssBlobs :+ tdBlob

  /** the three results every law compares: one-shot, partitioned add
    * aggregate, and per-group blobs (NULL groups mixed in) re-merged through
    * the merge aggregate under a second random split */
  private def paths(b: Blob, rnd: Random, rows: Seq[InternalRow]): (Any, Any, Any) = {
    val oneShot = evalFold(b.add, rows)
    val viaAdd = evalParts(b.add, split(rnd, rows))
    val blobs = split(rnd, rows).map(g => InternalRow(evalFold(b.add, g))) ++
      Seq.fill(rnd.nextInt(3))(InternalRow(null))
    val viaMerge = evalParts(b.merge, split(rnd, blobs))
    (oneShot, viaAdd, viaMerge)
  }

  private def bytes(x: Any): Array[Byte] = x.asInstanceOf[Array[Byte]]

  test("codec laws: empty and all-NULL groups merge to NULL; stats_merge_agg to the zero struct") {
    val zero = StatsStruct.toRow(new graft.core.MomentsSketch).toSeq(StatsStruct.schema).toString
    allBlobs.foreach { b =>
      assert(evalFold(b.merge, Nil) == null, b.name)
      assert(evalFold(b.merge, Seq.fill(3)(InternalRow(null))) == null, b.name)
      assert(evalParts(b.merge, Seq(Nil, Seq(InternalRow(null)), Nil)) == null,
        b.name)
      // an empty group's sketch is still a sketch: merging it is not NULL
      val empty = evalFold(b.add, Nil)
      assert(empty != null, b.name)
      assert(bytes(evalFold(b.merge, Seq(InternalRow(empty)))).sameElements(bytes(empty)),
        b.name)
    }
    val stats = StatsMergeAgg(statsIn)
    Seq(Nil, Seq(InternalRow(null)), Seq(InternalRow(null), InternalRow(null))).foreach { rows =>
      val out = evalParts(stats, Seq(rows, Nil))
      assert(out != null)
      assert(out.asInstanceOf[InternalRow].toSeq(StatsStruct.schema).toString == zero)
    }
    val add = SummaryStatsAgg(v, Literal(1L))
    assert(evalParts(add, Seq(Nil, Seq(InternalRow(null))))
      .asInstanceOf[InternalRow].toSeq(StatsStruct.schema).toString == zero)
  }

  test("codec laws: HLL, KMV, CMS bytes and moments count/min/max are split-invariant") {
    trials(40) { rnd =>
      exactBlobs.foreach { b =>
        val rows = b.rows(rnd)
        val (oneShot, viaAdd, viaMerge) = paths(b, rnd, rows)
        assert(bytes(viaAdd).sameElements(bytes(oneShot)), b.name)
        assert(bytes(viaMerge).sameElements(bytes(oneShot)), b.name)
      }
      val add = SummaryStatsAgg(v, Literal(1L))
      val merge = StatsMergeAgg(statsIn)
      val rows = doubleRows(rnd)
      val oneShot = evalFold(add, rows).asInstanceOf[InternalRow]
      val viaAdd = evalParts(add, split(rnd, rows)).asInstanceOf[InternalRow]
      val structs = split(rnd, rows).map(g => InternalRow(evalFold(add, g))) :+ InternalRow(null)
      val viaMerge = evalParts(merge, split(rnd, structs)).asInstanceOf[InternalRow]
      Seq(viaAdd, viaMerge).foreach { r =>
        assert(r.getLong(0) == oneShot.getLong(0))
        Seq(2, 3).foreach { i =>
          assert(java.lang.Double.compare(r.getDouble(i), oneShot.getDouble(i)) == 0)
        }
      }
    }
  }

  test("codec laws: t-digest and Space-Saving merges keep their bounds under any split") {
    trials(40) { rnd =>
      val rows = doubleRows(rnd)
      val (_, viaAdd, viaMerge) = paths(tdBlob, rnd, rows)
      val all = rows.flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).sorted
      if (all.length >= 10) Seq(viaAdd, viaMerge).foreach { out =>
        val qs = Array(0.1, 0.25, 0.5, 0.75, 0.9)
        val est = TDigest.deserialize(bytes(out)).quantiles(qs)
        est.sliding(2).foreach(w => assert(w(0) <= w(1)))
        assert(est.head >= all.head && est.last <= all.last)
        qs.zip(est).foreach { case (q, e) =>
          val rank = all.count(_ <= e).toDouble / all.length
          val rankLo = all.count(_ < e).toDouble / all.length
          assert(rankLo - 0.15 <= q && q <= rank + 0.15, s"q=$q est=$e rank=[$rankLo,$rank]")
        }
      }
      ssBlobs.foreach { b =>
        val rows = b.rows(rnd)
        // exact counts keyed the way the sketch keys them
        def key(x: Any): Any = x match {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case a: Array[Byte] => a.toSeq
          case s: UTF8String => s.toString
          case other => other
        }
        val exact = rows.filterNot(_.isNullAt(0)).groupBy(r => key(r.get(0, b.add.children.head.dataType)))
          .view.mapValues(_.length.toLong).toMap
        val (_, viaAdd, viaMerge) = paths(b, rnd, rows)
        Seq(viaAdd, viaMerge).foreach { out =>
          val s = SpaceSaving.deserialize(bytes(out))
          assert(s.tag == SpaceSavingAgg.tagFor(b.add.children.head.dataType), b.name)
          def item(i: Int): Any = s match {
            case o: SpaceSavingObj if o.tag == SpaceSaving.TagBinary => SpaceSaving.keyToBinary(o.items(i)).toSeq
            case o: SpaceSavingObj => o.items(i)
            case l: SpaceSavingLong => l.items(i)
          }
          val slots = s.topkSlots(s.size)
          slots.foreach { i =>
            val actual = exact.getOrElse(item(i), 0L)
            assert(s.counts(i) - s.errors(i) <= actual && actual <= s.counts(i),
              s"${b.name} item ${item(i)} count=${s.counts(i)} err=${s.errors(i)} actual=$actual")
          }
          assert(slots.length <= 16)
        }
      }
    }
  }

  test("codec laws: merging Space-Saving sketches of different key types fails with same dtype") {
    val rnd = new Random(3)
    val blobs = ssBlobs.map(b => b.name -> evalFold(b.add, atomicRows(rnd, b.add.children.head.dataType)))
    val m = SpaceSavingMergeAgg(bin)
    for ((n1, b1) <- blobs; (n2, b2) <- blobs if n1 != n2) {
      val viaUpdate = intercept[IllegalArgumentException](fold(m, Seq(InternalRow(b1), InternalRow(b2))))
      assert(viaUpdate.getMessage.contains("same dtype"), s"$n1 + $n2")
      val viaMerge = intercept[IllegalArgumentException](
        partitioned(m, Seq(Seq(InternalRow(b1)), Seq(InternalRow(b2)))))
      assert(viaMerge.getMessage.contains("same dtype"), s"$n1 + $n2")
    }
  }

  /** SHA-256 of every family's serialized bytes for seed 1 — one-shot and
    * re-merged. Pins the byte layouts: stored sketches, streaming state and
    * oracle hashes all depend on them. */
  test("codec laws: serialized bytes match the pinned digests (seed 1)") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val rnd = new Random(1)
    val got = allBlobs.flatMap { b =>
      val (oneShot, _, viaMerge) = paths(b, rnd, b.rows(rnd))
      Seq(s"${b.name}/one" -> sha(bytes(oneShot)), s"${b.name}/merged" -> sha(bytes(viaMerge)))
    }.toMap ++ {
      val add = SummaryStatsAgg(v, Literal(1L))
      val rows = doubleRows(rnd)
      Map("moments/one" -> sha(add.serialize(fold(add, rows))),
        "moments/merged" -> sha(add.serialize(partitioned(add, split(rnd, rows)))))
    }
    val diff = got.filter { case (k, d) => Pinned.get(k) != Some(d) }
    assert(diff.isEmpty && got.size == Pinned.size,
      diff.toSeq.sorted.map { case (k, d) => s"""    "$k" -> "$d",""" }.mkString("\n", "\n", ""))
  }

  private val Pinned: Map[String, String] = Map(
    "cms/BinaryType/merged" -> "1554282858b3cee1b2aa75601580ad2111e949d1988f1a78e5fe74d37504574e",
    "cms/BinaryType/one" -> "1554282858b3cee1b2aa75601580ad2111e949d1988f1a78e5fe74d37504574e",
    "cms/DoubleType/merged" -> "9556634e90b55172a7cc999f600cfa33ce4e0c1c3942c1e0bfd8ea6399dcbbab",
    "cms/DoubleType/one" -> "9556634e90b55172a7cc999f600cfa33ce4e0c1c3942c1e0bfd8ea6399dcbbab",
    "cms/LongType/merged" -> "b7293257a5be4e88a1ce3154f97d3e81e68ebb76ca2f78adf2154ea7090a4e7f",
    "cms/LongType/one" -> "b7293257a5be4e88a1ce3154f97d3e81e68ebb76ca2f78adf2154ea7090a4e7f",
    "cms/StringType/merged" -> "e23be0a76923aff56193cf07e56c7cb6dfde0675f6989a3085d0dbf647e4c276",
    "cms/StringType/one" -> "e23be0a76923aff56193cf07e56c7cb6dfde0675f6989a3085d0dbf647e4c276",
    "hll/BinaryType/merged" -> "fb6e52a6dcf2297c5d853c0ad8e3826754eb636810a3f5f92a77ce8d66d938bb",
    "hll/BinaryType/one" -> "fb6e52a6dcf2297c5d853c0ad8e3826754eb636810a3f5f92a77ce8d66d938bb",
    "hll/DoubleType/merged" -> "00a50bf53a544395d13e0ff1660acefe86c5e17f3cbf819100b0eecaf44abf60",
    "hll/DoubleType/one" -> "00a50bf53a544395d13e0ff1660acefe86c5e17f3cbf819100b0eecaf44abf60",
    "hll/LongType/merged" -> "de942c9be7a263f207752764183df0f9daf5887a02804e9d4c6419414f402c7b",
    "hll/LongType/one" -> "de942c9be7a263f207752764183df0f9daf5887a02804e9d4c6419414f402c7b",
    "hll/StringType/merged" -> "880771e4ea050c9b8c6af03e4bcaff69441471ae737980f64dcc6d7e0d4feac4",
    "hll/StringType/one" -> "880771e4ea050c9b8c6af03e4bcaff69441471ae737980f64dcc6d7e0d4feac4",
    "kmv/BinaryType/merged" -> "f02f1ddd54ca1fc97cfd2a11d2a3b768ec8bcc6651e3a3c4ca7c75110adbe75c",
    "kmv/BinaryType/one" -> "f02f1ddd54ca1fc97cfd2a11d2a3b768ec8bcc6651e3a3c4ca7c75110adbe75c",
    "kmv/DoubleType/merged" -> "78708bdfc66570be28e54c1fad8ebf4836b54e93d29217cee66da12994b15a41",
    "kmv/DoubleType/one" -> "78708bdfc66570be28e54c1fad8ebf4836b54e93d29217cee66da12994b15a41",
    "kmv/LongType/merged" -> "bd1948793e4c5df5830e6743cdffb7fac7d89dac4807ef88990214e8bbda9c6b",
    "kmv/LongType/one" -> "bd1948793e4c5df5830e6743cdffb7fac7d89dac4807ef88990214e8bbda9c6b",
    "kmv/StringType/merged" -> "5e60c4a4160a54379f75231c9bb56c452a99719c00c3980eef348f459706319c",
    "kmv/StringType/one" -> "5e60c4a4160a54379f75231c9bb56c452a99719c00c3980eef348f459706319c",
    "moments/merged" -> "097bec7655e724dd94c417ebaeef7b580cd74a24665b3d7164807fef98965f3d",
    "moments/one" -> "60f9fe322b4af3645e85ffb021443b998cf929b4a2d06fa4e9f1c233c7dcbb4a",
    "ss/BinaryType/merged" -> "8780f594099cbb8202e87333d1c2f613f790d0655672856c124c12da2b370046",
    "ss/BinaryType/one" -> "e487327a849236b62d5df247a16109aeccd420d90afa6560929de8e825daba8a",
    "ss/DoubleType/merged" -> "f77356e13a9719c74e4cc934961ae63db1c2b7e10588662d33b2fe88df94de8e",
    "ss/DoubleType/one" -> "bcdada08c12f0f57628847a4c164eaa809863d9660083a04e91ceb1a1877c890",
    "ss/LongType/merged" -> "fd64c180edbad8e45f13bc383e8a01131ecab947744c107e10066c2b368769e5",
    "ss/LongType/one" -> "d8891af82b068ece8b297a8b12e4c634700656579f95466c2b65e245db885b28",
    "ss/StringType/merged" -> "eb3679b27a7b71ba40d1d3c450c51321b670f6108b4cdc472e1a912b4f812011",
    "ss/StringType/one" -> "64646c1e9b9be513923134e60661ca4c1cacb0fc5fa58b40f8c2a180bceee312",
    "tdigest/merged" -> "1e0075b8eaec6d4ba5a19a75b823089e33382b1a18914ab02270838c01de7987",
    "tdigest/one" -> "1e0075b8eaec6d4ba5a19a75b823089e33382b1a18914ab02270838c01de7987")
}

object SketchCodecLawsSpec {
  /** one blob-valued sketch family: its add aggregate and its merge aggregate */
  final case class Blob(name: String, add: TypedImperativeAggregate[_],
      merge: TypedImperativeAggregate[_], rows: Random => Seq[InternalRow])
}
