package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import graft.api.{GraftFunctions, functions => gf}
import graft.core.{Hll, MomentsSketch, SpaceSaving, TDigest}
import graft.streaming.StreamingSketches
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Output of one op: the rows it produced and the input rows it consumed. */
final case class OpResult(rows: Array[Row], inputRows: Long)

/** Serialized sketches of one workload, for the direct layer calls. */
final case class SketchSet(td: Array[Array[Byte]], ss: Array[Array[Byte]],
    hll: Array[Array[Byte]], stats: Array[MomentsSketch])

/** What the direct `core`/`agg`/`expr` calls run on: the workload's own
  * values and items, the sketches it merges and the sketches it outputs. */
final case class LayerInputs(values: Array[Double], items: Array[String],
    capacity: Int, hllP: Int, mergeInputs: SketchSet, outputs: SketchSet)

/** One benchmark workload. `setup` and the warm-up and settle ops are
  * timed as set-up; `buildRefs` runs once, untimed, before the measured ops. */
trait Workload {
  def name: String
  def setup(spark: SparkSession): Unit
  /** Unmeasured ops run in every set-up repetition. */
  def warmUpOps: Int
  /** Unmeasured ops run once after the last set-up, so that JIT and codegen
    * reach steady state before measuring. */
  def settleOps: Int
  def buildRefs(spark: SparkSession): Unit
  /** One op. `plan` receives the DataFrame before it runs, so a traced run
    * can force and time its physical planning. */
  def op(spark: SparkSession, plan: DataFrame => Unit): OpResult
  /** The op's output as checked; runs after the op's timer has stopped. */
  def output(out: OpResult): OpResult = out
  /** False once a workload has no more pre-generated input. */
  def hasNext: Boolean = true
  /** Id of the last completed micro-batch (streaming only). */
  def lastBatchId: Long = -1L
  def check(out: OpResult): Option[String]
  /** Serialized bytes of all sketch columns in the output, and group count. */
  def sketchBytes(out: OpResult): (Long, Long)
  /** Run-level checks after the last op. */
  def finish(spark: SparkSession): Seq[String]
  def layerInputs(spark: SparkSession): LayerInputs
  def describe: Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, tiny: Boolean, tmpDir: String, maxBatches: Int): Workload =
    name match {
      case "ingest_hot_keys" => new IngestHotKeys(seed, tiny)
      case "rollup_stored" => new RollupStored(seed, tiny)
      case "stream_windows" => new StreamWindows(seed, tiny, tmpDir, maxBatches)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def ssCounters(blob: Array[Byte], k: Int): Seq[(String, Long, Long)] = {
    val s = SpaceSaving.deserializeObj(blob)
    s.topkSlots(k).toSeq.map(i => (s.items(i), s.counts(i), s.errors(i)))
  }

  def moments(st: Row): MomentsSketch = {
    val m = new MomentsSketch
    m.count = st.getLong(0); m.sum = st.getDouble(1)
    m.min = st.getDouble(2); m.max = st.getDouble(3)
    m.m2 = st.getDouble(4); m.m3 = st.getDouble(5); m.m4 = st.getDouble(6)
    m.homogeneous = st.getBoolean(7); m.firstValue = st.getDouble(8)
    m
  }

  /** All four checks on one group whose sketches arrive as blobs. */
  def checkBlobs(ref: GroupRef, td: Array[Byte], ss: Array[Byte], st: Row,
      hll: Array[Byte], groups: Int): Option[String] = {
    val count = st.getLong(0)
    Checks.quantiles(ref, TDigest.deserialize(td).quantiles(Checks.Qs))
      .orElse(Checks.topk(ref, ssCounters(ss, Checks.TopK)))
      .orElse(Checks.stats(ref, count, st.getDouble(2), st.getDouble(3),
        st.getDouble(1) / count, st.getDouble(4) / count))
      .orElse(Checks.distinct(ref, Hll.deserialize(hll).estimate, HllP, groups))
  }

  def sketchSet(rows: Seq[Row], td: String, ss: String, hll: String, st: String): SketchSet =
    SketchSet(rows.map(_.getAs[Array[Byte]](td)).toArray,
      rows.map(_.getAs[Array[Byte]](ss)).toArray,
      rows.map(_.getAs[Array[Byte]](hll)).toArray,
      rows.map(r => moments(r.getAs[Row](st))).toArray)

  def blobBytes(rows: Array[Row], td: String, ss: String, hll: String, st: String): Long =
    rows.iterator.map { r =>
      r.getAs[Array[Byte]](td).length.toLong + r.getAs[Array[Byte]](ss).length +
        r.getAs[Array[Byte]](hll).length + moments(r.getAs[Row](st)).serialize().length
    }.sum

  /** Fill each reference's mean / var_pop from Spark's built-ins. */
  def fillMoments[G](refs: mutable.HashMap[G, GroupRef], rows: Array[Row], key: Row => G): Unit =
    rows.foreach { r =>
      val ref = refs(key(r))
      ref.mean = r.getAs[Double]("avg_v"); ref.varPop = r.getAs[Double]("var_v")
    }

  val HllP = 12
  val SsCapacity = 20
}

/** groupBy(key).agg(tdigest, ss_topk_agg, summary_stats, hll_agg) over a
  * cached table with few Zipf-skewed keys and many rows per key. */
final class IngestHotKeys(seed: Long, tiny: Boolean) extends Workload {
  val name = "ingest_hot_keys"
  private val nRows = if (tiny) 20000 else 400000
  private val nKeys = if (tiny) 8 else 32
  private val nItems = if (tiny) 2000 else 50000
  private var ev: Events = _
  private var input: DataFrame = _
  private var refs: mutable.HashMap[Int, GroupRef] = _
  private var last: OpResult = _

  def describe: Map[String, Any] = Map("rows" -> nRows, "keys" -> nKeys,
    "distinct_items" -> nItems, "ss_capacity" -> Workload.SsCapacity)

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    val r = Gen.rng(seed, 1)
    val keyZipf = new Zipf(nKeys, 1.1)
    val pool = Gen.itemPool(nItems, r)
    val itemZipf = new Zipf(nItems, 1.05)
    val keys = Array.fill(nRows)(keyZipf.sample(r))
    val values = keys.map(k => Gen.value(k, r))
    ev = Events(keys, values, Array.fill(nRows)(pool(itemZipf.sample(r))))
    val rows = ev.keys.indices.map(i => (ev.keys(i), ev.values(i), ev.items(i)))
    val slots = spark.sparkContext.defaultParallelism
    // checkpointed, so tasks do not ship the generating collection
    input = spark.sparkContext.parallelize(rows, slots).toDF("key", "v", "item").localCheckpoint()
  }

  val warmUpOps = 3
  val settleOps = 8

  def buildRefs(spark: SparkSession): Unit = {
    refs = GroupRef.build(ev.keys.indices.iterator.map(i => (ev.keys(i), ev.values(i), ev.items(i))))
    Workload.fillMoments(refs, input.groupBy("key")
      .agg(avg("v").as("avg_v"), var_pop("v").as("var_v")).collect(), _.getInt(0))
  }

  def op(spark: SparkSession, plan: DataFrame => Unit): OpResult = {
    val df = input.groupBy("key").agg(
      gf.tdigest(col("v")).as("td"), gf.ss_topk_agg(col("item")).as("ss"),
      gf.summary_stats(col("v")).as("st"), gf.hll_agg(col("item")).as("hll"))
    plan(df)
    last = OpResult(df.collect(), nRows)
    last
  }

  def check(out: OpResult): Option[String] =
    if (out.rows.length != refs.size) Some(s"${out.rows.length} groups, expected ${refs.size}")
    else out.rows.iterator.map { r =>
      Workload.checkBlobs(refs(r.getInt(0)), r.getAs[Array[Byte]]("td"),
        r.getAs[Array[Byte]]("ss"), r.getAs[Row]("st"), r.getAs[Array[Byte]]("hll"), out.rows.length)
    }.collectFirst { case Some(m) => m }

  def sketchBytes(out: OpResult): (Long, Long) =
    (Workload.blobBytes(out.rows, "td", "ss", "hll", "st"), out.rows.length.toLong)

  def finish(spark: SparkSession): Seq[String] = Nil

  def layerInputs(spark: SparkSession): LayerInputs = {
    val set = Workload.sketchSet(last.rows.toSeq, "td", "ss", "hll", "st")
    LayerInputs(ev.values, ev.items, Workload.SsCapacity, Workload.HllP, set, set)
  }
}

/** Re-aggregation of stored per-(key, bucket) sketches: many keys, many
  * partials per key, merge aggregates then finishers, through SQL. */
final class RollupStored(seed: Long, tiny: Boolean) extends Workload {
  val name = "rollup_stored"
  private val nKeys = if (tiny) 64 else 512
  private val nBuckets = 4
  private val perPartial = if (tiny) 16 else 32
  private val nItems = if (tiny) 1000 else 5000
  private var ev: Events = _
  private var raw: DataFrame = _
  private var stored: DataFrame = _
  private var nStored = 0L
  private var refs: mutable.HashMap[Int, GroupRef] = _
  private var oneShotHll: Map[Int, Array[Byte]] = _
  private var last: OpResult = _

  private val query =
    s"""SELECT key, td, ss, hll, st,
       |  tdigest_quantiles(td, array(${Checks.Qs.map(q => s"${q}D").mkString(", ")})) AS q,
       |  ss_topk_string(ss, ${Checks.TopK}) AS top, hll_distinct(hll) AS nd,
       |  stats_mean(st) AS mean, stats_var(st) AS var
       |FROM (SELECT key, tdigest_merge_agg(td) AS td, ss_merge_agg(ss) AS ss,
       |        hll_merge_agg(hll) AS hll, stats_merge_agg(st) AS st
       |      FROM graftbench_stored GROUP BY key) m""".stripMargin

  def describe: Map[String, Any] = Map("keys" -> nKeys, "buckets" -> nBuckets,
    "rows_per_partial" -> perPartial, "stored_rows" -> nKeys * nBuckets,
    "distinct_items" -> nItems)

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val r = Gen.rng(seed, 2)
    val pool = Gen.itemPool(nItems, r)
    val itemZipf = new Zipf(nItems, 1.05)
    val n = nKeys * nBuckets * perPartial
    val keys = Array.tabulate(n)(i => i / (nBuckets * perPartial))
    ev = Events(keys, keys.map(k => Gen.value(k, r)), Array.fill(n)(pool(itemZipf.sample(r))))
    val rows = keys.indices.map(i => (keys(i), (i / perPartial) % nBuckets, ev.values(i), ev.items(i)))
    val slots = spark.sparkContext.defaultParallelism
    raw = spark.sparkContext.parallelize(rows, slots).toDF("key", "bucket", "v", "item")
    stored = raw.groupBy("key", "bucket").agg(
      gf.tdigest(col("v")).as("td"), gf.ss_topk_agg(col("item")).as("ss"),
      gf.hll_agg(col("item")).as("hll"), gf.summary_stats(col("v")).as("st"))
      .repartition(slots) // one stored partition per slot, each holding most keys
      .localCheckpoint()
    nStored = stored.count()
    stored.createOrReplaceTempView("graftbench_stored")
  }

  val warmUpOps = 3
  val settleOps = 12

  def buildRefs(spark: SparkSession): Unit = {
    refs = GroupRef.build(ev.keys.indices.iterator.map(i => (ev.keys(i), ev.values(i), ev.items(i))))
    Workload.fillMoments(refs, raw.groupBy("key")
      .agg(avg("v").as("avg_v"), var_pop("v").as("var_v")).collect(), _.getInt(0))
    oneShotHll = raw.groupBy("key").agg(gf.hll_agg(col("item")).as("hll")).collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
  }

  def op(spark: SparkSession, plan: DataFrame => Unit): OpResult = {
    val df = spark.sql(query)
    plan(df)
    last = OpResult(df.collect(), nStored)
    last
  }

  def check(out: OpResult): Option[String] =
    if (out.rows.length != refs.size) Some(s"${out.rows.length} groups, expected ${refs.size}")
    else out.rows.iterator.map { r =>
      val key = r.getInt(0)
      val ref = refs(key)
      val st = r.getAs[Row]("st")
      val top = r.getSeq[Row](r.fieldIndex("top")).map(t => (t.getString(0), t.getLong(1), t.getLong(2)))
      if (!java.util.Arrays.equals(r.getAs[Array[Byte]]("hll"), oneShotHll(key)))
        Some(s"merged HLL registers of key $key differ from the one-shot sketch")
      else Checks.quantiles(ref, r.getSeq[Double](r.fieldIndex("q")).toArray)
        .orElse(Checks.topk(ref, top))
        .orElse(Checks.stats(ref, st.getLong(0), st.getDouble(2), st.getDouble(3),
          r.getAs[Double]("mean"), r.getAs[Double]("var")))
        .orElse(Checks.distinct(ref, r.getAs[Double]("nd"), Workload.HllP, out.rows.length))
    }.collectFirst { case Some(m) => m }

  def sketchBytes(out: OpResult): (Long, Long) =
    (Workload.blobBytes(out.rows, "td", "ss", "hll", "st"), out.rows.length.toLong)

  def finish(spark: SparkSession): Seq[String] = Nil

  def layerInputs(spark: SparkSession): LayerInputs = {
    val partials = stored.collect().toSeq
    LayerInputs(ev.values, ev.items, Workload.SsCapacity, Workload.HllP,
      Workload.sketchSet(partials, "td", "ss", "hll", "st"),
      Workload.sketchSet(last.rows.toSeq, "td", "ss", "hll", "st"))
  }
}

/** `StreamingSketches.windowedSketches` with a watermark in append mode over
  * a MemoryStream; one op = addData(batch) + processAllAvailable(). */
final class StreamWindows(seed: Long, tiny: Boolean, tmpDir: String, maxBatches: Int)
    extends Workload {
  import StreamWindows._
  val name = "stream_windows"
  private val rowsPerBatch = if (tiny) 200 else 2000
  private val nKeys = 8
  private val nItems = if (tiny) 500 else 2000
  val warmUpOps = 6
  val settleOps = 24
  private val nBatches = warmUpOps + settleOps + maxBatches

  private var batches: Array[Array[Ev]] = _
  private var stream: MemoryStream[(Timestamp, Int, Double, String)] = _
  private var query: StreamingQuery = _
  private var fed = 0
  private val sink = new ConcurrentLinkedQueue[Row]()
  private val emitted = mutable.ArrayBuffer.empty[Row]
  private val progress = mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
  private var refs: mutable.HashMap[(Long, Int), GroupRef] = _

  def describe: Map[String, Any] = Map("rows_per_batch" -> rowsPerBatch, "keys" -> nKeys,
    "distinct_items" -> nItems, "window_ms" -> WindowMs, "batch_event_ms" -> BatchMs,
    "watermark_ms" -> DelayMs, "out_of_order_frac" -> OooFrac, "late_frac" -> LateFrac,
    "ss_capacity" -> Capacity, "warm_up_batches" -> warmUpOps, "settle_batches" -> settleOps, "batches_fed" -> fed,
    "last_progress" -> progress.values.lastOption.map(_.json).getOrElse(""))

  /** Batch j covers event time [T0 + j*BatchMs, T0 + (j+1)*BatchMs); a share
    * of rows arrives out of order within the watermark, and from batch
    * LateFrom on a smaller share arrives far beyond it. */
  private def generate(): Array[Array[Ev]] = {
    val r = Gen.rng(seed, 3)
    val pool = Gen.itemPool(nItems, r)
    val keyZipf = new Zipf(nKeys, 1.1)
    val itemZipf = new Zipf(nItems, 1.05)
    Array.tabulate(nBatches) { j =>
      Array.fill(rowsPerBatch) {
        val key = keyZipf.sample(r)
        val u = r.nextDouble()
        val base = T0 + j * BatchMs + r.nextInt(BatchMs.toInt)
        val late = j >= LateFrom && u < LateFrac
        val ts =
          if (late) T0 + j * BatchMs - 25000 - r.nextInt(2000)
          else if (u < LateFrac + OooFrac) base - 1 - r.nextInt(3000)
          else base
        Ev(ts, key, Gen.value(key, r), pool(itemZipf.sample(r)), late)
      }
    }
  }

  def setup(spark: SparkSession): Unit = {
    batches = generate()
    tuples = batches.map(_.toSeq.map(e => (new Timestamp(e.ts), e.key, e.v, e.item)))
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    stream = MemoryStream[(Timestamp, Int, Double, String)]
    val df = stream.toDF().toDF("ts", "key", "v", "item")
    val agg = StreamingSketches.windowedSketches(df, "ts", "10 seconds", "v", "item",
      keys = Seq("key"), capacity = Capacity, watermark = Some("5 seconds"))
    sink.clear(); emitted.clear(); progress.clear(); fed = 0
    query = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmpDir/stream-checkpoint")
      .foreachBatch((ds: Dataset[Row], _: Long) => { ds.collect().foreach(sink.add) })
      .start()
  }

  private var tuples: Array[Seq[(Timestamp, Int, Double, String)]] = _

  override def hasNext: Boolean = fed < nBatches

  def op(spark: SparkSession, plan: DataFrame => Unit): OpResult = {
    val batch = tuples(fed)
    fed += 1
    stream.addData(batch)
    query.processAllAvailable()
    OpResult(Array.empty, batch.length)
  }

  /** The windows emitted so far, taken from the sink with the engine's
    * new progress reports. */
  override def output(out: OpResult): OpResult = {
    recordProgress()
    val rows = Iterator.continually(sink.poll()).takeWhile(_ != null).toArray
    emitted ++= rows
    out.copy(rows = rows)
  }

  private def recordProgress(): Unit =
    query.recentProgress.foreach(p => progress.getOrElseUpdate(p.batchId, p))

  /** Batch ids the engine has completed so far (for per-op attribution). */
  override def lastBatchId: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

  def buildRefs(spark: SparkSession): Unit = {
    import spark.implicits._
    val onTime = batches.iterator.flatten.filterNot(_.late).toArray
    refs = GroupRef.build(onTime.iterator.map(e => ((windowStart(e.ts), e.key), e.v, e.item)))
    val df = spark.sparkContext.parallelize(onTime.toSeq.map(e => (new Timestamp(e.ts), e.key, e.v)))
      .toDF("ts", "key", "v")
    Workload.fillMoments(refs, df.groupBy(window(col("ts"), "10 seconds").as("w"), col("key"))
      .agg(avg("v").as("avg_v"), var_pop("v").as("var_v")).collect(),
      r => (r.getStruct(0).getTimestamp(0).getTime, r.getInt(1)))
  }

  def check(out: OpResult): Option[String] = out.rows.iterator.map { r =>
    val g = groupOf(r)
    refs.get(g) match {
      case None => Some(s"emitted window $g has no on-time events")
      case Some(ref) => Workload.checkBlobs(ref, r.getAs[Array[Byte]]("value_tdigest"),
        r.getAs[Array[Byte]]("item_topk"), r.getAs[Row]("value_stats"),
        r.getAs[Array[Byte]]("item_hll"), out.rows.length)
    }
  }.collectFirst { case Some(m) => m }

  def sketchBytes(out: OpResult): (Long, Long) =
    (Workload.blobBytes(out.rows, "value_tdigest", "item_topk", "item_hll", "value_stats"),
      out.rows.length.toLong)

  /** Closed windows equal batch windowedSketches over the same on-time
    * events, and the engine's late-drop count equals the prediction. */
  def finish(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    query.processAllAvailable()
    output(OpResult(Array.empty, 0))
    val fedEvents = batches.take(fed)
    val onTime = fedEvents.iterator.flatten.filterNot(_.late).toSeq
    val batchDf = spark.sparkContext.parallelize(onTime.map(e => (new Timestamp(e.ts), e.key, e.v, e.item)))
      .toDF("ts", "key", "v", "item")
    val batch = StreamingSketches.windowedSketches(batchDf, "ts", "10 seconds", "v", "item",
      keys = Seq("key"), capacity = Capacity).collect().map(r => groupOf(r) -> r).toMap
    val got = emitted.map(r => groupOf(r) -> r).toMap
    // windows that must be closed: end <= the watermark of the last data batch
    val maxTs = fedEvents.map(b => b.map(_.ts).max)
    val wmSure = if (fed >= 2) maxTs.take(fed - 1).max - DelayMs else Long.MinValue
    val wmMax = maxTs.max - DelayMs
    val failures = mutable.ArrayBuffer.empty[String]
    if (got.size != emitted.length) failures += "a window was emitted twice"
    val missing = batch.keys.filter(g => g._1 + WindowMs <= wmSure && !got.contains(g))
    if (missing.nonEmpty) failures += s"${missing.size} closed windows not emitted, e.g. ${missing.head}"
    got.keys.find(g => g._1 + WindowMs > wmMax).foreach(g => failures += s"window $g emitted early")
    got.foreach { case (g, r) =>
      batch.get(g) match {
        case None => failures += s"emitted window $g absent from the batch result"
        case Some(b) =>
          val (s, t) = (r.getAs[Row]("value_stats"), b.getAs[Row]("value_stats"))
          if (s.getLong(0) != t.getLong(0) || s.getDouble(2) != t.getDouble(2) ||
              s.getDouble(3) != t.getDouble(3) || !Stats.relClose(s.getDouble(1), t.getDouble(1), 1e-9))
            failures += s"window $g stats differ from batch"
          else if (!java.util.Arrays.equals(r.getAs[Array[Byte]]("item_hll"), b.getAs[Array[Byte]]("item_hll")))
            failures += s"window $g HLL registers differ from batch"
          else if (TDigest.deserialize(r.getAs[Array[Byte]]("value_tdigest")).totalSize !=
              TDigest.deserialize(b.getAs[Array[Byte]]("value_tdigest")).totalSize)
            failures += s"window $g t-digest weight differs from batch"
      }
    }
    val dropped = progress.valuesIterator.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val predicted = predictedDrops(fedEvents)
    if (dropped != predicted) failures += s"rows_dropped_late $dropped != predicted $predicted"
    failures.toSeq
  }

  /** The engine drops late rows after merging each batch's partial
    * aggregates, so it counts one row per late (window, key) group per batch. */
  def predictedDrops(fedEvents: Array[Array[Ev]]): Long =
    fedEvents.iterator.map(_.filter(_.late).map(e => (windowStart(e.ts), e.key)).distinct.length.toLong).sum

  def layerInputs(spark: SparkSession): LayerInputs = {
    val evs = batches.take(fed).flatten
    val set = Workload.sketchSet(emitted.toSeq, "value_tdigest", "item_topk", "item_hll", "value_stats")
    LayerInputs(evs.map(_.v), evs.map(_.item), Capacity, Workload.HllP, set, set)
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

object StreamWindows {
  final case class Ev(ts: Long, key: Int, v: Double, item: String, late: Boolean)
  val T0 = 1700000000000L
  val WindowMs = 10000L
  val BatchMs = 2000L
  val DelayMs = 5000L
  val OooFrac = 0.10
  val LateFrac = 0.01
  val LateFrom = 15
  val Capacity = 64

  def windowStart(ts: Long): Long = ts - Math.floorMod(ts, WindowMs)
  def groupOf(r: Row): (Long, Int) =
    (r.getStruct(r.fieldIndex("window")).getTimestamp(0).getTime, r.getAs[Int]("key"))
}
