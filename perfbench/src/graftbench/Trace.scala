package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in microseconds since the epoch, with nanoTime resolution,
  * so the benchmark's own spans and Spark's event times share one axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One span: name, layer, start, end and the span that caused it. All spans
  * of one op carry that op's id (-1 outside ops). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store for the benchmark's own spans. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 0

  def newId(): Int = synchronized { next += 1; next }

  def add(s: Span): Unit = synchronized { buf += s }

  def time[T](parent: Int, op: Int, layer: String, name: String)(f: => T): T = {
    val id = newId()
    val s = Clock.nowUs
    try f finally add(Span(id, parent, op, layer, name, s, Clock.nowUs))
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

object Spans {
  /** Self time: a span's duration minus the part of it its children cover. */
  def selfUs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.durUs - covered)
    }.toMap
  }
}

/** Records Spark jobs, stages and task metrics. Registered only for the
  * traced part of a run. */
final class SparkTrace extends SparkListener {
  final class JobRec(val id: Int, val group: String, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  final class StageRec(val id: Int, val startMs: Long, val endMs: Long,
      val aggTimeMs: Long, val fallbackTasks: Long)
  final class TaskAgg {
    var tasks = 0L; var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var peakMem = 0L
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      Option(fences.get(j.group)).foreach(_.countDown())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    def acc(name: String): Long = si.accumulables.values.iterator
      .filter(_.name.contains(name)).flatMap(_.value).map {
        case n: Number => n.longValue
        case s => scala.util.Try(s.toString.toLong).getOrElse(0L)
      }.sum
    stages.put(si.stageId, new StageRec(si.stageId, si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), acc("time in aggregation build"),
      acc("number of sort fallback tasks")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = tasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      a.busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Waits until the listener has seen the end of a job run under `group`
    * after this call; the listener bus delivers events in order, so every
    * earlier event has then been recorded. */
  def fence(group: String)(runJob: => Unit): Boolean = {
    val latch = new CountDownLatch(1)
    fences.put(group, latch)
    runJob
    latch.await(30, TimeUnit.SECONDS)
  }
}

/** Records every micro-batch progress report of the streaming query. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.put(e.progress.batchId, e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Waits (bounded) until the report of batch `id` has arrived. */
  def await(id: Long): Boolean = {
    val deadline = System.nanoTime() + 30000000000L
    while (!progress.containsKey(id) && System.nanoTime() < deadline) Thread.sleep(5)
    progress.containsKey(id)
  }
}

/** One timed op of the traced part of a run. `batches` are the micro-batch
  * ids it completed (streaming only). */
final case class OpRec(id: Int, spanId: Int, startUs: Long, endUs: Long, batches: Seq[Long])

/** Turns the listeners' records into spans and per-layer metrics for the
  * traced ops. Counts and times are per op unless the unit says otherwise. */
object TraceReport {
  def build(ops: Seq[OpRec], own: Seq[Span], spark: SparkTrace, stream: Option[StreamTrace],
      slots: Int, opGroup: Int => String): (Seq[Span], Map[String, (Double, String)]) = {
    val spans = ArrayBuffer.empty[Span] ++= own
    var nextId = (own.map(_.id) :+ 0).max + 1000000
    def id(): Int = { nextId += 1; nextId }
    val nOps = math.max(ops.length, 1).toDouble
    val opByGroup = ops.map(o => opGroup(o.id) -> o).toMap
    val opsByStart = ops.sortBy(_.startUs)
    val traceEndUs = if (ops.isEmpty) 0L else ops.map(_.endUs).max

    // streaming batches → op via the batch ids each op completed
    val batchSpans = mutable.HashMap.empty[Long, Span]
    val progress = stream.map(_.progress.asScala.toMap).getOrElse(Map.empty)
    for (o <- ops; b <- o.batches; p <- progress.get(b)) {
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val sp = Span(id(), o.spanId, o.id, "streaming", "streaming.batch", s, s + d * 1000L)
      batchSpans(b) = sp; spans += sp
    }

    // jobs → op by job group, else by time (stream jobs run in the engine's thread)
    def opOfJob(j: spark.JobRec): Option[OpRec] = opByGroup.get(j.group).orElse {
      val t = j.startMs * 1000L
      if (j.group.startsWith("graftbench") || t > traceEndUs + 2000L) None
      else opsByStart.takeWhile(_.startUs <= t + 2000L).lastOption
    }
    val jobOp = mutable.HashMap.empty[Int, OpRec]
    val stageJob = mutable.HashMap.empty[Int, Span]
    spark.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      opOfJob(j).foreach { o =>
        jobOp(j.id) = o
        val (s, e) = (j.startMs * 1000L, j.endMs * 1000L)
        val parent = batchSpans.values.find(b => b.op == o.id && b.startUs <= s && s <= b.endUs)
          .map(_.id).getOrElse(o.spanId)
        val js = Span(id(), parent, o.id, "spark", s"spark.job.${j.id}", s, e)
        spans += js
        j.stageIds.foreach(st => stageJob(st) = js)
      }
    }
    val stageRecs = spark.stages.asScala.filter { case (st, _) => stageJob.contains(st) }
    stageRecs.foreach { case (st, r) =>
      val js = stageJob(st)
      spans += Span(id(), js.id, js.op, "spark", s"spark.stage.$st", r.startMs * 1000L, r.endMs * 1000L)
    }
    val taskAggs = spark.tasks.asScala.filter { case (st, _) => stageJob.contains(st) }.values.toSeq

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def per(name: String, total: Double, unit: String): Unit = m(name) = (total / nOps, unit)
    val opWallMs = ops.map(o => (o.endUs - o.startUs) / 1000.0).sum
    per("agg.exec_time_ms", stageRecs.values.map(_.aggTimeMs).sum.toDouble, "ms/op")
    per("agg.sort_fallback_tasks", stageRecs.values.map(_.fallbackTasks).sum.toDouble, "count/op")
    per("spark.jobs", jobOp.size.toDouble, "count/op")
    per("spark.stages", stageRecs.size.toDouble, "count/op")
    per("spark.tasks", taskAggs.map(_.tasks).sum.toDouble, "count/op")
    val busyMs = taskAggs.map(_.busyMs).sum.toDouble
    per("spark.task_busy_ms", busyMs, "ms/op")
    per("spark.task_cpu_ms", taskAggs.map(_.cpuNs).sum / 1e6, "ms/op")
    per("spark.gc_ms", taskAggs.map(_.gcMs).sum.toDouble, "ms/op")
    m("spark.slot_busy_frac") = (busyMs / math.max(slots * opWallMs, 1e-9), "ratio")
    per("spark.shuffle_write_bytes", taskAggs.map(_.shuffleWrite).sum.toDouble, "B/op")
    per("spark.shuffle_read_bytes", taskAggs.map(_.shuffleRead).sum.toDouble, "B/op")
    per("spark.shuffle_fetch_wait_ms", taskAggs.map(_.fetchWaitMs).sum.toDouble, "ms/op")
    per("spark.spill_bytes", taskAggs.map(_.spill).sum.toDouble, "B/op")
    m("spark.peak_exec_mem_bytes") = ((0L +: taskAggs.map(_.peakMem)).max.toDouble, "B")

    // streaming: per-op sums of the engine's phase durations, medians over ops
    val opProgress = ops.map(o => o.batches.flatMap(progress.get))
    def phase(key: String): Double = Stats.median(opProgress.map(ps =>
      ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum))
    def stateOps(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Seq[Double]] =
      opProgress.map(_.flatMap(_.stateOperators.map(f)))
    val streaming = progress.nonEmpty
    def orZero(x: => Double): Double = if (streaming) x else 0.0
    m("streaming.batch_ms") = (orZero(phase("triggerExecution")), "ms")
    m("streaming.add_batch_ms") = (orZero(phase("addBatch")), "ms")
    m("streaming.planning_ms") = (orZero(phase("queryPlanning")), "ms")
    m("streaming.wal_commit_ms") = (orZero(phase("walCommit")), "ms")
    m("streaming.state_rows") =
      (orZero(stateOps(_.numRowsTotal.toDouble).flatten.maxOption.getOrElse(0.0)), "count")
    m("streaming.state_memory_bytes") =
      (orZero(stateOps(_.memoryUsedBytes.toDouble).flatten.maxOption.getOrElse(0.0)), "B")
    m("streaming.state_commit_ms") = (orZero(Stats.median(stateOps(_.commitTimeMs.toDouble).map(_.sum))), "ms")
    m("streaming.state_update_ms") =
      (orZero(Stats.median(stateOps(_.allUpdatesTimeMs.toDouble).map(_.sum))), "ms")
    def custom(k: String): Double = opProgress.flatten.flatMap(_.stateOperators)
      .map(s => Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val hits = custom("loadedMapCacheHitCount")
    val misses = custom("loadedMapCacheMissCount")
    m("streaming.state_cache_hit_ratio") = (if (hits + misses > 0) hits / (hits + misses) else 0.0, "ratio")
    m("streaming.rows_dropped_late") =
      (opProgress.flatten.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")

    // self time by layer, per op
    val self = Spans.selfUs(spans.toSeq)
    def selfMs(pred: Span => Boolean): Double =
      spans.iterator.filter(s => s.op >= 0 && pred(s)).map(s => self(s.id)).sum / 1000.0
    per("trace.self_ms.op", selfMs(_.layer == "op"), "ms/op")
    per("trace.self_ms.api", selfMs(_.layer == "api"), "ms/op")
    per("trace.self_ms.streaming", selfMs(_.layer == "streaming"), "ms/op")
    per("trace.self_ms.spark_job", selfMs(_.name.startsWith("spark.job")), "ms/op")
    per("trace.self_ms.spark_stage", selfMs(_.name.startsWith("spark.stage")), "ms/op")
    (spans.toSeq, m.toMap)
  }
}
