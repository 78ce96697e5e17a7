package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sketch-lifecycle benchmark: one JVM, one Spark session on local[slots],
  * one driver thread submitting ops in a closed loop.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *                   [--scale full|tiny] [--git-head SHA] [--tree-hash H]
  *
  * Writes DIR/ledger.json (the run record), DIR/spans.jsonl (traced runs)
  * and prints the result object as the last line of standard output. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, tiny: Boolean, gitHead: String, treeHash: String) {
    /** Spark task slots: one per CPU, at most four. */
    val slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  }

  /** Set-up repetitions; `setup_s` reports their median. */
  private val Setups = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), m.getOrElse("scale", "full") == "tiny",
      m.getOrElse("git-head", ""), m.getOrElse("tree-hash", ""))
  }

  /** Fixed CPU work on every slot (xorshift loop); a slower reading than
    * usual marks a contended host. */
  private def calibrateMs(threads: Int): Double = {
    def once(iters: Long): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { i =>
        val t = new Thread(() => {
          var x = 88172645463325252L ^ i.toLong
          var n = 0L
          while (n < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
          Micro.sink += x
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    once(5000000L)
    once(100000000L)
  }

  private def session(a: Args, tmp: String): SparkSession =
    SparkSession.builder().master(s"local[${a.slots}]").appName(s"graftbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      // checkpoint files through FileSystem (not FileContext, whose rename
      // starts a `readlink` process) on a local file system that sets
      // permissions without starting processes; see NioLocalFileSystem
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // one op = one micro-batch: windows close in the next data batch
      // instead of in an extra eviction-only batch
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()

  /** Timings, counts and check results of a run of closed-loop ops. */
  final class Phase {
    val latMs = ArrayBuffer.empty[Double]
    var rows = 0L
    var wallNs = 0L
    var attempted = 0
    var failed = 0
    var bytes = 0L
    var groups = 0L
    val failures = ArrayBuffer.empty[String]

    def endToEnd(setupS: Double): mutable.LinkedHashMap[String, (Double, String)] = {
      val (tail, _) = Stats.tail(latMs)
      mutable.LinkedHashMap(
        "setup_s" -> (setupS, "s"),
        "rows_per_s" -> (rows / math.max(wallNs / 1e9, 1e-9), "rows/s"),
        "latency_p50_ms" -> (Stats.median(latMs), "ms"),
        "latency_tail_ms" -> (tail, "ms"),
        "sketch_bytes_per_group" -> (if (groups > 0) bytes.toDouble / groups else 0.0, "B"))
    }

    def summary: Map[String, Any] = {
      val (tail, pct) = Stats.tail(latMs)
      Map("ops_attempted" -> attempted, "ops_failed" -> failed,
        "failed_frac" -> Map("value" -> (if (attempted > 0) failed.toDouble / attempted else 0.0),
          "unit" -> "ratio"),
        "latency_samples" -> latMs.length, "latency_tail_percentile" -> pct,
        "latency_tail_ms" -> tail, "rows_consumed" -> rows, "op_wall_s" -> wallNs / 1e9,
        "output_groups" -> groups, "latency_ms" -> latMs.toSeq, "failures" -> failures.take(20).toSeq)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tmp = s"${a.out}/tmp"
    val calPre = calibrateMs(a.slots)
    val maxBatches = math.ceil(a.seconds * 12).toInt + 8

    // ---- set-up, repeated; the last session and workload are kept
    var spark: SparkSession = null
    var w: Workload = null
    val setupS = ArrayBuffer.empty[Double]
    val setupParts = ArrayBuffer.empty[Map[String, Double]]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val runStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    def unmeasured(n: Int): Unit = (1 to n).foreach(_ => w.output(w.op(spark, _ => ())))
    for (rep <- 1 to Setups) {
      if (w != null) { w.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(a, tmp)
      val t1 = System.nanoTime()
      w = Workload(a.workload, a.seed, a.tiny, s"$tmp/setup-$rep", maxBatches)
      w.setup(spark)
      val t2 = System.nanoTime()
      unmeasured(w.warmUpOps)
      setupS += since(t0)
      setupParts += Map("session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9, "warm_up_s" -> since(t2))
    }
    var t = System.nanoTime()
    unmeasured(w.settleOps)
    val settleS = since(t)
    phases("setups_s") = since(runStart)
    val setupMedian = Stats.median(setupS) + settleS
    t = System.nanoTime()
    w.buildRefs(spark)
    phases("refs_s") = since(t)
    val sc = spark.sparkContext

    // ---- measured ops
    val spans = new Spans
    val opRecs = ArrayBuffer.empty[OpRec]
    var opCount = 0
    def opGroup(i: Int) = s"graftbench-op-$i"

    def runPhase(p: Phase, seconds: Double, traced: Boolean): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end && w.hasNext) {
        opCount += 1
        val op = opCount
        val opSpan = if (traced) spans.newId() else -1
        val plan: DataFrame => Unit =
          if (traced) df => spans.time(opSpan, op, "api", "api.plan")(df.queryExecution.executedPlan)
          else _ => ()
        val firstBatch = w.lastBatchId + 1
        sc.setJobGroup(opGroup(op), s"${a.workload} op $op", interruptOnCancel = false)
        p.attempted += 1
        val sUs = Clock.nowUs
        val s = System.nanoTime()
        val res =
          try Some(w.op(spark, plan))
          catch {
            case t: Throwable =>
              p.failed += 1
              p.failures += s"op $op threw ${t.getClass.getName}: ${t.getMessage}"
              None
          } finally sc.clearJobGroup()
        val e = System.nanoTime()
        val eUs = Clock.nowUs
        res.foreach { r =>
          p.latMs += (e - s) / 1e6
          p.wallNs += e - s
          p.rows += r.inputRows
          if (traced) {
            spans.add(Span(opSpan, -1, op, "op", a.workload, sUs, eUs))
            opRecs += OpRec(op, opSpan, sUs, eUs, firstBatch to w.lastBatchId)
          }
          val out = w.output(r)
          w.check(out).foreach { msg => p.failed += 1; p.failures += s"op $op: $msg" }
          val (b, g) = w.sketchBytes(out)
          p.bytes += b; p.groups += g
        }
      }
    }

    t = System.nanoTime()
    val untraced = new Phase
    val traced = new Phase
    val sparkTrace = new SparkTrace
    val streamTrace = new StreamTrace
    if (!a.trace) runPhase(untraced, a.seconds, traced = false)
    else {
      runPhase(untraced, a.seconds / 2, traced = false)
      sc.addSparkListener(sparkTrace)
      spark.streams.addListener(streamTrace)
      runPhase(traced, a.seconds / 2, traced = true)
    }

    phases("ops_s") = since(t)
    t = System.nanoTime()
    // ---- run-level checks, then the traced run's layer measurements
    sc.setJobGroup("graftbench-check", "checks", interruptOnCancel = false)
    val runFailures = ArrayBuffer.empty[String]
    try runFailures ++= w.finish(spark)
    catch { case t: Throwable => runFailures += s"final check threw ${t.getClass.getName}: ${t.getMessage}" }
    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    var spanList: Seq[Span] = Nil
    if (a.trace) {
      val fenced = sparkTrace.fence("graftbench-fence") {
        sc.setJobGroup("graftbench-fence", "fence", interruptOnCancel = false)
        sc.parallelize(Seq(1), 1).count()
      }
      val lastBatch = opRecs.lastOption.flatMap(_.batches.lastOption)
      val streamed = lastBatch.forall(streamTrace.await)
      if (!fenced) runFailures += "Spark listener events did not arrive"
      if (!streamed) runFailures += "streaming progress reports did not arrive"
      val root = spans.newId()
      val rootStart = Clock.nowUs
      val layers = new Layers(w.layerInputs(spark), spans, root, if (a.tiny) 5 else 60).run()
      spans.add(Span(root, -1, -1, "bench", "direct_calls", rootStart, Clock.nowUs))
      val (all, fromTrace) = TraceReport.build(opRecs.toSeq, spans.all, sparkTrace,
        if (a.workload == "stream_windows") Some(streamTrace) else None, a.slots, opGroup)
      spanList = all
      perLayer ++= layers
      perLayer ++= fromTrace
      perLayer("api.plan_ms") =
        if (a.workload == "stream_windows") fromTrace("streaming.planning_ms")
        else (Stats.median(spanList.filter(_.name == "api.plan").map(_.durUs / 1000.0)), "ms")
    }
    sc.clearJobGroup()
    phases("checks_and_layers_s") = since(t)
    val calPost = calibrateMs(a.slots)

    // ---- teardown and record
    val sparkVersion = spark.version
    w.close()
    spark.stop()
    deleteTree(new File(tmp))
    phases("run_s") = since(runStart)

    val ops = Seq(untraced) ++ (if (a.trace) Seq(traced) else Nil)
    val attempted = ops.map(_.attempted).sum
    val failed = ops.map(_.failed).sum
    val correct = failed == 0 && runFailures.isEmpty && attempted > 0 && (!a.trace || perLayer.nonEmpty)
    val e2eUntraced = untraced.endToEnd(setupMedian)
    val metrics: collection.Map[String, (Double, String)] = if (a.trace) perLayer else e2eUntraced
    def asMetrics(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> asMetrics(metrics)))

    val ledger = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "scale" -> (if (a.tiny) "tiny" else "full"),
      "env" -> Map("git_head" -> a.gitHead, "tree_hash" -> a.treeHash, "task_slots" -> a.slots,
        "host_cpus" -> Runtime.getRuntime.availableProcessors(), "spark_version" -> sparkVersion,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "cal_pre_ms" -> calPre, "cal_post_ms" -> calPost),
      "load" -> "closed loop, one driver thread, next op starts when the previous ends",
      "inputs" -> w.describe,
      "setup_s_reps" -> setupS.toSeq, "settle_s" -> settleS, "setup_parts" -> setupParts.toSeq, "phases" -> phases,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "run_failures" -> runFailures.toSeq,
      "untraced" -> (untraced.summary + ("end_to_end" -> asMetrics(e2eUntraced))))
    if (a.trace) {
      val e2eTraced = traced.endToEnd(setupMedian)
      ledger("traced") = traced.summary + ("end_to_end" -> asMetrics(e2eTraced))
      ledger("tracing_overhead") = Map(
        "rows_per_s" -> Map("value" -> (e2eTraced("rows_per_s")._1 - e2eUntraced("rows_per_s")._1),
          "unit" -> "rows/s"),
        "latency_p50_ms" -> Map("value" -> (e2eTraced("latency_p50_ms")._1 - e2eUntraced("latency_p50_ms")._1),
          "unit" -> "ms"))
      ledger("per_layer") = asMetrics(perLayer)
      ledger("spans_file") = "spans.jsonl"
      val selfUs = Spans.selfUs(spanList)
      writeLines(s"${a.out}/spans.jsonl", spanList.map(s => Json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> selfUs(s.id)))))
    }
    writeLines(s"${a.out}/ledger.json", Seq(Json(ledger)))
    writeLines(s"${a.out}/result.json", Seq(result))
    println(result)
    System.out.flush()
    System.exit(0)
  }

  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
