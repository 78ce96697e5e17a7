package graft.ops

import org.apache.spark.sql.DataFrame

/** Storage hygiene for iterative localCheckpoint chains. */
private[graft] object CheckpointUtil {

  /** Release the storage behind a localCheckpoint'd frame. Dataset.unpersist
    * is a no-op here (checkpoint blocks live on the RDD, not in the cache
    * manager), so unpersist the LogicalRDD leaf's RDD directly. Safe only
    * once nothing will read the frame again — callers free a round's state
    * AFTER the next round's checkpoint has eagerly materialized. The FINAL
    * checkpoint of a loop must stay live while its result frame is consumed;
    * the ContextCleaner reclaims it when the RDD becomes unreachable. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  // Unpersisting a locally-checkpointed RDD logs a WARN per RDD ("lineage
  // has been truncated..."); a full-suite sweep frees thousands, so silence
  // that one logger once (root level stays WARN).
  private lazy val quietRddLogs: Unit =
    try org.apache.logging.log4j.core.config.Configurator
      .setLevel("org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Suite-level storage hygiene: drop EVERY persisted RDD still registered
    * with the context. localCheckpoint blocks are MEMORY_AND_DISK and are
    * otherwise freed only when a full GC lets the ContextCleaner notice the
    * RDD is unreachable — a 380-gate suite in one JVM accumulates two reps'
    * worth of blocks per gate until storage pressure evicts execution memory
    * (round-14: q51–q57 ran 5–11× slower at the END of the 32-core sweep but
    * were normal at 8 cores and normal in isolation). Safe between gates:
    * every cross-gate memo in SparkEntry is a disk path or plain value,
    * never a DataFrame, so nothing re-reads a freed block. Blocking: every
    * caller runs between gates, outside the timers, so block removal must
    * finish here rather than spill into the next gate's timed window. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    quietRddLogs
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
