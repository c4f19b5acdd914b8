package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cutting materialization for iterative and eager pipelines
  * (connected components, corpus-prep stage boundaries).
  *
  * Two modes behind one call:
  *
  *   - default: `localCheckpoint(eager = true)` — blocks live on the
  *     executors with lineage truncated. Fast (no filesystem round
  *     trip) and exactly right for local / interactive sessions, but an
  *     executor loss makes the data irrecoverable because the lineage
  *     needed to recompute it is gone;
  *   - reliable: when the session conf `spark.graft.reliableCheckpoint`
  *     is `true`, stage boundaries go through `checkpoint()` files in
  *     the configured `SparkContext.setCheckpointDir` (HDFS / object
  *     store on a real cluster), which survive executor loss. This is
  *     the mode a 1000-executor job should run with: a multi-hour
  *     corpus-prep pipeline must not restart from hour zero because one
  *     container was preempted.
  *
  * The conf is read per call, so a long-lived session can switch modes
  * between pipelines.
  */
object Materialize {

  /** Session conf key selecting reliable `checkpoint()` over
    * `localCheckpoint()`. Requires `SparkContext.setCheckpointDir`.
    */
  val ReliableKey = "spark.graft.reliableCheckpoint"

  /** Materialize `df` now and return a frame reading the materialized
    * blocks/files, with upstream lineage cut.
    */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).exists(_.toBoolean)
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires SparkContext.setCheckpointDir " +
          "(a cluster-visible path: HDFS / object store)")
      df.checkpoint() // eager + reliable
    } else df.localCheckpoint(true)
  }

  /** Drop the blocks of a frame [[cut]] returned, once every frame that
    * read it is itself cut: after this, reading `df` fails, since its
    * lineage is gone. Local mode frees the executor blocks now, where
    * the context cleaner would wait for the frame to be garbage
    * collected. Reliable mode keeps no blocks, so this is a no-op
    * there; its files follow the checkpoint dir's own lifecycle
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`).
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case other => throw new IllegalArgumentException(
      s"release expects a frame returned by Materialize.cut, got ${other.nodeName}")
  }
}
