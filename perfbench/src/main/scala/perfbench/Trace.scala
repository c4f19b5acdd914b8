package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counters recorded from outside the engine.
  *
  * A span wraps one public call of an engine module (name, start, end,
  * parent, run id) and sets the Spark job description to its id for the
  * call's duration, so the [[Counters]] listener can attribute jobs,
  * stages and task metrics to it. Planning phases from
  * `QueryExecution.tracker` are attributed to the innermost span whose
  * interval holds the phase start. Everything stays in memory until the
  * run writes its trace file.
  *
  * `Tracer.Off` records nothing and registers no listener: the
  * end-to-end numbers come from untraced runs.
  */
sealed trait Tracer {
  def span[T](name: String)(body: => T): T
  def count(name: String, v: Double): Unit
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def count(name: String, v: Double): Unit = ()
  }
}

final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  def durS: Double = (endNs - startNs) / 1e9
}

final class Recorder(spark: SparkSession, val runId: String) extends Tracer {
  private val DescPrefix = "perfbench-span:"
  private val JobDescriptionKey = "spark.job.description"
  private val ids = new AtomicInteger(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  // span open on the main thread, for events that carry no description
  // (streaming micro-batches run on the stream's own threads)
  @volatile private var current: Span = root
  lazy val root: Span = open("run", -1)

  private def open(name: String, parent: Int): Span = {
    val s = new Span(ids.getAndIncrement(), name, parent, System.nanoTime(),
      System.currentTimeMillis())
    spans.synchronized(spans += s)
    s
  }

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(root)
    val s = open(name, parent.id)
    stack = s :: stack
    current = s
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(JobDescriptionKey)
    sc.setJobDescription(s"$DescPrefix${s.id}:$name")
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      current = stack.headOption.getOrElse(root)
      sc.setJobDescription(prior)
    }
  }

  def count(name: String, v: Double): Unit =
    stack.headOption.getOrElse(root).add(name, v)

  private def byId(id: Int): Span = spans.synchronized(spans(id))

  private[perfbench] def spanOfDescription(desc: String): Span =
    Option(desc).filter(_.startsWith(DescPrefix))
      .map(d => byId(d.stripPrefix(DescPrefix).takeWhile(_ != ':').toInt))
      .getOrElse(current)

  /** Innermost span whose wall-clock interval holds `ms`. */
  private[perfbench] def spanAtMs(ms: Long): Span = spans.synchronized {
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .maxByOption(_.startNs).getOrElse(root)
  }

  /** Spark's listener side: jobs, stages, task metrics per span. */
  object Counters extends SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Span]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty(JobDescriptionKey)).orNull
      val s = spanOfDescription(desc)
      s.add("spark.jobs", 1)
      synchronized(e.stageIds.foreach(stageSpan(_) = s))
    }
    private def spanOfStage(id: Int): Span = synchronized(stageSpan.getOrElse(id, current))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      spanOfStage(e.stageInfo.stageId).add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = spanOfStage(e.stageId)
      s.add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("spark.task_s", m.executorRunTime / 1e3)
        s.add("spark.gc_s", m.jvmGCTime / 1e3)
        s.add("spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        s.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        s.add("sources.bytes_read_mb", m.inputMetrics.bytesRead / 1e6)
        s.add("pipeline.write_mb", m.outputMetrics.bytesWritten / 1e6)
        s.max("spark.peak_exec_mb", m.peakExecutionMemory / 1e6)
      }
    }
  }

  /** Planning phases of every action, from `QueryExecution.tracker`. */
  object Planning extends QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        spanAtMs(p.startTimeMs).add(s"spark.${phase}_s", p.durationMs / 1e3)
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  /** Per-trigger progress of every streaming query. */
  val progress: mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    mutable.ArrayBuffer.empty
  object Streaming extends StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized(progress += e.progress)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  }

  def start(): Unit = {
    root
    spark.sparkContext.addSparkListener(Counters)
    spark.listenerManager.register(Planning)
    spark.streams.addListener(Streaming)
  }

  /** Drain the listener bus, detach, and close the root span. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(Counters)
    spark.listenerManager.unregister(Planning)
    spark.streams.removeListener(Streaming)
    root.endNs = System.nanoTime(); root.endMs = System.currentTimeMillis()
  }

  /** Self time: duration minus the time covered by child spans (children
    * run sequentially on the calling thread, so their sum is the union).
    */
  def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durS, "self_s" -> selfS(s), "counters" -> s.counters.toMap)
  }

  /** Per span name: calls, total and self seconds, summed counters. */
  def layers: Map[String, Map[String, Double]] =
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val counters = ss.flatMap(_.counters.toSeq).groupBy(_._1).map {
        case (k, kv) =>
          k -> (if (k == "spark.peak_exec_mb") kv.map(_._2).max else kv.map(_._2).sum)
      }
      name -> (counters ++ Map(
        "calls" -> ss.size.toDouble,
        "total_s" -> ss.map(_.durS).sum,
        "self_s" -> ss.map(selfS).sum))
    }

  /** A counter summed over every span (max for peak memory). */
  def total(k: String): Double = {
    val vs = spans.toSeq.flatMap(_.counters.get(k))
    if (vs.isEmpty) 0.0 else if (k == "spark.peak_exec_mb") vs.max else vs.sum
  }
}

