package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.HarnessSession

/** Measurement loop shared by the workloads. */
object Measure {
  /** Repeat `op` until `seconds` have passed and at least `minOps` ran;
    * keeps the samples of operations that succeeded.
    */
  def loop[T](seconds: Double, minOps: Int)(op: => Option[T]): Seq[T] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[T]
    var n = 0
    while (n < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      op.foreach(out += _)
      n += 1
    }
    out.result()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Benchmark JVM: one workload, one seed, one run.
  *
  * {{{
  * Main --workload fraud_batch|fraud_stream|query_mix --seed N
  *      --seconds S --trace 0|1 --work DIR --data DIR --launch-ms EPOCH_MS
  * }}}
  * Writes `DIR/result.json` ([[Outcome]]); `run.py` adds the DuckDB
  * checks and prints the result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, launchMs: Long)

  /** A workload: inputs, a set-up repeated to take its median (the
    * session is built once per JVM), and the measured run.
    */
  trait Workload {
    /** Generate the workload's inputs (untimed, once). */
    def inputs(spark: SparkSession, a: Args): Unit = ()
    def prepare(spark: SparkSession, a: Args, o: Outcome): Unit
    def run(spark: SparkSession, a: Args, o: Outcome): Unit
  }

  private val SetupRounds = 3

  private val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr: seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - startMs) / 1e3}%.1f s: $what")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("data"), m("launch-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    if (argv.headOption.contains("--archive-run")) {
      archiveRun(argv(1), argv(2))
      return
    }
    val a = parse(argv)
    new File(a.work).mkdirs()
    val o = new Outcome
    val workload: Workload = a.workload match {
      case "fraud_batch" => FraudBatch
      case "fraud_stream" => FraudStream
      case "query_mix" => QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val cores = Runtime.getRuntime.availableProcessors().toString
    val (spark, buildS) = Measure.timed(HarnessSession.build(cores))
    try {
      // set-up: JVM launch to main, one session build, then the median
      // of repeated warm-up + workload preparation (model fit, ...)
      mark("session built")
      workload.inputs(spark, a)
      mark("inputs generated")
      val prepS = (1 to SetupRounds).map { _ =>
        Measure.timed {
          spark.range(1000000).selectExpr("sum(id)").collect()
          workload.prepare(spark, a, o)
        }._2
      }
      o.e2e("setup_s") = (mainMs - a.launchMs) / 1e3 + buildS + Stats.median(prepS)
      o.named("launch_s") = (mainMs - a.launchMs) / 1e3
      o.named("session_build_s") = buildS
      o.named("prepare_s") = Stats.median(prepS)
      o.layers("HarnessSession.build_s") = buildS
      mark("set up")
      o.attempt(s"${a.workload} run")(workload.run(spark, a, o))
      mark("run finished")
    } finally {
      // the heap grows as the collector sees fit, so peak RSS follows GC
      // timing as much as the program: reported, but not a bounded metric
      val rss = peakRssMb()
      o.named("peak_rss_mb") = rss
      o.layers("jvm.peak_rss_mb") = rss
      Layers.Names.foreach(n => if (!o.layers.contains(n)) o.layers(n) = 0.0)
      Files.write(new File(a.work, "result.json").toPath,
        o.toJson.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** One short pass over every workload, so a JVM started with
    * `-XX:ArchiveClassesAtExit` archives the classes all of them load.
    */
  private def archiveRun(work: String, data: String): Unit = {
    val spark = HarnessSession.build(Runtime.getRuntime.availableProcessors().toString)
    val args = (name: String) => Args(name, 1L, 1.0, trace = false, s"$work/$name", data, 0L)
    try {
      // the traced EP1 loads the classes the untraced one does, in a
      // fraction of the time, plus the tracer's own
      val batch = args("fraud_batch")
      val t = new Recorder(spark, "archive")
      t.start()
      FraudBatch.runTraced(spark,
        FraudBatch.config(Gen.write(new File(batch.work, "inputs"), 1L, FraudBatch.Fraction)),
        s"${batch.work}/sinks", t)
      t.stop()
      Seq("fraud_stream" -> FraudStream, "query_mix" -> QueryMix).foreach { case (name, w) =>
        val (a, o) = (args(name), new Outcome)
        w.inputs(spark, a)
        w.prepare(spark, a, o)
        w.run(spark, a, o)
      }
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}
