package perfbench

/** Per-layer metrics of a traced run, and the trace artifact.
  *
  * Every workload reports every per-layer metric. A module layer's time
  * is its spans' summed self time as a percentage of the traced wall
  * time, so a layer a workload never calls reads 0 % rather than a
  * meaningless 0 s; absolute seconds per span are in the trace file.
  */
object Layers {

  /** Span names whose self time is reported as `<name>_pct`. */
  val SpanShares: Seq[String] = Seq(
    "sources.read", "operators.clean", "operators.geolocate",
    "operators.velocity", "operators.split", "operators.smote", "ml.fit",
    "ml.transform", "pipeline.write", "queries.build", "queries.execute",
    "streaming.run")

  val SparkTotals: Seq[String] = Seq(
    "spark.analysis_s", "spark.optimization_s", "spark.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.peak_exec_mb")

  /** Every per-layer metric name, in BENCHMARK.json order. */
  val Names: Seq[String] =
    Seq("HarnessSession.build_s", "SessionHygiene.reset_s") ++
      SpanShares.map(_ + "_pct") ++ SparkTotals ++ Seq(
        "spark.core_util", "trace.overhead_pct", "sources.scans",
        "operators.clean_keep_ratio", "operators.geolocate_hit_ratio",
        "operators.smote_minority_rows", "operators.smote_rows_out",
        "pipeline.write_mb", "streaming.triggers", "streaming.rows_per_trigger",
        "streaming.get_batch_pct", "streaming.planning_pct",
        "streaming.wal_commit_pct", "streaming.add_batch_pct",
        "streaming.state_commit_pct", "streaming.state_rows",
        "streaming.state_mb", "streaming.backlog_rows",
        "streaming.rate_sustained_pct")

  /** Fill the shared per-layer metrics and the trace artifact from `t`.
    * `untraced` are the untraced operation times and `tracedS` the traced
    * operation's wall time, whose difference is the tracing overhead.
    */
  def report(t: Recorder, o: Outcome, untraced: Seq[Double], tracedS: Double): Unit = {
    val layers = t.layers
    def self(name: String): Double = layers.get(name).map(_("self_s")).getOrElse(0.0)
    SpanShares.foreach(n => o.layers(s"${n}_pct") = 100.0 * self(n) / tracedS)
    o.layers("SessionHygiene.reset_s") = self("SessionHygiene.reset")
    SparkTotals.foreach(k => o.layers(k) = t.total(k))
    val cores = Runtime.getRuntime.availableProcessors()
    o.layers("spark.core_util") = t.total("spark.task_s") / (tracedS * cores)
    val base = if (untraced.nonEmpty) Stats.median(untraced) else Double.NaN
    o.layers("trace.overhead_pct") = 100.0 * (tracedS - base) / base
    val largest = layers.toSeq.filter(_._1 != "run").maxByOption(_._2("self_s"))
    o.trace("run_id") = t.runId
    o.trace("traced_s") = tracedS
    o.trace("untraced_median_s") = base
    o.trace("largest_self_layer") = largest.map(_._1).getOrElse("")
    o.trace("layers") = layers.toSeq.sortBy(-_._2("self_s")).map {
      case (n, m) => Map("name" -> n) ++ m
    }
    o.trace("spans") = t.spanRecords
  }
}
