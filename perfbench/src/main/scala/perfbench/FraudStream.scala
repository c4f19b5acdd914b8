package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Materialize, SessionHygiene}
import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.operators.{Cleaning, Split}
import graft.pipeline.Processor
import graft.sources.CsvSource
import graft.streaming.{StreamingOps, StreamingScoring}

/** One transaction on the stream; `dueNs` is when the open-loop
  * generator was due to send it (System.nanoTime of this JVM).
  */
final case class StreamTx(seq: Long, user_id: Long, signup_time: Timestamp,
    purchase_time: Timestamp, purchase_value: Double, source: String,
    browser: String, sex: String, age: Double, ip_address: String, label: Int,
    dueNs: Long)

/** `fraud_stream`: real-time scoring over `MemoryStream`.
  *
  * Set-up fits the scoring `PipelineModel` once on generated history.
  * Two queries read the stream: `StreamingScoring.enrich` +
  * `StreamingScoring.score` against the static IP-range table, and
  * `StreamingOps.velocityWithState` on the user key. Phase 1 is an open
  * loop at a fixed rate well under capacity; every event is timed from
  * when it was due until both its scored row and its velocity row have
  * been emitted. Phase 2 drains a fixed backlog for throughput: it is
  * fed in `Drains` chunks of `Backlog` events, each sent when the one
  * before has been emitted, so the drain spans that many triggers of
  * each query and is timed as a whole.
  */
object FraudStream extends Main.Workload {

  /** Generated history: the model's training data and the event pool. */
  val Fraction = 0.05
  /** Open-loop rate of phase 1 (events/s), and the phase-2 backlog:
    * `Drains` chunks of `Backlog` events.
    */
  val Rate = 200.0
  val Backlog = 2000
  val Drains = 5
  val WarmupEvents = 200
  private val Numeric = Seq("purchase_value", "age", "time_since_signup_seconds",
    "time_since_signup_hours")
  private val Categorical = Seq("source", "browser", "sex", "hour_of_day",
    "day_of_week", "country")

  private var files: Gen.Files = _
  private var history: DataFrame = _
  private var model: PipelineModel = _
  private var ipRanges: DataFrame = _
  private var events: Vector[StreamTx] = _

  /** Generate the history and collect its clean transactions, in
    * purchase-time order, as the events to replay; cut the training split
    * of the same transactions.
    */
  override def inputs(spark: SparkSession, a: Main.Args): Unit = {
    files = Gen.write(new File(a.work, "inputs"), a.seed, Fraction)
    history = trainingSet(spark, Tracer.Off)
  }

  /** Set-up proper: fit the scoring model on the training split. */
  def prepare(spark: SparkSession, a: Main.Args, o: Outcome): Unit =
    model = fit(history, Tracer.Off)

  /** The history through the scoring path's own features (`enrich`),
    * stratified-split; returns the materialized train side.
    */
  private def trainingSet(spark: SparkSession, t: Tracer): DataFrame = {
    import spark.implicits._
    val (fraudRaw, ipRaw) = t.span("sources.read") {
      (CsvSource.read(spark, files.fraud, CsvSource.fraudData),
        CsvSource.read(spark, files.ipToCountry, CsvSource.ipToCountry))
    }
    val (fraud, ips) = t.span("operators.clean") {
      (Processor.cleanFraud(fraudRaw).na.drop(Seq("signup_time", "purchase_time")),
        Processor.cleanIpMap(ipRaw))
    }
    ipRanges = ips
    if (events == null) {
      val clean = fraud.orderBy(col("purchase_time"), col("user_id"))
        .select("user_id", "signup_time", "purchase_time", "purchase_value",
          "source", "browser", "sex", "age", "ip_address", "class")
        .as[(Long, Timestamp, Timestamp, Double, String, String, String, Double, String, Int)]
        .collect()
      events = clean.zipWithIndex.map {
        case ((u, s, p, v, src, b, sx, age, ip, label), i) =>
          StreamTx(i.toLong, u, s, p, v, src, b, sx, age, ip, label, 0L)
      }.toVector
    }
    val x = t.span("operators.geolocate") {
      stringified(enriched(spark.createDataset(events).toDF()))
    }
    t.span("operators.split") {
      Materialize.cut(Split.stratified(x, "label", 0.2, 42L, Seq(col("seq"))).train)
    }
  }

  /** The first `n` events the stream sends: the history's transactions
    * in purchase-time order, repeated as often as needed, each repeat
    * shifted by whole weeks past the one before. The shift keeps the
    * hour and weekday features, and no 24 h velocity window spans two
    * repeats.
    */
  private def replay(n: Int): Vector[StreamTx] = {
    val week = 7L * 86400000L
    val times = events.map(_.purchase_time.getTime)
    val shift = ((times.max - times.min) / week + 2) * week
    Vector.tabulate(n) { i =>
      val e = events(i % events.size)
      val d = (i / events.size) * shift
      e.copy(seq = i.toLong, signup_time = new Timestamp(e.signup_time.getTime + d),
        purchase_time = new Timestamp(e.purchase_time.getTime + d))
    }
  }

  private def fit(train: DataFrame, t: Tracer): PipelineModel =
    t.span("ml.fit")(FeaturePipeline.build(FeatureConfig(Numeric, Categorical)).fit(train))

  private def stringified(df: DataFrame): DataFrame =
    Categorical.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("string")))

  private def enriched(tx: DataFrame): DataFrame = StreamingScoring.enrich(
    Cleaning.withIpInt(tx, "ip_address", "ip_address_int"), ipRanges)

  /** The scoring plan, identical for a stream and for a static frame. */
  def scored(tx: DataFrame): DataFrame =
    StreamingScoring.score(stringified(enriched(tx)), model)
      .select(col("seq"), vector_to_array(col("features")).as("features"))

  def velocity(tx: DataFrame): DataFrame = {
    import tx.sparkSession.implicits._
    StreamingOps.velocityWithState(tx.select(
      col("user_id").cast("string").as("key"),
      unix_micros(col("purchase_time")).as("tsMicros"),
      col("seq").as("eventId")).as[StreamingOps.VEvent])
      .select(col("eventId").as("seq"), col("n"))
  }

  /** Rows a sink emitted, with the emission time of each. */
  final class Sink {
    val emitNs = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val values = new ConcurrentHashMap[java.lang.Long, Seq[Double]]()
    val duplicates = new java.util.concurrent.atomic.AtomicLong(0)
    def add(rows: Array[(Long, Seq[Double])]): Unit = {
      val now = System.nanoTime()
      rows.foreach { case (seq, v) =>
        if (emitNs.putIfAbsent(seq, now) ne null) duplicates.incrementAndGet()
        values.put(seq, v)
      }
    }
    def size: Int = emitNs.size
    def emitted(seq: Long): Long = emitNs.get(seq).longValue
  }

  /** Both queries and their sinks. A `MemoryStream` serves one reader,
    * so each query has its own, and every event is added to both.
    */
  final case class Session(scoreQ: StreamingQuery, velQ: StreamingQuery,
      mems: Seq[MemoryStream[StreamTx]], score: Sink, vel: Sink) {
    def send(txs: Seq[StreamTx]): Unit = mems.foreach(_.addData(txs))
  }

  private def start(spark: SparkSession, dir: File): Session = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a fixed partition count, like a partitioned log; without it every
    // addData call would become a partition (and a task) of its own
    val parts = spark.sparkContext.defaultParallelism
    val mems = Seq(MemoryStream[StreamTx](parts), MemoryStream[StreamTx](parts))
    val (score, vel) = (new Sink, new Sink)
    val scoreQ = scored(mems(0).toDF()).writeStream.queryName("score")
      .option("checkpointLocation", new File(dir, "ckpt_score").getPath)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
        score.add(df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)))
      }.start()
    val velQ = velocity(mems(1).toDF()).writeStream.queryName("velocity")
      .option("checkpointLocation", new File(dir, "ckpt_velocity").getPath)
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
        vel.add(df.collect().map(r => r.getLong(0) -> Seq(r.getLong(1).toDouble)))
      }.start()
    Session(scoreQ, velQ, mems, score, vel)
  }

  private def awaitEmitted(s: Session, n: Int, timeoutS: Double): Unit = {
    val t0 = System.nanoTime()
    while (s.score.size < n || s.vel.size < n) {
      Seq(s.scoreQ, s.velQ).foreach(q => q.exception.foreach(e => throw e))
      require((System.nanoTime() - t0) / 1e9 < timeoutS,
        s"stream emitted ${s.score.size}/${s.vel.size} of $n events in ${timeoutS}s")
      Thread.sleep(2)
    }
  }

  final case class Phases(latMs: Seq[Double], triggers: Int, drainS: Double,
      lateMs: Seq[Double], maxBacklog: Int, sentRate: Double, session: Session,
      sent: Vector[StreamTx])

  /** Warm-up, the open-loop phase for `seconds`, then the backlog drain. */
  private def phases(spark: SparkSession, dir: File, seconds: Double): Phases = {
    val n1 = math.max((Rate * seconds).toInt, 1)
    val all = replay(WarmupEvents + n1 + Drains * Backlog)
    val s = start(spark, dir)
    try {
      val warm = all.take(WarmupEvents)
      s.send(warm)
      awaitEmitted(s, warm.size, 120)
      Main.mark("stream warmed up")
      val open = all.slice(WarmupEvents, WarmupEvents + n1)
      val intervalNs = 1e9 / Rate
      val t0 = System.nanoTime() + 10000000L
      val due = (i: Int) => t0 + (i * intervalNs).toLong
      val lateMs = Seq.newBuilder[Double]
      var maxBacklog = 0
      var i = 0
      var lastSend = t0
      while (i < n1) {
        val now = System.nanoTime()
        val upto = math.min(n1, ((now - t0) / intervalNs).toInt + 1)
        if (upto > i) {
          s.send(open.slice(i, upto).zipWithIndex.map { case (e, k) =>
            e.copy(dueNs = due(i + k)) })
          lateMs += (now - due(i)) / 1e6
          maxBacklog = math.max(maxBacklog,
            WarmupEvents + upto - math.min(s.score.size, s.vel.size))
          i = upto
          lastSend = now
        }
        Thread.sleep(1)
      }
      awaitEmitted(s, WarmupEvents + n1, 120)
      val lat = open.indices.map { k =>
        val seq = open(k).seq
        (math.max(s.score.emitted(seq), s.vel.emitted(seq)) - due(k)) / 1e6
      }
      val triggers = open.map(e => s.score.emitted(e.seq)).distinct.size
      val sentRate = n1 / ((lastSend - t0) / 1e9 + intervalNs / 1e9)
      // phase 2: a fixed backlog, one chunk per trigger, timed as a whole
      var total = WarmupEvents + n1
      val d0 = System.nanoTime()
      (0 until Drains).foreach { _ =>
        val chunk = all.slice(total, total + Backlog)
        s.send(chunk.map(_.copy(dueNs = System.nanoTime())))
        total += chunk.size
        awaitEmitted(s, total, 120)
      }
      val drainS = (System.nanoTime() - d0) / 1e9
      Phases(lat, triggers, drainS, lateMs.result(), maxBacklog, sentRate, s, all)
    } finally {
      s.scoreQ.stop(); s.velQ.stop()
    }
  }

  /** Every event emitted exactly once per sink, and both sinks equal to
    * the same functions run over the same events as a static frame.
    */
  private def verify(spark: SparkSession, p: Phases, o: Outcome): Unit = {
    import spark.implicits._
    val sent = p.sent
    val ids = sent.map(_.seq).toSet
    Seq("score" -> p.session.score, "velocity" -> p.session.vel).foreach {
      case (name, sink) =>
        val got = sink.emitNs.keySet().asScala.map(_.longValue).toSet
        o.check(s"fraud_stream $name sink emits each event once",
          got == ids && sink.duplicates.get == 0,
          s"${got.size} distinct of ${ids.size}, ${sink.duplicates.get} duplicates, " +
            s"${(ids -- got).size} missing, ${(got -- ids).size} unexpected")
    }
    val static = spark.createDataset(sent).toDF()
    val batchScore = scored(static).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val batchVel = velocity(static).collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1).toDouble)).toMap
    Seq("score" -> (p.session.score, batchScore),
      "velocity" -> (p.session.vel, batchVel)).foreach { case (name, (sink, batch)) =>
      val diff = batch.count { case (k, v) => sink.values.get(k) != v }
      o.check(s"fraud_stream $name stream equals batch",
        diff == 0 && batch.size == sink.values.size,
        s"$diff of ${batch.size} rows differ (stream ${sink.values.size})")
    }
  }

  def run(spark: SparkSession, a: Main.Args, o: Outcome): Unit = {
    SessionHygiene.reset(spark)
    val p = phases(spark, new File(a.work, "untraced"), a.seconds)
    Main.mark("stream phases done")
    o.attempted += p.sent.size
    o.e2e("op_p50_ms") = Stats.median(p.latMs)
    o.e2e("op_p90_ms") = Stats.percentile(p.latMs, 90)
    o.e2e("items_per_s") = Drains * Backlog / p.drainS
    o.named("score_p50_ms") = Stats.median(p.latMs)
    o.named("score_p95_ms") = Stats.percentile(p.latMs, 95)
    o.named("score_rows_per_s") = Drains * Backlog / p.drainS
    o.named("score_events") = p.latMs.size.toDouble
    o.named("score_triggers") = p.triggers.toDouble
    o.named("generator_late_p99_ms") = Stats.percentile(p.lateMs, 99)
    o.named("rate_sustained_pct") = 100.0 * p.sentRate / Rate
    verify(spark, p, o)
    Main.mark("stream verified")
    if (a.trace) traced(spark, a, o, p)
  }

  private def traced(spark: SparkSession, a: Main.Args, o: Outcome, untraced: Phases): Unit = {
    val t = new Recorder(spark, s"${a.workload}-${a.seed}-traced")
    t.start()
    val t0 = System.nanoTime()
    t.span("SessionHygiene.reset")(SessionHygiene.reset(spark))
    model = fit(trainingSet(spark, t), t)
    val p = t.span("streaming.run") {
      phases(spark, new File(a.work, "traced"), a.seconds * 0.5)
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    t.stop()
    // tracing overhead is compared on the fixed-size drain
    Layers.report(t, o, Seq(untraced.drainS), tracedS)
    o.layers("trace.overhead_pct") = 100.0 * (p.drainS - untraced.drainS) / untraced.drainS
    val progress = t.progress.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = progress.map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = dur("triggerExecution")
    val trigTotal = trig.sum
    def pct(k: String) = 100.0 * dur(k).sum / trigTotal
    val states = progress.flatMap(_.stateOperators.toSeq)
    o.layers("streaming.triggers") = progress.size.toDouble
    o.layers("streaming.rows_per_trigger") =
      progress.map(_.numInputRows.toDouble).sum / progress.size
    o.layers("streaming.get_batch_pct") = pct("getBatch")
    o.layers("streaming.planning_pct") = pct("queryPlanning")
    o.layers("streaming.wal_commit_pct") = pct("walCommit")
    o.layers("streaming.add_batch_pct") = pct("addBatch")
    o.layers("streaming.state_commit_pct") = 100.0 * states.map(_.commitTimeMs.toDouble).sum / trigTotal
    o.layers("streaming.state_rows") = states.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    o.layers("streaming.state_mb") = states.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0)
    o.layers("streaming.backlog_rows") = p.maxBacklog.toDouble
    o.layers("streaming.rate_sustained_pct") = 100.0 * p.sentRate / Rate
    o.trace("streaming") = Map(
      "trigger_p50_ms" -> Stats.median(trig), "trigger_p95_ms" -> Stats.percentile(trig, 95),
      "triggers" -> progress.size, "generator_late_p99_ms" -> Stats.percentile(p.lateMs, 99),
      "generator_late_max_ms" -> p.lateMs.max, "score_p50_ms" -> Stats.median(p.latMs),
      "drain_s" -> p.drainS, "untraced_drain_s" -> untraced.drainS,
      "progress" -> progress.map(pr => Map("query" -> pr.name, "batch" -> pr.batchId,
        "rows" -> pr.numInputRows, "ms" -> pr.durationMs.asScala.toMap)))
  }
}
