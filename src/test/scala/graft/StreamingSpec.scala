package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Velocity
import graft.streaming.{Continual, ContinualService, StreamingOps}
import graft.streaming.StreamingOps.{VCount, VEvent}

/** Stream/batch equivalence for the streaming surface: the same rows fed
  * through a MemoryStream must agree with the batch operators.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, "u1", ts("2024-01-01 00:00:00"), 10.0),
    (2L, "u1", ts("2024-01-01 01:00:00"), 20.0),
    (3L, "u1", ts("2024-01-02 00:30:00"), 30.0),
    (4L, "u2", ts("2024-01-01 00:10:00"), 5.0),
    (5L, "u2", ts("2024-01-01 05:00:00"), 15.0))

  test("sliding-window velocity: stream output equals batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp, Double)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts", "value")
    val q = StreamingOps.slidingVelocity(stream, windowLen = "2 hours",
        slide = "1 hour", watermark = "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("sliding_out")
      .select($"window.start", $"user_id", $"n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    val batch = rows.toDF("event_id", "user_id", "ts", "value")
      .groupBy(window($"ts", "2 hours", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start", $"user_id", $"n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === batch)
  }

  test("streaming dedup drops duplicate keys within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("event_id", "k", "ts")
    val q = StreamingOps.streamingDedup(stream, "ts", Seq("k"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    mem.addData((1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "a", ts("2024-01-01 00:10:00")),
      (3L, "b", ts("2024-01-01 00:20:00")))
    q.processAllAvailable()
    val got = spark.table("dedup_out").select($"k").collect().map(_.getString(0))
    q.stop()
    assert(got.sorted.toSeq === Seq("a", "b"))
  }

  test("streamingDedup on an in-order stream keeps exactly dedupFirstByTime's rows") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "a", ts("2024-01-01 00:10:00")),
      (3L, "b", ts("2024-01-01 00:20:00")),
      (4L, "b", ts("2024-01-01 00:20:00")), // same-ts tie: smaller id wins
      (5L, "c", ts("2024-01-01 00:30:00")))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("event_id", "k", "ts")
    val q = StreamingOps.streamingDedup(stream, "ts", Seq("k"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_eq_out").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    val streamed = spark.table("dedup_eq_out")
      .select($"event_id").collect().map(_.getLong(0)).toSet
    q.stop()
    val batch = StreamingOps.dedupFirstByTime(
      data.toDF("event_id", "k", "ts"), "ts", Seq("k"), Seq("event_id"))
      .select($"event_id").collect().map(_.getLong(0)).toSet
    assert(batch === Set(1L, 3L, 5L))
    assert(streamed === batch)
  }

  test("sessionization groups by inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts")
    val q = StreamingOps.sessionize(stream, gap = "30 minutes",
        watermark = "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    // u1: 2 events 10 min apart (one session), then one 2 h later
    mem.addData((1L, "u1", ts("2024-01-01 00:00:00")),
      (2L, "u1", ts("2024-01-01 00:10:00")),
      (3L, "u1", ts("2024-01-01 02:10:00")))
    q.processAllAvailable()
    val sessions = spark.table("session_out")
      .select($"n_events").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(sessions.toSeq === Seq(1L, 2L))
  }

  test("transformWithState velocity equals batch RANGE-window counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val events = rows.map { case (id, u, t, _) =>
      VEvent(u, t.getTime * 1000L, id)
    }
    // transformWithState needs a provider with column-family support
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[VEvent]
    val q = StreamingOps.velocityWithTws(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("tws_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tws_ckpt").toString)
      .start()
    mem.addData(events.take(2): _*)
    q.processAllAvailable()
    mem.addData(events.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("tws_out").as[VCount].collect()
      .map(c => c.eventId -> c.n).toMap
    q.stop()
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val batch = Velocity.rollingCounts(
      rows.toDF("event_id", "user_id", "ts", "value"), "ts", Seq("user_id"),
      suffix = "_n")
      .select($"event_id", $"user_id_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batch)
  }

  test("stateful velocity hot key: 20k single-key events stay exact") {
    // the pre-fix buffer scan was O(b²) per key per batch — 4·10⁸
    // comparisons for this case; the sorted-buffer binary search makes
    // it ~3·10⁵. Events 10 s apart, so the 24 h window holds 8640
    // predecessors: n(i) = min(i, 8640), which also pins the window's
    // closed lower edge (event i=8640 sees exactly ts-24h inclusive).
    val n = 20000
    val events = (0 until n).map(i => VEvent("hot", i.toLong * 10000000L, i.toLong))
    val got = StreamingOps.velocityWithState(spark.createDataset(events))
      .collect().map(c => c.eventId -> c.n).toMap
    assert(got.size === n)
    (0 until n).foreach { i =>
      val expect = math.min(i.toLong, 8640L)
      assert(got(i.toLong) === expect, s"event $i: got ${got(i.toLong)}, want $expect")
    }
  }

  test("transformWithState velocity runs in batch mode and matches flatMapGroupsWithState") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = rows.map { case (id, u, t, _) => VEvent(u, t.getTime * 1000L, id) }
      val ds = spark.createDataset(events)
      val tws = StreamingOps.velocityWithTws(ds)
        .collect().map(c => c.eventId -> c.n).toMap
      val fm = StreamingOps.velocityWithState(ds)
        .collect().map(c => c.eventId -> c.n).toMap
      assert(tws === fm)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stateful velocity equals batch RANGE-window counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val events = rows.map { case (id, u, t, _) =>
      VEvent(u, t.getTime * 1000L, id)
    }
    val mem = MemoryStream[VEvent]
    val q = StreamingOps.velocityWithState(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("vel_out").start()
    // feed in two micro-batches to exercise state carry-over
    mem.addData(events.take(2): _*)
    q.processAllAvailable()
    mem.addData(events.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("vel_out").as[VCount].collect()
      .map(c => c.eventId -> c.n).toMap
    q.stop()
    val batch = Velocity.rollingCounts(
      rows.toDF("event_id", "user_id", "ts", "value"), "ts", Seq("user_id"),
      suffix = "_n")
      .select($"event_id", $"user_id_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === batch)
  }

  test("idempotent batch sink: a replayed micro-batch does not duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink")
    val out = dir.resolve("data").toString
    val ckpt = dir.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingSink.parquetExactlyOnce(
      mem.toDF().toDF("id", "v"), out, ckpt)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val once = spark.read.parquet(out)
    assert(once.count() === 3)
    // simulate the failure-recovery replay of batch 0: same rows, same id
    val replay = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.streaming.StreamingSink.writeBatchIdempotent(replay, 0L, out)
    val after = spark.read.parquet(out)
    assert(after.count() === 3, "replayed batch duplicated rows")
    // batch id is a readable partition column
    assert(after.select("batch_id").distinct().count() === 2)
  }

  test("stream-stream interval join equals the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val viewRows = Seq(
      (10L, "u1", ts("2024-01-01 00:00:00")),
      (11L, "u1", ts("2024-01-01 02:00:00")),
      (12L, "u2", ts("2024-01-01 00:00:00")))
    val actionRows = Seq(
      (20L, "u1", ts("2024-01-01 00:30:00")), // within 1h of view 10
      (21L, "u1", ts("2024-01-01 02:59:00")), // within 1h of view 11
      (22L, "u1", ts("2024-01-01 04:00:00")), // matches nothing
      (23L, "u2", ts("2024-01-01 00:10:00"))) // within 1h of view 12
    def join(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      StreamingOps.intervalJoin(l, r, "user_id", "ts", "action_ts",
        beforeSec = 0L, afterSec = 3600L, watermark = "0 seconds")
    val batch = join(
      viewRows.toDF("view_id", "user_id", "ts"),
      actionRows.toDF("action_id", "user_id", "action_ts"))
      .select($"view_id", $"action_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch === Set((10L, 20L), (11L, 21L), (12L, 23L)))
    val lMem = MemoryStream[(Long, String, Timestamp)]
    val rMem = MemoryStream[(Long, String, Timestamp)]
    val q = join(
      lMem.toDF().toDF("view_id", "user_id", "ts"),
      rMem.toDF().toDF("action_id", "user_id", "action_ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    lMem.addData(viewRows: _*)
    rMem.addData(actionRows: _*)
    q.processAllAvailable()
    val got = spark.table("ij_out").select($"view_id", $"action_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got === batch)
  }

  test("text quality/language/repetition-ready ops compose with a document stream") {
    // the LLM text signals are narrow maps, so they must run unchanged
    // on a streaming frame (filter-at-ingest: score documents as they
    // arrive, before they ever land in the corpus)
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val scored = TextAnalysis.qualityScore(docs, "text")
      .withColumn("lang", TextAnalysis.languageId($"text"))
      .withColumn("n_bpeish", TextAnalysis.bpeishTokenCount($"text"))
    assert(scored.isStreaming)
    val q = scored.select($"doc_id", $"quality_score", $"lang", $"n_bpeish")
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_out").start()
    mem.addData(
      (1L, "the cat and the dog went to the park"),
      (2L, "zz"))
    q.processAllAvailable()
    val got = spark.table("quality_out").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    q.stop()
    assert(got(1L) === ((1.0, "en")))
    assert(got(2L) === ((0.5, "und")))
  }

  test("sessionsWithTimers: a session closes when the watermark passes " +
    "last event + gap, and in-batch gaps split inline") {
    import graft.streaming.StreamingOps.{SessEvent, SessOut}
    implicit val sqlCtx = spark.sqlContext
    // timers use column-family state: RocksDB provider required
    // (set/restore, q84's discipline)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[SessEvent]
      val out = StreamingOps.sessionsWithTimers(
        mem.toDS(), gapMs = 10000L, watermarkDelay = "0 seconds")
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("timer_sessions").start()
      // batch 1: u1 has two close events plus an in-batch gap split
      mem.addData(
        SessEvent("u1", ts("2024-01-01 00:00:01")),
        SessEvent("u1", ts("2024-01-01 00:00:02")),
        SessEvent("u1", ts("2024-01-01 00:01:00"))) // 58s gap: splits
      q.processAllAvailable()
      // batch 2: a different key far in the future advances the
      // watermark past u1's last + gap, firing u1's timer
      mem.addData(SessEvent("u2", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      mem.addData(SessEvent("u2", ts("2024-01-01 01:00:01")))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("timer_sessions").as[SessOut].collect()
      val u1 = rows.filter(_.key == "u1").sortBy(_.start_ms)
      assert(u1.length === 2)
      assert(u1(0).n_events === 2L) // the inline split
      assert(u1(1).n_events === 1L) // closed by the timer
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("cdcApplySink: micro-batched CDC apply converges to the batch " +
    "upsert result, last op per key wins within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc_snap").toString
    val snap = dir + "/snapshot"
    val ckpt = dir + "/ckpt"
    val mem = MemoryStream[(Long, String, Long, Double)]
    val stream = mem.toDF().toDF("k", "op", "seq", "v")
    val q = StreamingOps.cdcApplySink(stream, snap, "k", "op", "seq", ckpt)
    // batch 1: insert 1, 2; update 1 twice in-batch (seq order wins)
    mem.addData((1L, "U", 1L, 10.0), (2L, "U", 2L, 20.0),
      (1L, "U", 3L, 11.0))
    q.processAllAvailable()
    // batch 2: delete 2, insert 3
    mem.addData((2L, "D", 4L, 0.0), (3L, "U", 5L, 30.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(snap).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(got === Map(1L -> 11.0, 3L -> 30.0))
  }

  test("continual semantic dedup: the foreachBatch stream equals the " +
    "batch replay, and batch-1 survivors block batch-2 arrivals") {
    import graft.streaming.ContinualDedup
    implicit val sqlCtx = spark.sqlContext
    val centroids = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)),
      (1, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cell", "cvec")
    val corpus0 = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0)),
      (101L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("id", "vec")
    // batch 1: id 1 duplicates corpus 100; id 2 is new content (cell 0)
    val batch1 = Seq((1L, Seq(0.95, 0.05, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0, 0.2)))
    // batch 2: id 3 duplicates SURVIVOR 2 (not the initial corpus);
    // id 4 duplicates corpus 101
    val batch2 = Seq((3L, Seq(0.01, 0.0, 1.0, 0.2)),
      (4L, Seq(0.0, 0.9, 0.1, 0.0)))
    type Verdict = (Long, Long, Int, Boolean, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Verdict] =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("batch_id"),
        r.getAs[Int]("cell"), r.getAs[Boolean]("is_dup"),
        r.getAs[Any]("matched_id"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Verdict]
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("id", "vec")
    val svc = ContinualDedup.service(corpus0, "id", "vec", centroids,
      threshold = 0.8, dim = 4)
    val q = Continual.start(svc, stream, "continual_semantic_dedup") {
      checked => streamed ++= rows(checked)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("id", "vec"), batch2.toDF("id", "vec"))))
    assert(streamed.toSet === replayed)
    val verdicts = replayed.map(v => v._1 -> ((v._4, v._5))).toMap
    assert(verdicts(1L) === ((true, 100L)))
    assert(verdicts(2L) === ((false, null)))
    assert(verdicts(3L) === ((true, 2L))) // matched a batch-1 survivor
    assert(verdicts(4L) === ((true, 101L)))
  }

  test("continual counts: stream equals replay; linear merge equals " +
    "the one-shot sketch after the last batch") {
    import graft.streaming.ContinualCounts
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq("a", "a", "b", "c")
    val b2 = Seq("a", "c", "c", "d")
    val watch = Seq("a", "c", "zz").toDF("item")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("item"), r.getAs[Long]("cms_est"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val mem = MemoryStream[String]
    val svc = ContinualCounts.service("item", watch, d = 4, w = 16)
    val q = Continual.start(svc, mem.toDF().toDF("item"), "continual_counts") {
      est => streamed ++= rows(est)
    }
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(b1.toDF("item"), b2.toDF("item"))))
    assert(streamed.toSet === replayed)
    // after the final merge, state == the one-shot batch sketch
    val oneShot = Sketches.countMinEstimate(
      Sketches.countMinBuild((b1 ++ b2).toDF("item"), "item", 4, 16),
      watch, "item", 4, 16).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cms_est")).toMap
    val afterLast = replayed.filter(_._1 == 1L).map(v => v._2 -> v._3).toMap
    assert(afterLast === oneShot)
    // estimates upper-bound truth at every step
    val truth = Map(0L -> Map("a" -> 2L, "c" -> 1L, "zz" -> 0L),
      1L -> Map("a" -> 3L, "c" -> 3L, "zz" -> 0L))
    replayed.foreach { case (b, item, est) =>
      assert(est >= truth(b)(item), s"batch $b item $item")
    }
  }

  test("continual minhash dedup: the foreachBatch stream equals the " +
    "batch replay, and batch-1 survivors block batch-2 arrivals") {
    import graft.streaming.ContinualMinhash
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val baseNear = (1 to 40)
      .map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val otherNear = (100 to 140)
      .map(i => if (i == 120) "ALTERED" else s"v$i").mkString(" ")
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")
    val corpus0 = Seq((100L, base)).toDF("id", "text")
    // batch 1: id 1 duplicates corpus 100; id 2 is new content
    val batch1 = Seq((1L, baseNear), (2L, other))
    // batch 2: id 3 duplicates SURVIVOR 2; id 4 is new
    val batch2 = Seq((3L, otherNear), (4L, fresh))
    type Verdict = (Long, Long, Boolean, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Verdict] =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Boolean]("is_dup"),
        r.getAs[Any]("matched_id"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Verdict]
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "text")
    val svc = ContinualMinhash.service(corpus0, "text", "id")
    val q = Continual.start(svc, stream, "continual_minhash_dedup") {
      checked => streamed ++= rows(checked)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("id", "text"), batch2.toDF("id", "text"))))
    assert(streamed.toSet === replayed)
    val verdicts = replayed.map(v => v._1 -> ((v._3, v._4))).toMap
    assert(verdicts(1L) === ((true, 100L)))
    assert(verdicts(2L) === ((false, null)))
    assert(verdicts(3L) === ((true, 2L))) // matched a batch-1 survivor
    assert(verdicts(4L) === ((false, null)))
  }

  test("continual packing: streamed manifests equal the one-shot pack") {
    import graft.streaming.ContinualPacking
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, 100L), (2L, 200L), (3L, 30L))
    val b2 = Seq((4L, 0L), (5L, 300L))
    val b3 = Seq((6L, 5L), (7L, 260L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "start_offset", "first_seq",
        "last_seq", "append_ok")
        .collect().map(_.toSeq).toSet

    val streamed = scala.collection.mutable.Set.empty[Seq[Any]]
    val mem = MemoryStream[(Long, Long)]
    val svc = ContinualPacking.service("doc_id", "n_tok", seqLen = 128)
    val q = Continual.start(svc, mem.toDF().toDF("doc_id", "n_tok"),
      "continual_packing") { m => streamed ++= rows(m) }
    Seq(b1, b2, b3).foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(b1, b2, b3).map(_.toDF("doc_id", "n_tok"))))
    assert(streamed.toSet === replayed)
    val oneShot = rows(TextAnalysis.sequencePack(
      (b1 ++ b2 ++ b3).toDF("doc_id", "n_tok"), "doc_id", "n_tok", 128)
      .withColumn("append_ok", org.apache.spark.sql.functions.lit(true)))
    assert(replayed === oneShot)
  }

  test("continual ANN: stream equals replay, and a re-centroided cell " +
    "re-routes a later batch that the frozen index would misplace") {
    import graft.operators.Similarity
    import graft.streaming.ContinualAnn
    implicit val sqlCtx = spark.sqlContext
    val centroids0 = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)),
      (1, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cell", "cvec")
    val corpus = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0)),
      (101L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("id", "vec")
    val corpusAssign = Similarity.ivfAssign(corpus, "id", "vec", centroids0)
    // batch 1: id 1 lands in cell 1 (cos 0.8 vs 0.6) and drags its
    // centroid to the member mean (0.3, 0.9, 0, 0) — drift
    // sqrt(0.36 + 0.04) ≈ 0.632 > 0.5
    val batch1 = Seq((1L, Seq(0.6, 0.8, 0.0, 0.0)))
    // batch 2: id 2 sits BETWEEN the cells — the frozen index reads
    // (0.75 vs 0.62) = cell 0, the repaired one (0.75 vs ~0.825) = cell 1
    val batch2 = Seq((2L, Seq(0.75, 0.62, 0.0, 0.0)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Int]("cell"))).toSet

    val streamed = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val mem = MemoryStream[(Long, Seq[Double])]
    val svc = ContinualAnn.service(corpus, corpusAssign, centroids0,
      "id", "vec", threshold = 0.5)
    val q = Continual.start(svc, mem.toDF().toDF("id", "vec"),
      "continual_ann_index") { a => streamed ++= rows(a) }
    Seq(batch1, batch2).foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()

    val batchDfs = Seq(batch1.toDF("id", "vec"), batch2.toDF("id", "vec"))
    val replayed = rows(Continual.replay(svc, batchDfs))
    assert(streamed.toSet === replayed)
    assert(replayed === Set((1L, 0L, 1), (2L, 1L, 1)))
    // the contrast: the frozen index would have misplaced id 2
    val frozen = Similarity.ivfAssign(batch2.toDF("id", "vec"),
      "id", "vec", centroids0).collect()
    assert(frozen.map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell")))
      .toSeq === Seq((2L, 0)))
    // final centroids: cell 0 untouched byte-for-byte; cell 1 is the
    // 12 dp-rounded mean of its three members (101, 1, 2)
    val cent = Continual.replayState(svc, batchDfs).centroids
      .collect().map(r => r.getAs[Int]("cell") ->
        r.getAs[Seq[Double]]("cvec")).toMap
    assert(cent(0) === Seq(1.0, 0.0, 0.0, 0.0))
    val want = Seq((0.0 + 0.6 + 0.75) / 3, (1.0 + 0.8 + 0.62) / 3, 0.0, 0.0)
    cent(1).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-11, s"cell 1 got ${cent(1)}")
    }
  }

  test("continual frontier: stream equals replay; canonical dedup, " +
    "robots gate, and per-host ranks continuing across batches") {
    import graft.streaming.ContinualFrontier
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(("h.com", "/no/", false)).toDF("host", "prefix", "allow")
    val batch1 = Seq(
      (1L, "https://h.com/a"),
      (2L, "https://WWW.h.com:443/a?utm_source=x"), // canonical dup of 1
      (3L, "https://h.com/no/1"), // robots-denied
      (4L, "https://i.com/z")) // no rules: default allow
    val batch2 = Seq(
      (5L, "https://h.com/a"), // cross-batch dup
      (6L, "https://h.com/b")) // new: h.com rank must CONTINUE at 2
    type V = (Long, Long, Boolean, Any, Any, Any, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[V] =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Boolean]("is_dup_url"),
        r.getAs[Any]("host"), r.getAs[Any]("allow"),
        r.getAs[Any]("host_rank"), r.getAs[Any]("fetch_offset_ms"))).toSet

    val streamed = scala.collection.mutable.Set.empty[V]
    val mem = MemoryStream[(Long, String)]
    val svc = ContinualFrontier.service("id", "url", rules, delayMs = 100L)
    val q = Continual.start(svc, mem.toDF().toDF("id", "url"),
      "continual_frontier") { v => streamed ++= rows(v) }
    Seq(batch1, batch2).foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("id", "url"), batch2.toDF("id", "url"))))
    assert(streamed.toSet === replayed)
    assert(replayed === Set(
      (1L, 0L, false, "h.com", true, 1L, 0L),
      (2L, 0L, true, null, null, null, null),
      (3L, 0L, false, "h.com", false, null, null),
      (4L, 0L, false, "i.com", true, 1L, 0L),
      (5L, 1L, true, null, null, null, null),
      (6L, 1L, false, "h.com", true, 2L, 100L)))
  }

  test("continual preference: post-batch ratings equal the one-shot " +
    "computation over the prefix") {
    import graft.operators.Preference
    import graft.streaming.ContinualPreference
    val b0 = Seq(("A", "B"), ("A", "B"), ("B", "C")).toDF("w", "l")
    val b1 = Seq(("C", "A"), ("B", "A")).toDF("w", "l")
    val replay = Continual.replay(ContinualPreference.service("w", "l"),
      Seq(b0, b1)).collect()
    // after batch 1 the ratings must match bradleyTerry over b0 ∪ b1
    val oneShot = Preference.bradleyTerry(b0.unionByName(b1), "w", "l")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val after1 = replay.filter(_.getLong(0) == 1L)
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSet
    assert(after1 === oneShot)
    // after batch 0 likewise equals the one-shot over b0 alone
    val oneShot0 = Preference.bradleyTerry(b0, "w", "l")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val after0 = replay.filter(_.getLong(0) == 0L)
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSet
    assert(after0 === oneShot0)
  }

  test("continual winnow overlap: the stream emits exactly the replay " +
    "rows; batch-2 docs match batch-1 survivors") {
    import graft.streaming.ContinualWinnow
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")
    val corpus0 = Seq((100L, base)).toDF("id", "text")
    // batch 1: id 1 quotes corpus 100; id 2 is new content
    val batch1 = Seq((1L, base), (2L, other))
    // batch 2: id 3 quotes SURVIVOR 2; id 4 is new
    val batch2 = Seq((3L, other), (4L, fresh))
    type Verdict = (Long, Long, Boolean, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Verdict] =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Boolean]("is_overlap"),
        r.getAs[Any]("matched_id"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Verdict]
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "text")
    val svc = ContinualWinnow.service(corpus0, "text", "id")
    val q = Continual.start(svc, stream, "continual_winnow_overlap") {
      checked => streamed ++= rows(checked)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("id", "text"), batch2.toDF("id", "text"))))
    assert(streamed.toSet === replayed)
    val verdicts = replayed.map(v => v._1 -> ((v._3, v._4))).toMap
    assert(verdicts(1L) === ((true, 100L)))
    assert(verdicts(2L) === ((false, null)))
    assert(verdicts(3L) === ((true, 2L))) // matched a batch-1 survivor
    assert(verdicts(4L) === ((false, null)))
  }

  test("continual simhash dedup: the foreachBatch stream equals the " +
    "batch replay, and batch-1 survivors block batch-2 arrivals") {
    import graft.streaming.ContinualSimhash
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")
    val corpus0 = Seq((100L, base)).toDF("id", "text")
    // batch 1: id 1 duplicates corpus 100 exactly (hamming 0 — the
    // deterministic case); id 2 is new content
    val batch1 = Seq((1L, base), (2L, other))
    // batch 2: id 3 duplicates SURVIVOR 2; id 4 is new
    val batch2 = Seq((3L, other), (4L, fresh))
    type Verdict = (Long, Long, Boolean, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Verdict] =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("batch_id"), r.getAs[Boolean]("is_dup"),
        r.getAs[Any]("matched_id"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Verdict]
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "text")
    val svc = ContinualSimhash.service(corpus0, "text", "id")
    val q = Continual.start(svc, stream, "continual_simhash_dedup") {
      checked => streamed ++= rows(checked)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("id", "text"), batch2.toDF("id", "text"))))
    assert(streamed.toSet === replayed)
    val verdicts = replayed.map(v => v._1 -> ((v._3, v._4))).toMap
    assert(verdicts(1L) === ((true, 100L)))
    assert(verdicts(2L) === ((false, null)))
    assert(verdicts(3L) === ((true, 2L))) // matched a batch-1 survivor
    assert(verdicts(4L) === ((false, null)))
  }

  private def crawlMediaRow(id: Long, text: String)
      : graft.operators.Multimodal.MediaRow = {
    import graft.operators.Multimodal
    val html = "<p>" + text + "</p>"
    val ok = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n" + html
    Multimodal.MediaRow(id,
      Multimodal.gzipMembersBytes(Seq(
        Multimodal.warcBytesRaw(Seq(("response", s"https://d$id/", ok))),
        Multimodal.warcBytesRaw(Seq(("request", s"https://d$id/", ""))))),
      "application/warc", -1, -1)
  }

  test("continual crawl service: the stream equals the batch replay; " +
    "batch-2 dups match batch-1 survivors and offsets keep running") {
    import graft.functions.TextFunctions
    import graft.operators.{Multimodal, TextAnalysis, TextDedup}
    import graft.streaming.ContinualCrawl
    implicit val sqlCtx = spark.sqlContext
    val enDup = "the quick brown fox jumps over the lazy dog today"
    val enNew = "a fresh page of perfectly ordinary words for the corpus"
    val enMore = "the corpus keeps growing with more of the simplest words"
    val corpus = Seq((1L, enDup)).toDF("doc_id", "text")
    val vocab = TextAnalysis.wordpieceVocab(
      Seq(enDup, enNew, enMore).toDF("text"), "text")
    val index0 = TextDedup.buildMinhashIndex(corpus, "text", "doc_id",
      hashFn = TextFunctions.fastHash)
    // batch 1: 10 duplicates corpus doc 1; 11 is new -> packs at 0
    val batch1 = Seq(crawlMediaRow(10L, enDup), crawlMediaRow(11L, enNew))
    // batch 2: 20 duplicates SURVIVOR 11; 21 is new -> offsets continue
    val batch2 = Seq(crawlMediaRow(20L, enNew), crawlMediaRow(21L, enMore))
    type Row = (Long, Long, Boolean, Any, Any)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
      df.collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("media_id"), r.getAs[Boolean]("is_dup"),
        r.getAs[Any]("matched_id"), r.getAs[Any]("start_offset"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Row]
    val mem = MemoryStream[Multimodal.MediaRow]
    val svc = ContinualCrawl.service(index0, vocab)
    val q = Continual.start(svc, mem.toDF(), "continual_crawl") { m =>
      streamed ++= rows(m)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replay = Continual.replay(svc, Seq(batch1.toDF(), batch2.toDF()))
    assert(streamed.toSet === rows(replay))
    val byId = replay.collect().map(r =>
      r.getAs[Long]("media_id") -> r).toMap
    assert(byId(10L).getAs[Boolean]("is_dup")
      && byId(10L).getAs[Long]("matched_id") === 1L)
    assert(!byId(11L).getAs[Boolean]("is_dup")
      && byId(11L).getAs[Long]("start_offset") === 0L)
    // 20 matched the batch-1 SURVIVOR, not the initial corpus
    assert(byId(20L).getAs[Boolean]("is_dup")
      && byId(20L).getAs[Long]("matched_id") === 11L)
    // 21's offset continues from survivor 11's token count
    assert(!byId(21L).getAs[Boolean]("is_dup")
      && byId(21L).getAs[Long]("start_offset") ===
        byId(11L).getAs[Long]("n_tokens"))
    assert(byId(21L).getAs[Boolean]("append_ok"))
  }

  test("continual tokenizer coverage: the stream emits exactly the " +
    "replay rows for the same batch split") {
    import graft.streaming.ContinualCoverage
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val vocab = TextAnalysis.wordpieceVocab(
      Seq("abc abc abc zz yy").toDF("text"), "text")
    // batch 1: src A segments cleanly, src B is all-OOV;
    // batch 2: mixed, with an overlong word (one [UNK])
    val batch1 = Seq(("A", "abc abc"), ("B", "qq rr"))
    val batch2 = Seq(("A", "abc " + "x" * 20))
    type Cov = (Long, String, Long, Long, Double, Double)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Cov] =
      df.collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("group_key"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_unk"), r.getAs[Double]("oov_rate"),
        r.getAs[Double]("mean_pieces"))).toSet

    val streamed = scala.collection.mutable.ArrayBuffer.empty[Cov]
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("source", "text")
    val svc = ContinualCoverage.service(vocab, "text", "source")
    val q = Continual.start(svc, stream, "continual_tokenizer_coverage") {
      cov => streamed ++= rows(cov)
    }
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val replayed = rows(Continual.replay(svc,
      Seq(batch1.toDF("source", "text"), batch2.toDF("source", "text"))))
    assert(streamed.toSet === replayed)
    val byKey = replayed.map(c => (c._1, c._2) -> ((c._3, c._4, c._6)))
      .toMap
    assert(byKey((0L, "A")) === ((2L, 0L, 1.0))) // abc is a whole piece
    assert(byKey((0L, "B")) === ((2L, 2L, 1.0))) // all OOV
    assert(byKey((1L, "A")) === ((2L, 1L, 1.0))) // overlong -> one [UNK]
  }

  // ---- the shared continual fold, one row per service ----
  //
  // Applying b0 twice would show: a dedup index self-matches b0's
  // re-emitted rows, and a sketch, pair table, offset or rank
  // double-counts into b1's rows. `batch1` is the service's own
  // expectation on the b1 rows the sink receives. Every row checks the
  // fold's contract against Continual.replay over (b0, b1):
  //   1. re-delivery after a successful sink emits nothing and does not
  //      double-apply: b1's rows still equal the replay's;
  //   2. a sink that throws on batch 0 loses nothing: the re-delivered
  //      batch 0 reaches the sink exactly once with the replay's batch-0
  //      rows, and batch 1 then matches the replay;
  //   3. every frame handed to the sink has the replay's columns, in
  //      order.
  import StreamingSpec.FoldCase

  private def checkFold[S](c: FoldCase[S]): Unit = {
    val svc = c.svc()
    val (b0, b1) = (c.b0(), c.b1())
    val replay = Continual.replay(svc, Seq(b0, b1))
    def ofBatch(rows: Seq[Row], id: Long): Seq[Row] =
      rows.filter(_.getAs[Long]("batch_id") == id)
    def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
    val want = replay.collect().toSeq
    assert(ofBatch(want, 0L).nonEmpty && ofBatch(want, 1L).nonEmpty)
    def run(failFirst: Boolean): Seq[Row] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Row]
      var failNext = failFirst
      val step = Continual.batchStep(svc) { out =>
        assert(out.columns.toSeq === replay.columns.toSeq)
        if (failNext) {
          failNext = false
          throw new IllegalStateException("sink down")
        }
        got ++= out.collect()
      }
      if (failFirst) intercept[IllegalStateException](step(b0, 0L))
      else step(b0, 0L)
      step(b0, 0L) // re-delivery, after a failed or a successful sink
      step(b1, 1L)
      got.toSeq
    }
    Seq(false, true).foreach { failFirst =>
      val got = run(failFirst)
      Seq(0L, 1L).foreach { id =>
        assert(canon(ofBatch(got, id)) === canon(ofBatch(want, id)),
          s"batch $id, sink failed first: $failFirst")
      }
      c.batch1(ofBatch(got, 1L))
    }
  }

  private val minhashText = (1 to 40).map(i => s"w$i").mkString(" ")
  private val otherText = (100 to 140).map(i => s"v$i").mkString(" ")
  private val enNew = "a fresh page of perfectly ordinary words for the corpus"
  private val enMore = "the corpus keeps growing with more of the simplest words"
  private def centroids2 = Seq((0, Seq(1.0, 0.0, 0.0, 0.0)),
    (1, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cell", "cvec")
  private def idText(id: Long, t: String) = Seq((id, t)).toDF("id", "text")
  private def verdict(flag: String)(rows: Seq[Row]): Seq[(Long, Boolean, Any)] =
    rows.map(r => (r.getAs[Long]("id"), r.getAs[Boolean](flag),
      r.getAs[Any]("matched_id")))

  private val foldCases: Seq[FoldCase[_]] = Seq(
    FoldCase("continual counts: a re-delivered batch id is skipped, not " +
      "merged twice (at-least-once foreachBatch)",
      () => graft.streaming.ContinualCounts.service(
        "item", Seq("a").toDF("item"), 4, 16),
      () => Seq("a", "a").toDF("item"), () => Seq("a").toDF("item"),
      // the post-batch-1 estimate is 3 (2 + 1), not 5
      rows => assert(rows.map(_.getAs[Long]("cms_est")) === Seq(3L))),
    FoldCase("continual minhash dedup: a re-delivered batch id does not " +
      "re-emit or re-append its survivors",
      () => graft.streaming.ContinualMinhash.service(
        idText(100L, minhashText), "text", "id"),
      () => idText(2L, otherText),
      () => idText(3L, (100 to 140)
        .map(i => if (i == 120) "ALTERED" else s"v$i").mkString(" ")),
      rows => assert(verdict("is_dup")(rows) === Seq((3L, true, 2L)))),
    FoldCase("continual dedup: a re-delivered batch id does not re-emit or " +
      "re-append its survivors",
      () => graft.streaming.ContinualDedup.service(
        Seq((100L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("id", "vec"), "id", "vec",
        centroids2, threshold = 0.8, dim = 4),
      () => Seq((2L, Seq(0.0, 0.0, 1.0, 0.2))).toDF("id", "vec"),
      // id 3 duplicates survivor 2 — matched against the single copy
      () => Seq((3L, Seq(0.01, 0.0, 1.0, 0.2))).toDF("id", "vec"),
      rows => assert(verdict("is_dup")(rows) === Seq((3L, true, 2L)))),
    FoldCase("continual packing: a re-delivered batch id does not advance offsets",
      () => graft.streaming.ContinualPacking.service("doc_id", "n_tok", 128),
      () => Seq((1L, 100L)).toDF("doc_id", "n_tok"),
      () => Seq((2L, 50L)).toDF("doc_id", "n_tok"),
      // doc 2 starts at 100, not 200
      rows => assert(rows.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_offset"))) === Seq((2L, 100L)))),
    FoldCase("continual ANN: a re-delivered batch id is skipped, not folded " +
      "twice (at-least-once foreachBatch)",
      () => {
        val corpus = Seq((101L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("id", "vec")
        graft.streaming.ContinualAnn.service(corpus,
          graft.operators.Similarity.ivfAssign(corpus, "id", "vec", centroids2),
          centroids2, "id", "vec", threshold = 0.5)
      },
      () => Seq((1L, Seq(0.6, 0.8, 0.0, 0.0))).toDF("id", "vec"),
      () => Seq((2L, Seq(0.75, 0.62, 0.0, 0.0))).toDF("id", "vec"),
      // routed by the singly-repaired centroid (0.3, 0.9, 0, 0)
      rows => assert(rows.map(r => (r.getAs[Long]("id"),
        r.getAs[Int]("cell"))) === Seq((2L, 1)))),
    FoldCase("continual frontier: a re-delivered batch id is skipped — no " +
      "double verdicts, no rank advance",
      () => graft.streaming.ContinualFrontier.service("id", "url",
        Seq(("zz.zz", "/no/", false)).toDF("host", "prefix", "allow"), 100L),
      () => Seq((1L, "https://h.com/a")).toDF("id", "url"),
      () => Seq((2L, "https://h.com/b")).toDF("id", "url"),
      // id 2 ranks 2 (after the SINGLE fold of batch 0), not 3
      rows => assert(rows.map(r => (r.getAs[Long]("id"),
        r.getAs[Any]("host_rank"))) === Seq((2L, 2L)))),
    FoldCase("continual preference: a re-delivered batch id does not " +
      "double-count duels",
      () => graft.streaming.ContinualPreference.service("w", "l", 5),
      () => Seq(("A", "B"), ("A", "B")).toDF("w", "l"),
      () => Seq(("B", "A")).toDF("w", "l"),
      // post-batch-1 wins: A has 2 (not 4), B has 1
      rows => assert(rows.map(r => (r.getAs[String]("item"),
        r.getAs[Long]("wins"))).toSet === Set(("A", 2L), ("B", 1L)))),
    FoldCase("continual winnow overlap: a re-delivered batch id does not " +
      "re-emit or re-append its survivors",
      () => graft.streaming.ContinualWinnow.service(
        idText(100L, minhashText), "text", "id",
        k = 3, w = 4, minShared = 3, maxDf = 50),
      () => idText(2L, otherText), () => idText(3L, otherText),
      rows => assert(verdict("is_overlap")(rows) === Seq((3L, true, 2L)))),
    FoldCase("continual simhash dedup: a re-delivered batch id does not " +
      "re-emit or re-append its survivors",
      () => graft.streaming.ContinualSimhash.service(
        idText(100L, minhashText), "text", "id", maxHamming = 8,
        hashFn = graft.functions.TextFunctions.md5Hash60, bits = 60),
      () => idText(2L, otherText), () => idText(3L, otherText),
      rows => assert(verdict("is_dup")(rows) === Seq((3L, true, 2L)))),
    FoldCase("continual crawl service: a re-delivered batch id neither " +
      "re-emits nor advances the index or offsets",
      () => graft.streaming.ContinualCrawl.service(
        graft.operators.TextDedup.buildMinhashIndex(
          Seq((1L, "the quick brown fox jumps over the lazy dog today"))
            .toDF("doc_id", "text"), "text", "doc_id",
          hashFn = graft.functions.TextFunctions.fastHash),
        graft.operators.TextAnalysis.wordpieceVocab(
          Seq(enNew, enMore).toDF("text"), "text")),
      () => Seq(crawlMediaRow(11L, enNew)).toDF(),
      () => Seq(crawlMediaRow(20L, enNew), crawlMediaRow(21L, enMore)).toDF(),
      // 20 is a dup of survivor 11 (not re-counted), 21 is new
      rows => assert(rows.map(r => (r.getAs[Long]("media_id"),
        r.getAs[Boolean]("is_dup"))).toSet === Set((20L, true), (21L, false)))),
    FoldCase("continual tokenizer coverage: a re-delivered batch id does " +
      "not re-emit its rows",
      () => graft.streaming.ContinualCoverage.service(
        graft.operators.TextAnalysis.wordpieceVocab(
          Seq("abc abc").toDF("text"), "text"), "text", "source"),
      () => Seq(("A", "abc")).toDF("source", "text"),
      () => Seq(("A", "abc abc")).toDF("source", "text"),
      rows => assert(rows.map(_.getAs[String]("group_key")) === Seq("A"))))

  foldCases.foreach(c => test(c.name)(checkFold(c)))
}

object StreamingSpec {
  final case class FoldCase[S](
      name: String,
      svc: () => ContinualService[S],
      b0: () => DataFrame,
      b1: () => DataFrame,
      batch1: Seq[Row] => Unit)
}
