package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.sources.Tables
import graft.streaming.StreamingOps

/** §2.10 streaming surface under the correctness harness, via
  * batch/stream equivalence: every operator here runs the SAME plan on
  * a batch frame and a `readStream` source (Spark's unified engine),
  * so oracling the batch execution pins the streaming semantics — the
  * StreamingSpec suites separately prove the stream side produces the
  * same rows through MemoryStream micro-batches. This is the q23
  * (session window) trick extended to the rest of the surface.
  */
object StreamingQueries {

  /** Sliding-window velocity ([[StreamingOps.slidingVelocity]]): 24 h
    * windows sliding hourly; every event lands in 24 windows. The
    * oracle enumerates window starts per event (floor-to-hour minus
    * 0..23 h) — exactly Spark's epoch-aligned window() assignment.
    * Input restricted to one event type to keep the dumped result
    * bounded (the operator is unchanged by the pre-filter).
    */
  val q77StreamWindow = HarnessQuery(
    "q77_stream_window",
    (spark, dir) =>
      StreamingOps.slidingVelocity(
        Tables.events(spark, dir).filter(col("event_type") === "purchase"),
        "ts", "user_id", "24 hours", "1 hour", "1 hour")
        .select(col("user_id"),
          unix_micros(col("window.start")).as("window_start_us"),
          unix_micros(col("window.end")).as("window_end_us"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("window_start_us")),
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events WHERE event_type = 'purchase'),
      w AS (
        SELECT user_id, value,
               (us // 3600000000 - g.i) * 3600000000 AS ws
        FROM e, generate_series(0, 23) g(i))
      SELECT user_id, ws AS window_start_us,
             ws + 86400000000 AS window_end_us,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      FROM w GROUP BY 1, 2, 3
      ORDER BY user_id, window_start_us
    """.trim))

  /** Streaming dedup semantics ([[StreamingOps.streamingDedup]] /
    * [[StreamingOps.dedupFirstByTime]]): first event per
    * (user, event_type) fingerprint in event time wins.
    */
  val q78StreamDedup = HarnessQuery(
    "q78_stream_dedup",
    (spark, dir) =>
      StreamingOps.dedupFirstByTime(
        Tables.events(spark, dir), "ts",
        Seq("user_id", "event_type"), Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("user_id"), col("event_type")),
    Some("""
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts, event_id) AS rn
            FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type
    """.trim))

  /** Exact stateful trailing-24 h velocity
    * ([[StreamingOps.velocityWithState]], `flatMapGroupsWithState`) run
    * in batch mode — the state function sees each key's full history in
    * one call, sorted by (ts, event_id), so every event counts the
    * strictly-earlier arrivals within its window. The oracle is the
    * sequential-arrival frame: a self-join counting same-key events in
    * [ts - 24 h, ts] that precede in (ts, event_id) order.
    */
  val q79StatefulVelocity = HarnessQuery(
    "q79_stateful_velocity",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(col("user_id").cast("string").as("key"),
          unix_micros(col("ts")).as("tsMicros"),
          col("event_id").as("eventId"))
        .as[StreamingOps.VEvent]
      StreamingOps.velocityWithState(ev).toDF()
        .select(col("key").cast("long").as("user_id"),
          col("eventId").as("event_id"), col("n").as("n_24h"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT a.user_id, a.event_id, count(b.event_id) AS n_24h
      FROM events a LEFT JOIN events b
        ON b.user_id = a.user_id
       AND epoch_us(CAST(b.ts AS TIMESTAMP))
             >= epoch_us(CAST(a.ts AS TIMESTAMP)) - 86400000000
       AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
      GROUP BY 1, 2 ORDER BY a.event_id
    """.trim))

  /** The same exact velocity on the `transformWithState` runtime
    * ([[StreamingOps.velocityWithTws]]) run in batch mode — TWS and
    * `flatMapGroupsWithState` share one counting core
    * (`StreamingOps.countBatch`), and this row proves the TWS plumbing
    * (StatefulProcessor, ListState, RocksDB provider) end-to-end against
    * the same sequential-arrival oracle as q79. The provider conf is
    * required: TWS uses column-family state, which the default
    * HDFS-backed provider rejects even in batch execution.
    */
  val q84TwsVelocity = HarnessQuery(
    "q84_tws_velocity",
    (spark, dir) => {
      import spark.implicits._
      // Set/RESTORE the provider around an eager materialization, so
      // the session conf is clean no matter what runner (or runner
      // order) invokes this query — no reliance on SessionHygiene.
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        // batch execution never starts a streaming query, so the driver's
        // StateStoreCoordinator RPC endpoint (normally registered by
        // StreamingQueryManager on first stream start) does not exist and
        // RocksDB's snapshot-upload report would fail its RPC lookup —
        // register it up front; forDriver is idempotent (returns the
        // existing endpoint on re-registration)
        org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
          .forDriver(org.apache.spark.SparkEnv.get, spark.sessionState.conf)
        val ev = Tables.events(spark, dir)
          .select(col("user_id").cast("string").as("key"),
            unix_micros(col("ts")).as("tsMicros"),
            col("event_id").as("eventId"))
          .as[StreamingOps.VEvent]
        // cut = eager: the TWS plan executes HERE, while the RocksDB
        // provider conf is still in force; the returned frame reads the
        // materialized blocks and no longer needs the conf
        Materialize.cut(
          StreamingOps.velocityWithTws(ev).toDF()
            .select(col("key").cast("long").as("user_id"),
              col("eventId").as("event_id"), col("n").as("n_24h")))
          .orderBy(col("event_id"))
      } finally {
        prior match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
    },
    Some("""
      SELECT a.user_id, a.event_id, count(b.event_id) AS n_24h
      FROM events a LEFT JOIN events b
        ON b.user_id = a.user_id
       AND epoch_us(CAST(b.ts AS TIMESTAMP))
             >= epoch_us(CAST(a.ts AS TIMESTAMP)) - 86400000000
       AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
      GROUP BY 1, 2 ORDER BY a.event_id
    """.trim))

  /** The real-time scoring enrichment
    * ([[graft.streaming.StreamingScoring.enrich]]) run in batch mode:
    * stream-static broadcast geolocation + stateless temporal features
    * are the same plan on both engines (StreamingScoringSpec proves the
    * MemoryStream side produces these rows through micro-batches), so
    * this row oracles the scoring pipeline's feature semantics — the
    * last streaming surface that was spec-only. Input is the q85
    * fraud-shaped frame: ip key into derived nation ranges, signup a
    * deterministic whole-hour offset before purchase.
    */
  val q87StreamEnrich = HarnessQuery(
    "q87_stream_enrich",
    (spark, dir) => {
      val tx = Tables.events(spark, dir).select(
        col("event_id"), col("user_id"),
        col("ts").as("purchase_time"),
        timestamp_micros(unix_micros(col("ts")) -
          (pmod(col("user_id"), lit(97L)) + 1L) * 3600000000L)
          .as("signup_time"),
        pmod(col("user_id"), lit(1000L)).as("ip_address_int"))
      val ranges = Tables.nation(spark, dir).select(
        col("n_name").as("country"),
        (col("n_nationkey").cast("long") * 40L)
          .as("lower_bound_ip_address_int"),
        (col("n_nationkey").cast("long") * 40L + 29L)
          .as("upper_bound_ip_address_int"))
      graft.streaming.StreamingScoring.enrich(tx, ranges)
        .select(col("event_id"), col("country"), col("hour_of_day"),
          col("day_of_week"), col("time_since_signup_seconds"),
          col("time_since_signup_hours"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT e.event_id,
             coalesce(r.n_name, 'Unknown') AS country,
             CAST(hour(CAST(e.ts AS TIMESTAMP)) AS BIGINT) AS hour_of_day,
             CAST(isodow(CAST(e.ts AS TIMESTAMP)) - 1 AS BIGINT) AS day_of_week,
             CAST((e.user_id % 97 + 1) * 3600 AS DOUBLE)
               AS time_since_signup_seconds,
             CAST(e.user_id % 97 + 1 AS DOUBLE) AS time_since_signup_hours
      FROM events e LEFT JOIN
        (SELECT n_name, n_nationkey * 40 AS lb, n_nationkey * 40 + 29 AS ub
         FROM nation) r
        ON e.user_id % 1000 >= r.lb AND e.user_id % 1000 <= r.ub
      ORDER BY e.event_id
    """.trim))

  /** Stream-stream interval join ([[StreamingOps.intervalJoin]]) in
    * batch mode: even events pair with the same user's odd events up to
    * one hour later. StreamingSpec proves the identical row set arrives
    * through MemoryStream micro-batches; this row oracles the interval
    * semantics themselves.
    */
  val q101StreamJoin = HarnessQuery(
    "q101_stream_join",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val views = ev.filter(pmod(col("event_id"), lit(2L)) === 0)
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val actions = ev.filter(pmod(col("event_id"), lit(2L)) === 1)
        .select(col("event_id").as("action_id"), col("user_id"),
          col("ts").as("action_ts"))
      graft.streaming.StreamingOps
        .intervalJoin(views, actions, "user_id", "ts", "action_ts",
          beforeSec = 0L, afterSec = 3600L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("action_id")).as("n_actions"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT v.user_id, count(*) AS n_pairs,
             count(DISTINCT a.event_id) AS n_actions
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 0) v
      JOIN (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1) a
        ON a.user_id = v.user_id
       AND epoch_us(CAST(a.ts AS TIMESTAMP)) >= epoch_us(CAST(v.ts AS TIMESTAMP))
       AND epoch_us(CAST(a.ts AS TIMESTAMP))
             <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Streaming heavy-hitter service replay
    * ([[graft.streaming.Continual.replay]] of [[graft.streaming.ContinualCounts]]): events split
    * into 3 deterministic arrival batches (event_id mod 3), each
    * batch's Count-Min pane merged into the accumulated sketch by
    * cell-wise sum, the 5 hottest users probed after every merge. The
    * oracle rebuilds the CUMULATIVE sketch per batch directly — the
    * linear-sketch property means streamed state must equal the
    * one-shot build over everything seen so far, which is exactly what
    * the differential pins.
    */
  val q351ContinualCounts = HarnessQuery(
    "q351_continual_counts",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), pmod(col("event_id"), lit(3L)).as("__b"))
      val batches = (0L to 2L).map(b =>
        ev.filter(col("__b") === b).select(col("user_id")))
      val watch = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("user_id")).limit(5)
        .select(col("user_id"))
      graft.streaming.Continual.replay(
        graft.streaming.ContinualCounts.service("user_id", watch, d = 4, w = 64),
        batches)
        .orderBy(col("batch_id"), col("user_id"))
    },
    Some("""
      WITH ev AS (SELECT user_id, event_id % 3 AS b FROM events),
      watch AS (SELECT user_id FROM (
                  SELECT user_id, count(*) AS n FROM ev GROUP BY 1
                  ORDER BY n DESC, user_id LIMIT 5) t),
      cells AS (SELECT u.b AS upto, g.r AS row,
                       CAST(('0x' || substr(md5(concat_ws(':', g.r, CAST(ev.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 64 AS bucket,
                       count(*) AS c
                FROM ev
                CROSS JOIN generate_series(0, 3) g(r)
                CROSS JOIN generate_series(0, 2) u(b)
                WHERE ev.b <= u.b
                GROUP BY 1, 2, 3),
      pc AS (SELECT w.user_id, g.r AS row,
                    CAST(('0x' || substr(md5(concat_ws(':', g.r, CAST(w.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 64 AS bucket
             FROM watch w, generate_series(0, 3) g(r)),
      probes AS (SELECT u.b AS batch_id, pc.user_id, pc.row, pc.bucket
                 FROM pc CROSS JOIN generate_series(0, 2) u(b))
      SELECT p.batch_id, p.user_id,
             CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_est
      FROM probes p LEFT JOIN cells c
        ON c.upto = p.batch_id AND c.row = p.row AND c.bucket = p.bucket
      GROUP BY 1, 2
      ORDER BY batch_id, user_id
    """.trim))

  /** Continual preference-rating replay
    * ([[graft.streaming.Continual.replay]] of [[graft.streaming.ContinualPreference]]): the
    * q421 duel stream split into 3 arrival batches (first-event id
    * mod 3), each batch's oriented pair counts merged into the
    * accumulated table, full Bradley–Terry ratings emitted after
    * every merge — the leaderboard that updates as judge verdicts
    * stream in. Pair counts are additive, so post-batch ratings must
    * equal the one-shot computation over the prefix; the oracle
    * rebuilds each prefix's FULL 5-round MM from scratch, which is
    * exactly what the differential pins.
    */
  val q433ContinualPreference = HarnessQuery(
    "q433_continual_preference",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val duels = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type").as("t1"),
          col("value").as("v1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("value"), 1).over(w).as("v2"))
        .filter(col("t2").isNotNull && col("t1") =!= col("t2"))
        .select(pmod(col("event_id"), lit(3L)).as("__b"),
          when(col("v1") > col("v2"), col("t1"))
            .when(col("v2") > col("v1"), col("t2"))
            .otherwise(least(col("t1"), col("t2"))).as("winner"),
          when(col("v1") > col("v2"), col("t2"))
            .when(col("v2") > col("v1"), col("t1"))
            .otherwise(greatest(col("t1"), col("t2"))).as("loser"))
      // cut once (round 13): the three batch filters each re-ran the
      // whole duel window otherwise
      val duelsM = graft.Materialize.cut(duels)
      val batches = (0L to 2L).map(b =>
        duelsM.filter(col("__b") === b).select(col("winner"), col("loser")))
      graft.streaming.Continual.replay(
        graft.streaming.ContinualPreference.service("winner", "loser"),
        batches)
        .orderBy(col("batch_id"), col("item"))
    },
    Some {
      def prefix(k: Int): String = {
        val rounds = (1 to 5).map { r =>
          s"""
      d$r$k AS (SELECT s.a AS item,
               sum(CAST(floor(CAST(s.n AS DOUBLE) / (wa.w + wb.w) * 1e6)
                   / 1e6 AS DECIMAL(38,6))) AS denom
             FROM sym$k s
             JOIN w${r - 1}$k wa ON wa.item = s.a
             JOIN w${r - 1}$k wb ON wb.item = s.b
             GROUP BY 1),
      u$r$k AS (SELECT d.item,
               greatest(floor(CAST(COALESCE(wi.wins, 0) AS DOUBLE)
                 / CAST(d.denom AS DOUBLE) * 1e9) / 1e9, 1e-9) AS w
             FROM d$r$k d LEFT JOIN wins$k wi ON wi.item = d.item),
      s$r$k AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE)
                  AS s FROM u$r$k),
      w$r$k AS MATERIALIZED (SELECT item,
                greatest(floor(u.w * kk$k.k / s$r$k.s * 1e9) / 1e9,
                  1e-9) AS w
              FROM u$r$k u, s$r$k, kk$k)"""
        }.mkString(",")
        s"""
      pair$k AS MATERIALIZED (
               SELECT winner AS a, loser AS b, count(*) AS n
               FROM duelall WHERE b3 <= $k GROUP BY 1, 2),
      sym$k AS MATERIALIZED (SELECT a, b, sum(n) AS n FROM (
                SELECT a, b, n FROM pair$k
                UNION ALL SELECT b AS a, a AS b, n FROM pair$k)
              GROUP BY 1, 2),
      wins$k AS (SELECT a AS item, sum(n) AS wins FROM pair$k
                 GROUP BY 1),
      mat$k AS (SELECT a AS item, sum(n) AS matches FROM sym$k
                GROUP BY 1),
      items$k AS (SELECT DISTINCT a AS item FROM sym$k),
      kk$k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM items$k),
      w0$k AS MATERIALIZED (SELECT item, 1.0 AS w FROM items$k),$rounds,
      out$k AS (
        SELECT CAST($k AS BIGINT) AS batch_id, w5$k.item,
               CAST(COALESCE(wins$k.wins, 0) AS BIGINT) AS wins,
               CAST(mat$k.matches AS BIGINT) AS matches,
               w5$k.w AS rating,
               CAST(row_number() OVER (ORDER BY w5$k.w DESC, w5$k.item)
                 AS INT) AS rank
        FROM w5$k
        LEFT JOIN wins$k ON wins$k.item = w5$k.item
        JOIN mat$k ON mat$k.item = w5$k.item)"""
      }
      s"""
      WITH e AS (
        SELECT event_id, event_type AS t1, value AS v1,
               lead(event_type) OVER w AS t2,
               lead(value) OVER w AS v2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      duelall AS MATERIALIZED (
        SELECT event_id % 3 AS b3,
               CASE WHEN v1 > v2 THEN t1 WHEN v2 > v1 THEN t2
                    WHEN t1 < t2 THEN t1 ELSE t2 END AS winner,
               CASE WHEN v1 > v2 THEN t2 WHEN v2 > v1 THEN t1
                    WHEN t1 < t2 THEN t2 ELSE t1 END AS loser
        FROM e WHERE t2 IS NOT NULL AND t1 <> t2),${prefix(0)},${prefix(1)},${prefix(2)}
      SELECT * FROM (
        SELECT * FROM out0 UNION ALL SELECT * FROM out1
        UNION ALL SELECT * FROM out2)
      ORDER BY batch_id, item
      """.trim
    })

  def all: Seq[HarnessQuery] =
    Seq(q77StreamWindow, q78StreamDedup, q79StatefulVelocity,
      q84TwsVelocity, q87StreamEnrich, q101StreamJoin,
      q351ContinualCounts, q433ContinualPreference)
}
