package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.pipeline.Processor
import graft.sources.CsvSource
import graft.streaming.StreamingScoring

/** End-to-end streaming scoring: batch-fitted MLlib model applied to a
  * MemoryStream of transactions through the stream-static geolocation
  * join and temporal feature maps.
  */
class StreamingScoringSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static geolocate + features + model.transform per micro-batch") {
    val ranges = Seq((0L, 99L, "Wonderland"), (100L, 199L, "Oz"))
      .toDF("lower_bound_ip_address_int", "upper_bound_ip_address_int", "country")

    // fit on a small batch training frame
    val train = Seq(
      (10.0, "Wonderland", 0), (20.0, "Oz", 1),
      (15.0, "Wonderland", 0), (25.0, "Unknown", 1)
    ).toDF("purchase_value", "country", "label")
    val cfg = FeatureConfig(Seq("purchase_value"), Seq("country"))
    val model = FeaturePipeline.build(cfg).fit(train)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, Timestamp, Double)]
    val tx = mem.toDF().toDF(
      "user_id", "ip_address_int", "signup_time", "purchase_time", "purchase_value")

    val scored = StreamingScoring.score(
      StreamingScoring.enrich(tx, ranges), model)
    assert(scored.isStreaming)

    val q = scored
      .select($"user_id", $"country", $"hour_of_day",
        $"time_since_signup_hours", $"features")
      .writeStream.outputMode("append")
      .format("memory").queryName("scored_out").start()
    mem.addData(
      (1L, 50L, Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-01-01 13:00:00"), 12.5),
      (2L, 150L, Timestamp.valueOf("2024-01-01 01:00:00"),
        Timestamp.valueOf("2024-01-02 01:00:00"), 99.0),
      (3L, 500L, Timestamp.valueOf("2024-01-01 02:00:00"),
        Timestamp.valueOf("2024-01-01 03:30:00"), 5.0))
    q.processAllAvailable()
    val rows = spark.table("scored_out").collect()
      .map(r => r.getLong(0) -> r).toMap
    q.stop()

    assert(rows(1L).getString(1) === "Wonderland")
    assert(rows(2L).getString(1) === "Oz")
    assert(rows(3L).getString(1) === "Unknown") // out-of-range ip
    assert(rows(1L).getLong(2) === 13L)
    assert(rows(1L).getDouble(3) === 13.0)
    // feature vector: 1 scaled numeric + 3 seen categories
    val v = rows(1L).getAs[Vector](4)
    assert(v.size === 4)
    // Wonderland slot is one-hot; Unknown (row 3) was seen in training
    val v3 = rows(3L).getAs[Vector](4)
    assert(v3.size === 4)
  }

  /** The IP dimension as the pipeline builds it: a CSV under `dir`
    * (one duplicated row for the dedup) through `CsvSource` and
    * `Processor.cleanIpMap`. Returns the CSV's path and the lazy frame.
    */
  private def ipMapCsv(dir: Path): (Path, DataFrame) = {
    val csv = dir.resolve("ip_to_country.csv")
    Files.writeString(csv, Seq(
      "lower_bound_ip_address,upper_bound_ip_address,country",
      "0.0,99.0,Wonderland", "100.0,199.0,Oz", "100.0,199.0,Oz").mkString("\n"))
    (csv, Processor.cleanIpMap(
      CsvSource.read(spark, csv.toString, CsvSource.ipToCountry)))
  }

  private def fileScans(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries { case f: FileSourceScanExec => f }

  private val at = Timestamp.valueOf("2024-01-01 12:00:00")

  test("a streaming query joins a snapshot of the IP dimension, not a per-trigger re-scan") {
    val (csv, ranges) = ipMapCsv(Files.createTempDirectory("ipmap"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, Timestamp)]
    val tx = mem.toDF().toDF("user_id", "ip_address_int", "signup_time", "purchase_time")
    val q = StreamingScoring.enrich(tx, ranges)
      .select($"user_id", $"country")
      .writeStream.outputMode("append")
      .format("memory").queryName("snapshot_out").start()
    try {
      mem.addData((1L, 50L, at, at), (2L, 150L, at, at))
      q.processAllAvailable()
      // the source is gone: a trigger that re-reads it fails
      Files.delete(csv)
      mem.addData((3L, 120L, at, at), (4L, 500L, at, at))
      q.processAllAvailable()
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(fileScans(last.executedPlan).isEmpty, last.executedPlan.treeString)
    } finally q.stop()
    val rows = spark.table("snapshot_out").as[(Long, String)].collect().toMap
    assert(rows === Map(1L -> "Wonderland", 2L -> "Oz", 3L -> "Oz", 4L -> "Unknown"))
  }

  test("a static tx is enriched lazily: no job, and the plan still scans the IP source") {
    val (_, ranges) = ipMapCsv(Files.createTempDirectory("ipmap"))
    val tx = Seq((1L, 50L, at, at), (2L, 500L, at, at))
      .toDF("user_id", "ip_address_int", "signup_time", "purchase_time")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val enriched = try StreamingScoring.enrich(tx, ranges) finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get === 0)
    assert(fileScans(enriched.queryExecution.sparkPlan).nonEmpty)
    assert(enriched.select($"user_id", $"country").as[(Long, String)].collect().toMap ===
      Map(1L -> "Wonderland", 2L -> "Unknown"))
  }
}
