package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, raise_error, size, when}

import graft.pipeline.Processor
import graft.sources.{CsvSource, PipelineConfig}

/** EP1 end-to-end over miniature domain fixtures (FIXTURES.md §A):
  * covers null-ip drop, both IP parse paths, duplicate rows, the 24 h
  * window boundary, an unparseable timestamp, and class rebalancing.
  */
class ProcessorSpec extends SparkSpec {

  private def writeTmp(name: String, content: String): String = {
    val dir: Path = Files.createTempDirectory("graft_e2e")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private lazy val fraudCsv = writeTmp("Fraud_Data.csv",
    """user_id,signup_time,purchase_time,purchase_value,device_id,source,browser,sex,age,ip_address,class
      |1,2024-01-01 00:00:00,2024-01-02 10:00:00,34.5,D1,SEO,Chrome,M,30,1.2.3.4,0
      |2,2024-01-01 01:00:00,2024-01-02 11:00:00,22.0,D2,Ads,Firefox,F,25,16909061,0
      |3,2024-01-01 02:00:00,2024-01-02 12:00:00,15.0,D1,SEO,Safari,M,41,700000000,0
      |4,2024-01-01 03:00:00,2024-01-03 12:00:00,99.0,D3,Direct,Chrome,F,35,700000100,1
      |4,2024-01-01 03:00:00,2024-01-03 12:00:00,99.0,D3,Direct,Chrome,F,35,700000100,1
      |5,2024-01-01 04:00:00,not-a-date,10.0,D4,SEO,Chrome,M,28,3000000000,0
      |6,2024-01-01 05:00:00,2024-01-04 12:00:00,45.0,D5,Ads,Chrome,F,52,,0
      |7,2024-01-01 06:00:00,2024-01-02 12:30:00,60.0,D1,SEO,Edge,M,33,garbage-ip,1
      |8,2024-01-01 07:00:00,2024-01-03 12:00:00,28.0,D6,Ads,Firefox,F,44,1.2.3.5,0
      |9,2024-01-01 08:00:00,2024-01-04 12:00:00,33.0,D7,SEO,Chrome,M,29,1.2.3.6,1
      |10,2024-01-01 09:00:00,2024-01-05 12:00:00,21.0,D8,Direct,Safari,F,38,1.2.3.7,0
      |11,2024-01-01 10:00:00,2024-01-06 12:00:00,55.0,D9,Ads,Chrome,M,47,1.2.3.8,0
      |""".stripMargin)

  private lazy val ipCsv = writeTmp("IpAddress_to_Country.csv",
    """lower_bound_ip_address,upper_bound_ip_address,country
      |16909056,16909311,Wonderland
      |699999999,700000050,Oz
      |2999999999,3000000001,Narnia
      |""".stripMargin)

  private lazy val creditCsv = {
    val header = "Time," + (1 to 28).map(i => s"V$i").mkString(",") + ",Amount,Class"
    val rnd = new scala.util.Random(7)
    val rows = (1 to 40).map { i =>
      val vs = (1 to 28).map(_ => f"${rnd.nextGaussian()}%.4f").mkString(",")
      val cls = if (i <= 32) 0 else 1
      s"$i.0,$vs,${10 + i}.5,$cls"
    }
    writeTmp("creditcard.csv", (header +: rows).mkString("\n") + "\n")
  }

  private lazy val cfg = PipelineConfig.Default.copy(
    dataPaths = Map(
      "fraud_data" -> fraudCsv,
      "ip_to_country" -> ipCsv,
      "creditcard_data" -> creditCsv),
    imbalanceStrategy = "undersample")

  test("cleanFraud: drops null ip, coerces times, dedups, derives uint32") {
    val fraud = CsvSource.read(spark, fraudCsv, CsvSource.fraudData)
    val clean = Processor.cleanFraud(fraud)
    assert(clean.count() === 10) // 12 raw - 1 null ip - 1 dup
    val byUser = clean.collect().map(r =>
      r.getLong(r.fieldIndex("user_id")) -> r).toMap
    assert(byUser(1L).getLong(byUser(1L).fieldIndex("ip_address_int")) === 16909060L)
    assert(byUser(2L).getLong(byUser(2L).fieldIndex("ip_address_int")) === 16909061L)
    assert(byUser(7L).isNullAt(byUser(7L).fieldIndex("ip_address_int")))
    assert(byUser(5L).isNullAt(byUser(5L).fieldIndex("purchase_time")))
  }

  test("transformFraud: geolocation with Unknown sentinel + velocity features") {
    val fraud = Processor.cleanFraud(
      CsvSource.read(spark, fraudCsv, CsvSource.fraudData))
    val ipMap = Processor.cleanIpMap(
      CsvSource.read(spark, ipCsv, CsvSource.ipToCountry))
    val t = Processor.transformFraud(fraud, ipMap)
    val rows = t.collect().map(r => r.getLong(r.fieldIndex("user_id")) -> r).toMap
    def str(u: Long, c: String) = rows(u).getString(rows(u).fieldIndex(c))
    assert(str(1L, "country") === "Wonderland")
    assert(str(3L, "country") === "Oz")
    assert(str(4L, "country") === "Unknown") // 700000100 > upper bound 700000050
    assert(str(7L, "country") === "Unknown") // unparseable ip
    // D1 device: purchases at 01-02 10:00, 12:00(u3), 12:30(u7)
    def vel(u: Long) = rows(u).getLong(rows(u).fieldIndex("device_transactions_24h"))
    assert(vel(1L) === 0L && vel(3L) === 1L && vel(7L) === 2L)
    assert(!t.columns.contains("device_id") && !t.columns.contains("ip_address"))
  }

  test("runPipeline end-to-end: balanced train, untouched test, feature names") {
    val out = Processor.runPipeline(spark, cfg)
    val fraudCounts = out.fraud.train.groupBy("label").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fraudCounts.size === 2 && fraudCounts.values.toSet.size === 1)
    assert(out.fraud.featureNames.exists(_.startsWith("num__purchase_value")))
    assert(out.fraud.featureNames.exists(_.startsWith("cat__country_")))
    val creditCounts = out.creditcard.train.groupBy("label").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(creditCounts.size === 2 && creditCounts.values.toSet.size === 1)
    assert(out.creditcard.test.count() > 0)
    // credit feature width: Time + V1..V28 + Amount = 30 numerics
    assert(out.creditcard.featureNames.size === 30)
  }

  test("runPipeline with SMOTE strategy balances via synthesis") {
    val out = Processor.runPipeline(spark, cfg.copy(imbalanceStrategy = "smote"))
    val counts = out.creditcard.train.groupBy("label").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.size === 2 && counts.values.toSet.size === 1)
    // SMOTE grows the train set (no rows discarded), unlike undersampling
    val under = Processor.runPipeline(spark, cfg).creditcard.train.count()
    assert(out.creditcard.train.count() > under)
  }

  test("impute strategy retains rows that drop would discard") {
    // user 5's unparseable purchase_time nulls the engineered time
    // features; 'drop' removes the row, 'impute' mean-fills and keeps
    // it. SMOTE lifts every class to the (now larger) majority size, so
    // the retained majority row must strictly grow the output — an
    // undersampled train would mask it behind the minority size.
    val smoteCfg = cfg.copy(imbalanceStrategy = "smote")
    val dropped = Processor.runPipeline(spark, smoteCfg)
    val imputed = Processor.runPipeline(
      spark, smoteCfg.copy(missingValueStrategy = "impute"))
    def fraudRows(o: Processor.PipelineOutputs) =
      o.fraud.train.count() + o.fraud.test.count()
    assert(fraudRows(imputed) > fraudRows(dropped))
  }

  /** Jobs started while a [[withJobLog]] block ran: each one's job
    * group ("" when none), and the ids of those not yet ended.
    */
  private class JobLog extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]
    val started = ConcurrentHashMap.newKeySet[Int]()
    val running = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      groups.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
      started.add(e.jobId)
      running.add(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
  }

  /** Runs `body` with a [[JobLog]] attached; every event posted before
    * `body` returned or threw has been delivered when this returns.
    */
  private def withJobLog[A](body: => A): (Try[A], JobLog) = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val result = Try(body)
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(log)
    (result, log)
  }

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("runPipeline returns materialized outputs holding the only new blocks") {
    val before = persistedRdds
    val out = Processor.runPipeline(spark, cfg.copy(imbalanceStrategy = "smote"))
    val outputRdds = Seq(out.fraud.train, out.fraud.test,
      out.creditcard.train, out.creditcard.test).map(_.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.id
        case other => fail(s"output is not materialized: ${other.nodeName}")
      })
    // no intermediate cut (split input, train side, SMOTE input) outlives the call
    assert(persistedRdds -- before === outputRdds.toSet)
    SessionHygiene.reset(spark)
    assert((persistedRdds -- before).isEmpty)
  }

  test("runPipeline runs every job, both branches', in the caller's job group") {
    // two calls under two groups: a branch thread kept from the first
    // call (a pooled one) would carry the first group into the second
    val sc = spark.sparkContext
    Seq("ep1-first", "ep1-second").foreach { group =>
      sc.setJobGroup(group, s"EP1 in job group $group")
      val (out, log) = try withJobLog(Processor.runPipeline(spark, cfg))
        finally sc.clearJobGroup()
      assert(out.isSuccess, out)
      val groups = log.groups.asScala.toSeq
      assert(groups.nonEmpty && groups.forall(_ == group), groups.distinct)
    }
  }

  test("runPipeline failure: IllegalArgumentException, no job left running, no blocks") {
    // a bogus strategy fails both branches before their first job; a
    // string numeric column fails only the fraud branch, at the feature
    // fit after its first cuts, while the creditcard branch is running
    val bad = Seq(
      cfg.copy(imbalanceStrategy = "bogus"),
      cfg.copy(imbalanceStrategy = "smote",
        numericalFeatures = cfg.numericalFeatures :+ "source"))
    bad.foreach { c =>
      val before = persistedRdds
      val (out, log) = withJobLog(Processor.runPipeline(spark, c))
      assert(out.failed.get.isInstanceOf[IllegalArgumentException], out)
      assert(log.running.isEmpty, s"jobs still running: ${log.running}")
      assert(spark.sparkContext.statusTracker.getActiveJobIds
        .filter(log.started.contains).isEmpty)
      assert((persistedRdds -- before).isEmpty,
        s"a failed runPipeline left blocks: ${persistedRdds -- before}")
    }
  }

  private def releaseAll(o: Processor.PipelineOutputs): Unit =
    Seq(o.fraud.train, o.fraud.test, o.creditcard.train, o.creditcard.test)
      .foreach(Materialize.release)

  private val sinkNames = Seq("fraud_train", "fraud_test", "credit_train",
    "credit_test", "fraud_feature_names", "credit_feature_names")

  test("writeOutputs writes every sink, each write job in the caller's job group") {
    val out = Processor.runPipeline(spark, cfg)
    val dir = Files.createTempDirectory("graft_sinks")
    val sc = spark.sparkContext
    sc.setJobGroup("ep1-sinks", "EP1 sinks")
    val (written, log) =
      try withJobLog(Processor.writeOutputs(out, dir.toString))
      finally { sc.clearJobGroup(); releaseAll(out) }
    assert(written.isSuccess, written)
    val groups = log.groups.asScala.toSeq
    assert(groups.nonEmpty && groups.forall(_ == "ep1-sinks"), groups.distinct)
    sinkNames.foreach(n => assert(Files.exists(dir.resolve(n).resolve("_SUCCESS")), n))
  }

  test("writeOutputs: a failing sink throws only after no write job is still running") {
    val out = Processor.runPipeline(spark, cfg)
    // two sinks fail when their job runs: the earlier one's failure is
    // thrown, the later one's suppressed into it
    val failing = (d: DataFrame, msg: String) => d.withColumn("label",
      when(col("label") >= 0, raise_error(lit(msg))).otherwise(col("label")))
    val bad = out.copy(
      fraud = out.fraud.copy(test = failing(out.fraud.test, "fraud test sink failed")),
      creditcard = out.creditcard.copy(
        test = failing(out.creditcard.test, "credit test sink failed")))
    val dir = Files.createTempDirectory("graft_sinks")
    val (written, log) =
      try withJobLog(Processor.writeOutputs(bad, dir.toString))
      finally releaseAll(out)
    val messages = (t: Throwable) =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e = written.failed.get
    assert(messages(e).contains("fraud test sink failed"), messages(e))
    assert(!messages(e).contains("credit test sink failed"), messages(e))
    assert(e.getSuppressed.exists(messages(_).contains("credit test sink failed")),
      e.getSuppressed.map(messages).toSeq)
    assert(log.running.isEmpty, s"jobs still running: ${log.running}")
    assert(spark.sparkContext.statusTracker.getActiveJobIds
      .filter(log.started.contains).isEmpty)
    // the sinks that did not fail were all written
    sinkNames.filterNot(_.endsWith("_test"))
      .foreach(n => assert(Files.exists(dir.resolve(n).resolve("_SUCCESS")), n))
  }

  test("runPipeline in reliable checkpoint mode matches local mode") {
    val smoteCfg = cfg.copy(imbalanceStrategy = "smote")
    def shape(o: Processor.PipelineOutputs) = Seq(o.fraud, o.creditcard).map { p =>
      def byClass(d: DataFrame) = d.groupBy("label").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val widths = p.train.select(size(col("features"))).distinct().collect()
        .map(_.getInt(0)).toSet
      (byClass(p.train), byClass(p.test), widths, p.featureNames)
    }
    val local = shape(Processor.runPipeline(spark, smoteCfg))
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_ckpt")
    val prior = sc.getCheckpointDir
    // the context's checkpoint dir outlives this suite: restore it
    if (prior.isEmpty) sc.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.ReliableKey, "true")
    val reliable =
      try shape(Processor.runPipeline(spark, smoteCfg))
      finally {
        spark.conf.unset(Materialize.ReliableKey)
        if (prior.isEmpty) sc.setCheckpointDir(null)
      }
    assert(reliable === local)
    if (prior.isEmpty)
      assert(Files.walk(dir).filter(Files.isRegularFile(_)).count() > 0,
        "reliable mode wrote no checkpoint files")
  }

  test("yaml config round-trip") {
    val y = writeTmp("pipeline_config.yaml",
      s"""data_paths:
         |  fraud_data: "$fraudCsv"
         |  ip_to_country: "$ipCsv"
         |  creditcard_data: "$creditCsv"
         |test_size: 0.25
         |random_state: 7
         |missing_value_strategy: "drop"
         |imbalance_strategy: "undersample"
         |""".stripMargin)
    val c = PipelineConfig.fromYaml(y)
    assert(c.testSize === 0.25 && c.randomState === 7L &&
      c.imbalanceStrategy === "undersample" &&
      c.dataPaths("fraud_data") === fraudCsv &&
      c.numericalFeatures.contains("purchase_value"))
  }

  test("yaml config follows the reference two-file layout with numerical/categorical keys") {
    val feat = writeTmp("fraud_feature_config.yaml",
      """numerical:
        |  - purchase_value
        |  - user_transactions_24h
        |categorical:
        |  - source
        |  - country
        |""".stripMargin)
    val y = writeTmp("pipeline_config.yaml",
      s"""data_paths:
         |  fraud_data: "$fraudCsv"
         |feature_config_path: "$feat"
         |imbalance_strategy: "smote"
         |""".stripMargin)
    val c = PipelineConfig.fromYaml(y)
    assert(c.numericalFeatures === Seq("purchase_value", "user_transactions_24h"))
    assert(c.categoricalFeatures === Seq("source", "country"))
    assert(c.testSize === 0.2) // defaults preserved
  }

  test("yaml config: missing feature file fails fast; empty yaml gives defaults") {
    val y = writeTmp("broken.yaml",
      """feature_config_path: "does/not/exist.yaml"
        |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      PipelineConfig.fromYaml(y)
    }
    assert(e.getMessage.contains("does/not/exist.yaml"))
    // empty / comments-only config is a valid all-defaults config
    val empty = writeTmp("empty.yaml", "# nothing here\n")
    val c = PipelineConfig.fromYaml(empty)
    assert(c.testSize === 0.2 && c.imbalanceStrategy === "smote")
  }
}
