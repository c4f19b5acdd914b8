package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CsvSource

class GenSpec extends AnyFunSuite {

  private val Fraction = 0.01

  // scratch space under the build's target directory (tests fork there)
  private val scratch = Files.createDirectories(Path.of("target", "test-tmp"))
  private def tmp(): Path = Files.createTempDirectory(scratch, "gen")

  private def bytes(f: Gen.Files): Seq[Seq[Byte]] =
    Seq(f.fraud, f.ipToCountry, f.creditcard)
      .map(p => Files.readAllBytes(Path.of(p)).toSeq)

  test("the same seed writes the same bytes; another seed does not") {
    val a = Gen.write(tmp().toFile, 7L, Fraction)
    val b = Gen.write(tmp().toFile, 7L, Fraction)
    val c = Gen.write(tmp().toFile, 8L, Fraction)
    assert(bytes(a) == bytes(b))
    assert(bytes(a).zip(bytes(c)).forall { case (x, y) => x != y })
  }

  test("the CSVs load in the CsvSource schemas with only the injected dirt") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.toAbsolutePath.toString)
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val f = Gen.write(tmp().toFile, 3L, Fraction)
      val sizes = Gen.sizes(Fraction)
      val nDup = math.round(sizes.fraud * Gen.DuplicateShare).toInt
      val base = sizes.fraud - nDup
      def nulls(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
        val r = df.select(df.columns.map(c => sum(col(c).isNull.cast("long")).as(c)): _*).head()
        df.columns.map(c => c -> r.getAs[Long](c)).toMap
      }

      val fraud = CsvSource.read(spark, f.fraud, CsvSource.fraudData).cache()
      assert(fraud.count() == sizes.fraud)
      val fraudNulls = nulls(fraud)
      // null IPs are the only nulls; a duplicated null-IP row adds one
      val nullIps = math.round(base * Gen.NullIpShare)
      assert(fraudNulls("ip_address") >= nullIps)
      assert(fraudNulls("ip_address") <= nullIps + nDup)
      assert((fraudNulls - "ip_address").values.forall(_ == 0L), fraudNulls)
      val bad = fraud.filter(col("signup_time") === Gen.BadTimestamp ||
        col("purchase_time") === Gen.BadTimestamp).count()
      val nBad = math.round(base * Gen.BadTimestampShare)
      assert(bad >= nBad && bad <= nBad + nDup)
      assert(fraud.count() - fraud.dropDuplicates().count() == nDup)
      val frauds = fraud.dropDuplicates().filter(col("class") === 1).count()
      assert(frauds == math.round(base * Gen.FraudShare))

      val ips = CsvSource.read(spark, f.ipToCountry, CsvSource.ipToCountry)
      assert(ips.count() == sizes.ipRanges)
      assert(nulls(ips).values.forall(_ == 0L))

      val credit = CsvSource.read(spark, f.creditcard, CsvSource.creditcard)
      assert(credit.count() == sizes.creditcard)
      assert(nulls(credit).values.forall(_ == 0L))
      assert(credit.dropDuplicates().filter(col("Class") === 1).count() > 0)
    } finally spark.stop()
  }
}
