package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Seeded generator for the three EP1 input CSVs, in the
  * `CsvSource.fraudData` / `ipToCountry` / `creditcard` schemas.
  *
  * Sizes are a fixed fraction of the reference datasets' row counts.
  * The fraud table carries the dirt `Processor.cleanFraud` removes
  * (null IPs, exact duplicate rows) and unparseable timestamps, each at
  * a fixed share; labels hit the reference minority shares exactly; and
  * device and IP keys are Zipf-skewed, so a few hot keys dominate the
  * velocity windows. The same seed and fraction give the same bytes.
  */
object Gen {

  final case class Sizes(fraud: Int, ipRanges: Int, creditcard: Int)

  /** Row counts of Fraud_Data / IpAddress_to_Country / creditcard. */
  val Reference: Sizes = Sizes(151112, 138846, 284807)

  val NullIpShare = 0.01
  val BadTimestampShare = 0.01
  val DuplicateShare = 0.01
  val FraudShare = 0.094
  val CreditFraudShare = 0.00172
  val CreditDuplicateShare = 0.0038
  val BadTimestamp = "not-a-timestamp"

  final case class Files(fraud: String, ipToCountry: String, creditcard: String) {
    def dataPaths: Map[String, String] = Map(
      "fraud_data" -> fraud,
      "ip_to_country" -> ipToCountry,
      "creditcard_data" -> creditcard)
  }

  def sizes(fraction: Double): Sizes = Sizes(
    math.round(Reference.fraud * fraction).toInt,
    math.round(Reference.ipRanges * fraction).toInt,
    math.round(Reference.creditcard * fraction).toInt)

  private val Countries = Seq(
    "United States", "China", "Japan", "United Kingdom", "Korea Republic of",
    "Germany", "France", "Canada", "Brazil", "Italy", "Australia",
    "Netherlands", "Russian Federation", "India", "Taiwan", "Mexico",
    "Sweden", "Spain", "South Africa", "Switzerland", "Poland", "Argentina",
    "Chile", "Colombia", "Turkey", "Norway", "Denmark", "Finland",
    "Indonesia", "Viet Nam")
  private val Sources = Array("SEO", "Ads", "Direct")
  private val Browsers = Array("Chrome", "IE", "Safari", "FireFox", "Opera")
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Epoch = LocalDateTime.of(2015, 1, 1, 0, 0, 0)
  private val IpLo = 16777216L
  private val IpHi = 3758096383L

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  private def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  private def writeLines(path: File, header: String, rows: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8))
    try {
      w.write(header); w.write("\n")
      rows.foreach { l => w.write(l); w.write("\n") }
    } finally w.close()
  }

  /** Insert `k` exact copies of random rows at random positions. */
  private def withDuplicates(rows: Vector[String], k: Int,
      r: SplittableRandom): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.from(rows)
    (0 until k).foreach { _ =>
      val src = out(r.nextInt(out.length))
      out.insert(r.nextInt(out.length + 1), src)
    }
    out.toVector
  }

  /** Disjoint, sorted IP ranges with gaps; lower bounds written as float
    * strings and upper bounds as integers, like the reference file.
    */
  private def ipRanges(n: Int, r: SplittableRandom): Vector[(Long, Long, String)] = {
    val span = (IpHi - IpLo) / n
    val countryCdf = zipfCdf(Countries.length, 1.2)
    Vector.tabulate(n) { i =>
      val lo = IpLo + i * span + r.nextLong(span / 4 + 1)
      val hi = lo + span / 2 + r.nextLong(span / 4 + 1)
      (lo, hi, Countries(draw(countryCdf, r)))
    }
  }

  private def ipString(ip: Long, r: SplittableRandom): String =
    if (r.nextInt(10) < 7) fmt("%d.%06d", ip, r.nextInt(1000000))
    else s"${ip >>> 24}.${(ip >>> 16) & 255}.${(ip >>> 8) & 255}.${ip & 255}"

  private def fraudRows(n: Int, r: SplittableRandom): Vector[String] = {
    val nDup = math.round(n * DuplicateShare).toInt
    val base = n - nDup
    val nFraud = math.round(base * FraudShare).toInt
    val fraudIdx = shuffled(base, r).take(nFraud).toSet
    val nullIdx = shuffled(base, r).take(math.round(base * NullIpShare).toInt).toSet
    val badIdx = shuffled(base, r).take(math.round(base * BadTimestampShare).toInt).toSet
    val userIds = shuffled(4 * base, r)
    // skewed keys: a device/IP pool a third the row count, Zipf-drawn
    val pool = math.max(base / 3, 1)
    val keyCdf = zipfCdf(pool, 1.1)
    val devices = Vector.fill(pool)(
      new String(Array.fill(13)(('A' + r.nextInt(26)).toChar)))
    val ips = Vector.fill(pool)(IpLo + r.nextLong(IpHi - IpLo))
    val windowSec = 30L * 86400L
    val rows = Vector.tabulate(base) { i =>
      val signupSec = r.nextLong(windowSec)
      val purchaseSec = signupSec + 1 + r.nextLong(14L * 86400L)
      val signup = TsFormat.format(Epoch.plusSeconds(signupSec))
      val purchase = TsFormat.format(Epoch.plusSeconds(purchaseSec))
      val (su, pu) =
        if (!badIdx(i)) (signup, purchase)
        else if (i % 2 == 0) (BadTimestamp, purchase)
        else (signup, BadTimestamp)
      val ip = if (nullIdx(i)) "" else ipString(ips(draw(keyCdf, r)), r)
      Seq(
        (userIds(i) + 1).toString, su, pu,
        (9 + r.nextInt(146)).toString,
        devices(draw(keyCdf, r)),
        Sources(r.nextInt(Sources.length)),
        Browsers(r.nextInt(Browsers.length)),
        if (r.nextBoolean()) "M" else "F",
        (18 + r.nextInt(59)).toString,
        ip,
        if (fraudIdx(i)) "1" else "0").mkString(",")
    }
    withDuplicates(rows, nDup, r)
  }

  private def creditRows(n: Int, r: SplittableRandom): Vector[String] = {
    val nDup = math.round(n * CreditDuplicateShare).toInt
    val base = n - nDup
    val nFraud = math.max(math.round(base * CreditFraudShare).toInt, 2)
    val fraudIdx = shuffled(base, r).take(nFraud).toSet
    val times = Array.fill(base)(r.nextInt(172792)).sorted
    // fraud rows shift a few components, as in the ULB data
    val shift = Map(4 -> 4.0, 10 -> -5.0, 12 -> -6.0, 14 -> -7.0, 17 -> -6.0)
    val rows = Vector.tabulate(base) { i =>
      val fraud = fraudIdx(i)
      val vs = (1 to 28).map { k =>
        val sd = 2.0 / math.sqrt(k.toDouble)
        val mu = if (fraud) shift.getOrElse(k, 0.0) else 0.0
        fmt("%.6f", mu + sd * gaussian(r))
      }
      val amount = math.exp(3.0 + 1.5 * gaussian(r))
      (times(i).toString +: vs :+ fmt("%.2f", amount) :+
        (if (fraud) "1" else "0")).mkString(",")
    }
    withDuplicates(rows, nDup, r)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (no java.util.Random state)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Write the three CSVs under `dir` and return their paths. */
  def write(dir: File, seed: Long, fraction: Double): Files = {
    dir.mkdirs()
    val s = sizes(fraction)
    val root = new SplittableRandom(seed)
    val (rIp, rFraud, rCredit) = (root.split(), root.split(), root.split())
    val files = Files(
      new File(dir, "Fraud_Data.csv").getPath,
      new File(dir, "IpAddress_to_Country.csv").getPath,
      new File(dir, "creditcard.csv").getPath)
    writeLines(new File(files.ipToCountry),
      "lower_bound_ip_address,upper_bound_ip_address,country",
      ipRanges(s.ipRanges, rIp).iterator.map { case (lo, hi, c) =>
        s"$lo.0,$hi,$c" })
    writeLines(new File(files.fraud),
      "user_id,signup_time,purchase_time,purchase_value,device_id,source," +
        "browser,sex,age,ip_address,class",
      fraudRows(s.fraud, rFraud).iterator)
    writeLines(new File(files.creditcard),
      ("Time" +: (1 to 28).map(i => s"V$i") :+ "Amount" :+ "Class").mkString(","),
      creditRows(s.creditcard, rCredit).iterator)
    files
  }
}
