package perfbench

import java.time.{LocalDate, ZoneOffset}

/** Seeded input generators. Every input a workload hands the library
  * comes from here, so one seed always yields the same inputs.
  */
object Gen {

  /** A Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
  final class Zipf(n: Int, s: Double) {
    require(n > 0, "Zipf needs at least one rank")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: java.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** One OHLCV bar's content (the series key and timestamp live beside it). */
  final case class Bar(open: Double, high: Double, low: Double, close: Double,
                       volume: Double, bits: Long)

  final case class Series(market: String, code: String) {
    override def toString: String = s"$market/$code"
  }

  /** UPBIT-style tickers and KRX-style six-digit codes, interleaved, so
    * every candle store holds both kinds of `code` value.
    */
  val Upbit: Vector[String] = Vector("KRW-BTC", "KRW-ETH", "KRW-XRP", "KRW-SOL",
    "KRW-ADA", "KRW-DOGE", "KRW-DOT", "KRW-AVAX", "BTC-ETH", "BTC-XRP",
    "USDT-BTC", "USDT-ETH")
  val Krx: Vector[String] = Vector("005930", "000660", "035420", "051910",
    "005380", "035720", "068270", "207940", "006400", "105560", "055550",
    "012330")

  def mixedSeries(n: Int): Vector[Series] =
    (0 until n).toVector.map { i =>
      if (i % 2 == 0) Series("UPBIT", Upbit(i / 2)) else Series("KRX", Krx(i / 2))
    }

  def epoch(y: Int, m: Int, d: Int): Long =
    LocalDate.of(y, m, d).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  /** A starting price per series: crypto tickers and KRX equities sit in
    * different price ranges, as they do in a real store.
    */
  def startPrice(s: Series, r: java.util.Random): Double =
    if (s.market == "UPBIT") round2(1000.0 + r.nextInt(5000000))
    else round2(10000.0 + 500.0 * r.nextInt(1600))

  /** The next bar of a random walk; volumes are whole numbers so sums
    * over them are exact in every engine.
    */
  def nextBar(prevClose: Double, r: java.util.Random): Bar = {
    val open = prevClose
    val close = math.max(0.01, round2(open * (1.0 + 0.003 * r.nextGaussian())))
    val high = round2(math.max(open, close) * (1.0 + 0.001 * math.abs(r.nextGaussian())))
    val low = math.max(0.01, round2(math.min(open, close) * (1.0 - 0.001 * math.abs(r.nextGaussian()))))
    Bar(open, high, low, close, (1 + r.nextInt(1000)).toDouble, r.nextInt(4).toLong)
  }

  /** A revision of an existing bar: new content for the same key and ts. */
  def revise(b: Bar, r: java.util.Random): Bar = {
    val f = 1.0 + 0.002 * r.nextGaussian()
    val open = math.max(0.01, round2(b.open * f))
    val close = math.max(0.01, round2(b.close * f))
    Bar(open, math.max(open, close) + 0.01, math.max(0.01, math.min(open, close) - 0.01),
      close, (1 + r.nextInt(1000)).toDouble, r.nextInt(4).toLong)
  }

  // ------------------------------------------------------ candle_serve

  /** A mora deployment before migration: flushed `.ysf` pages plus a
    * WAL of committed and uncommitted transactions.
    */
  final case class WalTx(txId: Long, series: Int, year: Int,
                         rows: Vector[(Long, Bar)], committed: Boolean)
  final case class MoraFixture(series: Vector[Series], years: Range,
                               pages: Vector[(Int, Int, Vector[(Long, Bar)])],
                               wal: Vector[Vector[WalTx]])

  /** Data windows of one series-year page: contiguous 1-minute bars over
    * the first and the last `ServeWindowDays` days of the year (5,760
    * rows a page), so month-long reads cross a year (and so a partition)
    * boundary. A full mora 1-minute page holds up to 525,600 rows; two
    * days at each end keep three set-ups of 64 pages inside the run's
    * time budget.
    */
  val ServeWindowDays = 2
  val ServeStepSec = 60L
  val ServeYears: Range = 2020 to 2023
  val ServeSeries = 16

  def serveWindowTimes(year: Int): Vector[Long] = {
    val jan = epoch(year, 1, 1)
    val dec = epoch(year + 1, 1, 1) - ServeWindowDays * 86400L
    val perWindow = (ServeWindowDays * 86400L / ServeStepSec).toInt
    (0 until perWindow).toVector.map(i => jan + i * ServeStepSec) ++
      (0 until perWindow).toVector.map(i => dec + i * ServeStepSec)
  }

  /** The last `ServeWalHours` hours of the newest year live only in the
    * committed WAL tail, as they would before mora's next flush.
    */
  val ServeWalHours = 6

  def moraFixture(seed: Long): MoraFixture = {
    val r = new java.util.Random(seed ^ 0x5EEDCAFEL)
    val series = mixedSeries(ServeSeries)
    val walFrom = epoch(ServeYears.last + 1, 1, 1) - ServeWalHours * 3600L
    val pages = Vector.newBuilder[(Int, Int, Vector[(Long, Bar)])]
    val walTail = Vector.newBuilder[(Int, Vector[(Long, Bar)])]
    series.indices.foreach { si =>
      var price = startPrice(series(si), r)
      ServeYears.foreach { y =>
        val bars = serveWindowTimes(y).map { t =>
          val b = nextBar(price, r); price = b.close; (t, b)
        }
        val (flushed, tail) = bars.partition(_._1 < walFrom)
        pages += ((si, y, flushed))
        if (tail.nonEmpty) walTail += ((si, tail))
      }
    }
    val pagesV = pages.result()
    // committed WAL: the unflushed tail per series, then revisions of a
    // few flushed bars of the newest page (the WAL wins over the page)
    var tx = 1000L
    val committed = Vector.newBuilder[WalTx]
    walTail.result().foreach { case (si, rows) =>
      tx += 1; committed += WalTx(tx, si, ServeYears.last, rows, committed = true)
    }
    pagesV.filter(_._2 == ServeYears.last).foreach { case (si, y, rows) =>
      val picks = Vector.fill(3)(rows(rows.length - 1 - r.nextInt(48))).distinctBy(_._1)
      tx += 1
      committed += WalTx(tx, si, y, picks.map { case (t, b) => (t, revise(b, r)) }, committed = true)
    }
    // an uncommitted tail: a crash before COMMIT, which migration drops
    val uncommitted = Vector.fill(3) {
      val si = r.nextInt(series.length)
      val (_, y, rows) = pagesV.filter(p => p._1 == si && p._2 == ServeYears.last).head
      tx += 1
      WalTx(tx, si, y, rows.takeRight(4).map { case (t, b) => (t, revise(b, r)) }, committed = false)
    }
    val c = committed.result()
    val (first, second) = c.splitAt(c.length / 2)
    MoraFixture(series, ServeYears, pagesV, Vector(first, second ++ uncommitted))
  }

  // ----------------------------------------------------- candle_stream

  val StreamSeries = 8
  val StreamStart: Long = epoch(2024, 1, 1) - 6 * 3600L
  val StreamInitialMinutes = 180
  val StreamBatchMinutes = 15
  val StreamRevisionsPerBatch = 6

  // ------------------------------------------------------- doc_curate

  val DocVocab = 5000
  val DocDim = 32
  val DocTopics = 24

  /** Topic centroids: documents sit near one of them, so IVF cells mean
    * something and recall@k is a fair figure.
    */
  def topics(seed: Long): Array[Array[Float]] = {
    val r = new java.util.Random(seed ^ 0x70B1CL)
    Array.fill(DocTopics) {
      val v = Array.fill(DocDim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  def embedNear(center: Array[Float], noise: Double, r: java.util.Random): Array[Float] =
    center.map(c => (c + noise * r.nextGaussian()).toFloat)

  def zipfText(words: Int, zipf: Zipf, r: java.util.Random): Vector[String] =
    Vector.fill(words)(s"w${zipf.sample(r)}")
}
