package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Gen.Bar

/** The benchmark's own last-writer-wins model of a candle store, kept
  * beside the generator: every read the library answers is checked
  * against it. Keys are (series index, epoch second); every version is
  * kept with the transaction that wrote it, so as-of reads can be
  * folded too.
  */
final class CandleModel(nSeries: Int) {
  private val versions =
    Array.fill(nSeries)(new java.util.TreeMap[java.lang.Long, List[(Long, Bar)]]())

  /** Apply one write; `tx` orders versions, a later call at the same tx
    * replaces the earlier one (in-batch last-writer-wins).
    */
  def put(series: Int, ts: Long, bar: Bar, tx: Long): Unit = {
    val m = versions(series)
    val old = Option(m.get(ts)).getOrElse(Nil)
    m.put(ts, (tx, bar) :: old.filterNot(_._1 == tx))
  }

  /** The bar visible at `asOf` (newest version with tx ≤ asOf). */
  private def at(vs: List[(Long, Bar)], asOf: Long): Option[Bar] =
    vs.iterator.filter(_._1 <= asOf).maxByOption(_._1).map(_._2)

  /** Rows of one series in [from, to) as of `asOf`, ts ascending. */
  def range(series: Int, from: Long, to: Long, asOf: Long = Long.MaxValue): Vector[(Long, Bar)] =
    versions(series).subMap(from, true, to, false).asScala.iterator
      .flatMap { case (t, vs) => at(vs, asOf).map(b => (t.longValue, b)) }
      .toVector

  def rows(series: Int, asOf: Long = Long.MaxValue): Vector[(Long, Bar)] =
    range(series, Long.MinValue, Long.MaxValue, asOf)

  def maxTs(series: Int): Long = versions(series).lastKey().longValue

  def size: Long = (0 until nSeries).map(s => rows(s).length.toLong).sum

  /** Rows written by transactions in (sinceTx, untilTx], one per key. */
  def changes(series: Int, sinceTx: Long, untilTx: Long): Vector[(Long, Long, Bar)] =
    versions(series).asScala.iterator.flatMap { case (t, vs) =>
      vs.iterator.filter(v => v._1 > sinceTx && v._1 <= untilTx)
        .map { case (tx, b) => (t.longValue, tx, b) }
    }.toVector
}

/** Reference computations over model rows, written without Spark. */
object Reference {

  /** OHLCV re-aggregation into `width`-second buckets (bucket start =
    * floor(ts / width) * width): first open, max high, min low, last
    * close, summed volume.
    */
  def resample(rows: Vector[(Long, Bar)], width: Long): Vector[(Long, Bar)] =
    rows.groupBy { case (t, _) => Math.floorDiv(t, width) * width }.toVector
      .sortBy(_._1)
      .map { case (bucket, rs) =>
        val s = rs.sortBy(_._1)
        (bucket, Bar(s.head._2.open, s.map(_._2.high).max, s.map(_._2.low).min,
          s.last._2.close, s.map(_._2.volume).sum, 0L))
      }

  /** For each left timestamp, the close of the newest right row at or
    * before it (None when there is none).
    */
  def asof(left: Vector[(Long, Bar)], right: Vector[(Long, Bar)]): Vector[(Long, Option[Double])] = {
    val m = new java.util.TreeMap[java.lang.Long, Bar]()
    right.foreach { case (t, b) => m.put(t, b) }
    left.map { case (t, _) => (t, Option(m.floorEntry(t)).map(_.getValue.close)) }
  }
}
