package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.Row

import perfbench.Gen.Bar

/** A named closed-loop workload. Its tails are fixed percentiles, and
  * its timed phase runs until each kind of operation has enough samples
  * for at least ten to lie beyond its tail.
  */
trait Workload {
  def name: String
  def readTail: Double
  def writeTail: Double
  def run(h: Harness): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(CandleServe, CandleStream, DocCurate)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Result decoding shared by the checks. */
object Check {
  /** Candle rows as (epoch second, content), ts ascending. */
  def bars(rows: Array[Row]): Vector[(Long, Bar)] =
    rows.toVector.map { r =>
      (r.getAs[Timestamp]("ts").getTime / 1000L,
        Bar(r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("bit_fields")))
    }.sortBy(_._1)
}
