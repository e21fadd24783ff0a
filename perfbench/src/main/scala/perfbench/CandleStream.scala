package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Candle
import graft.ops.TimeSeries
import graft.store.{IncrementalView, VersionedCandleStore}
import graft.streaming.Ingest
import perfbench.Gen.{Bar, Series}

/** `candle_stream`: 1-minute candle micro-batches streamed into a
  * versioned store by `Ingest.startVersionedIngest`; after each batch
  * the client refreshes an hourly per-series view, then reads the view,
  * the change feed since what it last saw, and one page as of a recent
  * transaction. About 5% of each batch revises bars of earlier batches.
  * `compact()` + `checkpointJournal()` run ahead of every second
  * batch's hand-off, so the maintenance lands above the write tail's
  * rank.
  */
object CandleStream extends Workload {
  val name = "candle_stream"
  val readTail = 0.8
  val writeTail = 0.6
  val CandleLength = 60
  val MaintainEvery = 2
  val AsOfBack = 4
  val Setups = 3

  val viewGroups: Seq[(String, Column)] = Seq("market" -> col("market"), "code" -> col("code"),
    "candle_length" -> col("candle_length"), "hour" -> TimeSeries.bucketStart(col("ts"), 3600L))
  val viewAggs: Seq[Column] = Seq(count(lit(1)).as("n"), min("low").as("low"),
    max("high").as("high"), sum("volume").as("volume"))

  /** Seeded bar source: every series advances one bar a minute; a
    * batch also revises a few bars of earlier batches, recent ones
    * favoured.
    */
  final class StreamGen(seed: Long, val series: Vector[Series]) {
    private val r = new java.util.Random(seed ^ 0x57AEL)
    private val price = series.map(s => Gen.startPrice(s, r)).toArray
    private var nextMinute = 0
    private val recency = new Gen.Zipf(240, 1.0)

    private def minutes(n: Int): Vector[(Int, Long, Bar)] = {
      val out = for {
        m <- (nextMinute until nextMinute + n).toVector
        si <- series.indices
      } yield {
        val b = Gen.nextBar(price(si), r); price(si) = b.close
        (si, Gen.StreamStart + 60L * m, b)
      }
      nextMinute += n
      out
    }

    def initial(): Vector[(Int, Long, Bar)] = minutes(Gen.StreamInitialMinutes)

    def batch(model: CandleModel): Vector[(Int, Long, Bar)] = {
      val revisions = (0 until Gen.StreamRevisionsPerBatch).map { _ =>
        val si = r.nextInt(series.length)
        val t = Gen.StreamStart + 60L * (nextMinute - 1 - recency.sample(r) % nextMinute)
        (si, t, Gen.revise(model.range(si, t, t + 1).head._2, r))
      }.distinctBy(x => (x._1, x._2))
      minutes(Gen.StreamBatchMinutes) ++ revisions
    }
  }

  private final case class World(store: VersionedCandleStore, view: IncrementalView,
                                 mem: MemoryStream[Candle], query: StreamingQuery,
                                 gen: StreamGen, model: CandleModel, tx0: Long, dir: String)

  def run(h: Harness): Outcome = {
    val spark = h.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val series = Gen.mixedSeries(Gen.StreamSeries)
    def candles(rows: Vector[(Int, Long, Bar)]): Vector[Candle] = rows.map { case (si, t, b) =>
      CandleServe.candle(series(si), t, b)
    }

    val (setupS, w) = h.setups[World](Setups, discard = { w =>
      w.query.stop(); Harness.deleteDir(w.dir)
    }) { i =>
      val dir = s"${h.args.work}/s$i"
      val gen = new StreamGen(h.args.seed, series)
      val model = new CandleModel(series.length)
      val store = VersionedCandleStore(spark, s"$dir/store")
      val init = gen.initial()
      val tx0 = h.tracer.span("store.VersionedCandleStore.commit")(
        store.commit(candles(init).toDF()))
      init.foreach { case (si, t, b) => model.put(si, t, b, tx0) }
      val view = new IncrementalView(spark, s"$dir/view", store, viewGroups, viewAggs)
      h.tracer.span("store.IncrementalView.refresh")(view.refresh())
      val mem = MemoryStream[Candle]
      val q = h.tracer.span("streaming.Ingest.startVersionedIngest")(
        Ingest.startVersionedIngest(mem.toDF(), store, s"$dir/checkpoint",
          Trigger.ProcessingTime(0L)))
      World(store, view, mem, q, gen, model, tx0, dir)
    }
    val World(store, view, mem, query, gen, model, tx0, dir) = w
    val r = new java.util.Random(h.args.seed ^ 0xA50FL)
    var lastSeen = tx0
    var floor = 0L
    var batchNo = 0
    val batchOfOp = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def yearStart(y: Int) = Gen.epoch(y, 1, 1)

    def modelView(): Set[String] =
      series.indices.flatMap { si =>
        model.rows(si).groupBy { case (t, _) => Math.floorDiv(t, 3600L) * 3600L }.map {
          case (hour, rs) =>
            val bs = rs.map(_._2)
            viewKey(series(si), hour, rs.length.toLong, bs.map(_.low).min, bs.map(_.high).max,
              bs.map(_.volume).sum)
        }
      }.toSet

    def cycle(): Unit = {
      val rows = gen.batch(model)
      val maintain = batchNo > 0 && batchNo % MaintainEvery == 0
      h.op("write", if (maintain) "maintain+batch" else "batch", rows = rows.length.toLong,
          userBytes = rows.length * graft.sources.Ysf.BlockWidth.toLong) {
        if (maintain) {
          floor = h.tracer.span("store.VersionedCandleStore.compact")(store.compact())
          h.tracer.span("store.VersionedCandleStore.checkpointJournal")(store.checkpointJournal())
        }
        h.tracer.span("streaming.Ingest.batch") {
          mem.addData(candles(rows))
          query.processAllAvailable()
        }
        h.tracer.span("store.IncrementalView.refresh")(view.refresh())
      } { _ => query.exception.isEmpty }
      batchOfOp += ((h.lastOpId, batchNo.toLong))
      batchNo += 1
      val tx = store.latestTxId
      rows.foreach { case (si, t, b) => model.put(si, t, b, tx) }

      h.op("read", "changesSince") {
        h.tracer.span("store.VersionedCandleStore.changesSince")(store.changesSince(lastSeen).collect())
      } { got =>
        val exp = series.indices.flatMap(si => model.changes(si, lastSeen, Long.MaxValue)
          .map { case (t, txid, b) => changeKey(series(si), t, txid, b) }).toSet
        got.map(r => changeKey(Series(r.getAs[String]("market"), r.getAs[String]("code")),
          r.getAs[Timestamp]("ts").getTime / 1000L, r.getAs[Long]("tx_id"),
          Check.bars(Array(r)).head._2)).toSet == exp && got.length == exp.size
      }
      lastSeen = tx

      h.op("read", "viewRead") {
        h.tracer.span("store.IncrementalView.read")(view.read().collect())
      } { got => got.map(viewRowKey).toSet == modelView() }

      val asOf = math.max(floor, tx - r.nextInt(AsOfBack + 1))
      val si = r.nextInt(series.length)
      val y = java.time.Instant.ofEpochSecond(model.maxTs(si))
        .atZone(java.time.ZoneOffset.UTC).getYear - r.nextInt(2)
      val s = series(si)
      h.op("read", "scanAsOf") {
        h.tracer.span("store.VersionedCandleStore.scanAsOf")(store.scanAsOf(asOf)
          .where(col("market") === s.market && col("code") === s.code &&
            col("candle_length") === CandleLength && col("year") === y).collect())
      } { got => Check.bars(got) == model.range(si, yearStart(y), yearStart(y + 1), asOf) }
    }

    h.runPhase(minReads = Stats.samplesFor(readTail), minWrites = Stats.samplesFor(writeTail))(cycle())
    val peakRss = Jvm.peakRssBytes()
    query.stop()

    h.checkRun("view equals a full recompute over scan()") {
      val recompute = store.scan().groupBy(viewGroups.map { case (n, c) => c.as(n) }: _*)
        .agg(viewAggs.head, viewAggs.tail: _*).collect().map(viewRowKey).toSet
      recompute == view.read().collect().map(viewRowKey).toSet
    }
    h.checkRun("scan() equals the model") {
      val got = store.scan().collect().groupBy(r => r.getAs[String]("code"))
      series.indices.forall(si => got.get(series(si).code).map(Check.bars)
        .contains(model.rows(si)))
    }

    val detail = store.detail()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def count(sub: String, prefix: String): Double = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (!fs.exists(p)) 0.0 else fs.listStatus(p).count(_.getPath.getName.startsWith(prefix)).toDouble
    }
    val tracedBatches = batchOfOp.collect { case (id, b) if h.ops.exists(o => o.id == id && o.traced) => b }
    Outcome(setupS, Harness.dirBytes(s"$dir/store") + Harness.dirBytes(s"$dir/view"), model.size,
      peakRss,
      Map("store.IncrementalView.generations" -> count("view", "gen_"),
        "store.VersionedCandleStore.txlog_entries" -> count("store/txlog", ""),
        "store.VersionedCandleStore.data_files" -> detail.nDataFiles.toDouble) ++
        h.progress.map(_.layerMetrics(tracedBatches.toSeq)).getOrElse(Map.empty))
  }

  private def viewKey(s: Series, hour: Long, n: Long, low: Double, high: Double, vol: Double): String =
    s"${s.market}|${s.code}|$hour|$n|$low|$high|$vol"

  private def viewRowKey(r: Row): String =
    viewKey(Series(r.getAs[String]("market"), r.getAs[String]("code")), r.getAs[Long]("hour"),
      r.getAs[Long]("n"), r.getAs[Double]("low"), r.getAs[Double]("high"), r.getAs[Double]("volume"))

  private def changeKey(s: Series, t: Long, tx: Long, b: Bar): String = s"$s|$t|$tx|$b"
}
