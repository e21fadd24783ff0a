package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.model.Candle
import graft.ops.TimeSeries
import graft.sources.{MoraWal, Ysf}
import graft.store.CandleStore
import perfbench.Gen.{Bar, MoraFixture}

/** `candle_serve`: a migrated mora deployment served to one client at
  * about nine reads to one write. Reads hit Zipf-popular series and
  * favour recent ranges; writes upsert new bars, late revisions and
  * in-batch duplicates, crossing a year boundary; every second write
  * also compacts, so compaction lands above the write tail's rank.
  */
object CandleServe extends Workload {
  val name = "candle_serve"
  val readTail = 0.95
  val writeTail = 0.6
  val CandleLength = 60
  val WriteSeries = 3
  val NewBarsPerSeries = 8
  val Revisions = 6
  val InBatchDups = 2
  val CompactEvery = 2
  /** The as-of join's right-hand series is thinned to this grid, so most
    * left rows match an earlier right row, not one at the same ts.
    */
  val AsofRightStepSec = 300L
  val Setups = 3
  /** Transaction order of the model: pages, then the WAL, then upsert b at 2 + b. */
  private val PageTx = 0L
  private val WalTx = 1L

  def run(h: Harness): Outcome = {
    val spark = h.spark
    val fx = Gen.moraFixture(h.args.seed)
    val work = h.args.work
    spark.conf.set("spark.sql.catalog.pb", classOf[graft.sources.CandleCatalog].getName)
    spark.conf.set("spark.sql.catalog.pb.base", s"$work/cat")
    val storeDir = s"$work/cat/db/serve"

    val (setupS, (_, store)) = h.setups[(Int, CandleStore)](Setups, discard = { case (i, _) =>
      Harness.deleteDir(s"$work/mora$i"); Harness.deleteDir(s"$work/rep$i")
    }) { i =>
      val root = s"$work/mora$i"
      writeDeployment(h, fx, root)
      (i, h.tracer.span("sources.MoraWal.migrateFromMora")(
        MoraWal.migrateFromMora(spark, root, if (i == Setups - 1) storeDir else s"$work/rep$i")))
    }
    Harness.deleteDir(s"$work/mora${Setups - 1}")

    val model = new CandleModel(fx.series.length)
    fx.pages.foreach { case (si, _, rows) => rows.foreach { case (t, b) => model.put(si, t, b, PageTx) } }
    fx.wal.flatten.filter(_.committed).foreach { tx =>
      tx.rows.foreach { case (t, b) => model.put(tx.series, t, b, WalTx) }
    }
    // the generated inputs, next to the store, for the DuckDB
    // last-writer-wins end-state check run after this process exits
    val inputs = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(work, "inputs.csv"))
    inputs.write("market,code,candle_length,ts,open,high,low,close,volume,bit_fields,phase,seq,committed\n")
    def input(si: Int, t: Long, b: Bar, phase: Int, seq: Long, committed: Boolean): Unit = {
      val s = fx.series(si)
      inputs.write(s"${s.market},${s.code},$CandleLength,$t,${b.open},${b.high},${b.low}," +
        s"${b.close},${b.volume},${b.bits},$phase,$seq,$committed\n")
    }
    fx.pages.foreach { case (si, _, rows) => rows.foreach { case (t, b) => input(si, t, b, 0, 0L, true) } }
    var walSeq = 0L
    fx.wal.flatten.foreach { tx =>
      tx.rows.foreach { case (t, b) => walSeq += 1; input(tx.series, t, b, 1, walSeq, tx.committed) }
    }

    val r = new java.util.Random(h.args.seed ^ 0x5E7E5L)
    val nSeries = fx.series.length
    val popularity = new Gen.Zipf(nSeries, 1.1)
    val rankToSeries = {
      val p = (0 until nSeries).toArray
      val pr = new java.util.Random(h.args.seed ^ 0x9E7L)
      for (i <- p.indices.reverse) { val j = pr.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    val years = fx.years
    val yearZipf = new Gen.Zipf(years.length, 1.0)
    val dayZipf = new Gen.Zipf(2 * Gen.ServeWindowDays, 0.8)
    def pickSeries(): Int = rankToSeries(popularity.sample(r))
    def pickYear(): Int = years.last - yearZipf.sample(r)
    /** The end of a day-aligned window inside a year's data, recent days favoured. */
    def pickEnd(year: Int): Long = {
      val days = Gen.serveWindowTimes(year).map(t => Math.floorDiv(t, 86400L) * 86400L)
        .distinct.sorted.reverse
      days(dayZipf.sample(r) % days.length) + 86400L
    }
    /** The end of a four-week window that crosses into one of the recent years. */
    def pickCrossingEnd(): Long = {
      val y = years.last - yearZipf.sample(r) % (years.length - 1)
      Gen.epoch(y, 1, 1) + (1 + r.nextInt(Gen.ServeWindowDays)) * 86400L
    }
    val day = 86400L

    val pageReads = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def key(si: Int) = fx.series(si)
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    def yearStart(y: Int) = Gen.epoch(y, 1, 1)

    def readRange(label: String, width: Long, crossing: Boolean): Unit = {
      val si = pickSeries()
      val end = if (crossing) pickCrossingEnd() else pickEnd(pickYear())
      val s = key(si)
      h.op("read", label) {
        h.tracer.span("store.CandleStore.rangeScan")(
          store.rangeScan(s.market, s.code, CandleLength, ts(end - width), ts(end)).collect())
      } { rows =>
        pageReads += ((h.lastOpId, rows.length.toLong))
        sameSeries(rows, s) && Check.bars(rows) == model.range(si, end - width, end)
      }
    }

    var writes = 0
    def write(): Unit = {
      val tx = 2L + writes
      val batch = writeBatch(model, r, pickSeries _)
      val rows = batch.zipWithIndex.map { case ((si, t, b), ord) =>
        val s = key(si)
        Row(s.market, s.code, CandleLength, ts(t), b.open, b.high, b.low, b.close,
          b.volume, b.bits, ord.toLong)
      }
      val compacting = (writes + 1) % CompactEvery == 0
      h.op("write", if (compacting) "upsert+compact" else "upsert", rows = rows.length.toLong,
          userBytes = rows.length * Ysf.BlockWidth.toLong) {
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          Candle.schema.add("ord", LongType, nullable = false))
        h.tracer.span("store.CandleStore.upsert")(store.upsert(df, ordinalCol = Some("ord")))
        if (compacting) h.tracer.span("store.CandleStore.compact")(store.compact())
        ()
      } { _ => true }
      batch.zipWithIndex.foreach { case ((si, t, b), ord) =>
        model.put(si, t, b, tx)
        input(si, t, b, 2, writes * 1000L + ord, true)
      }
      writes += 1
    }

    def resample(width: Long, span: Long, crossing: Boolean): Unit = {
      val si = pickSeries()
      val end = if (crossing) pickCrossingEnd() else pickEnd(pickYear())
      val s = key(si)
      h.op("read", if (width == 3600L) "resample_1h" else "resample_1d") {
        h.tracer.span("ops.TimeSeries.resampleCandles") {
          val df = store.rangeScan(s.market, s.code, CandleLength, ts(end - span), ts(end))
          TimeSeries.resampleCandles(df, "ts", width, Seq("market", "code", "candle_length")).collect()
        }
      } { rows =>
        val got = rows.toVector.map { row =>
          (row.getAs[Long]("bucket"), Bar(row.getAs[Double]("open"), row.getAs[Double]("high"),
            row.getAs[Double]("low"), row.getAs[Double]("close"), row.getAs[Double]("volume"), 0L))
        }.sortBy(_._1)
        got == Reference.resample(model.range(si, end - span, end), width)
      }
    }

    val cycle: Seq[() => Unit] = Seq(
      () => {
        val (si, y) = (pickSeries(), pickYear()); val s = key(si)
        h.op("read", "readPage") {
          h.tracer.span("store.CandleStore.readPage")(
            store.readPage(s.market, s.code, CandleLength, y).collect())
        } { rows =>
          pageReads += ((h.lastOpId, rows.length.toLong))
          sameSeries(rows, s) && Check.bars(rows) == model.range(si, yearStart(y), yearStart(y + 1))
        }
      },
      () => readRange("rangeScan_day", day, crossing = false),
      () => {
        val (si, y) = (pickSeries(), pickYear()); val s = key(si)
        h.op("read", "minMaxTs") {
          h.tracer.span("store.CandleStore.minMaxTs")(
            store.minMaxTs(s.market, s.code, CandleLength, y).collect())
        } { rows =>
          val exp = model.range(si, yearStart(y), yearStart(y + 1))
          rows.length == 1 &&
            rows(0).getTimestamp(0).getTime / 1000L == exp.head._1 &&
            rows(0).getTimestamp(1).getTime / 1000L == exp.last._1
        }
      },
      () => readRange("rangeScan_week", 7 * day, crossing = false),
      () => resample(3600L, 7 * day, crossing = false),
      () => {
        val (si, y) = (pickSeries(), pickYear()); val s = key(si)
        h.op("read", "sqlPage") {
          h.tracer.span("sources.CandleCatalog.sql_page")(spark.sql(
            s"SELECT * FROM pb.db.serve WHERE market = '${s.market}' AND code = '${s.code}' " +
              s"AND candle_length = $CandleLength AND year = $y").collect())
        } { rows =>
          pageReads += ((h.lastOpId, rows.length.toLong))
          sameSeries(rows, s) && Check.bars(rows) == model.range(si, yearStart(y), yearStart(y + 1))
        }
      },
      () => readRange("rangeScan_month", 28 * day, crossing = true),
      () => {
        val a = pickSeries()
        val b = Iterator.continually(pickSeries()).find(_ != a).get
        val end = pickEnd(pickYear())
        val (sa, sb) = (key(a), key(b))
        h.op("read", "asofJoin") {
          h.tracer.span("ops.TimeSeries.asofJoin") {
            val left = store.rangeScan(sa.market, sa.code, CandleLength, ts(end - day), ts(end))
            val right = store.rangeScan(sb.market, sb.code, CandleLength, ts(end - 7 * day), ts(end))
              .where(col("ts").cast(LongType) % AsofRightStepSec === 0)
            TimeSeries.asofJoin(left, right, Seq("candle_length"), "ts", "ts", Seq("close")).collect()
          }
        } { rows =>
          val got = rows.toVector.map { row =>
            val c = row.getAs[Any]("asof_close")
            (row.getAs[Timestamp]("ts").getTime / 1000L,
              Option(c).map(_.asInstanceOf[Double]))
          }.sortBy(_._1)
          got == Reference.asof(model.range(a, end - day, end),
            model.range(b, end - 7 * day, end).filter(_._1 % AsofRightStepSec == 0))
        }
      },
      () => resample(86400L, 28 * day, crossing = true),
      () => write())

    h.runPhase(minReads = Stats.samplesFor(readTail), minWrites = Stats.samplesFor(writeTail)) {
      cycle.foreach(_())
    }
    val peakRss = Jvm.peakRssBytes()

    inputs.close()
    val detail = store.detail()
    val examined = h.listener.map { l =>
      val traced = pageReads.filter { case (id, _) => h.ops.exists(o => o.id == id && o.traced) }
      val recs = traced.map { case (id, _) => l.counts(id).recordsRead }.sum
      recs.toDouble / math.max(1L, traced.map(_._2).sum)
    }.getOrElse(0.0)
    Outcome(setupS, Harness.dirBytes(storeDir), model.size, peakRss, Map(
      "store.CandleStore.rows_examined_per_row" -> examined,
      "store.CandleStore.files_per_partition" ->
        detail.nDataFiles.toDouble / math.max(1L, detail.nPartitions)))
  }

  private def sameSeries(rows: Array[Row], s: Gen.Series): Boolean =
    rows.forall(r => r.getAs[String]("market") == s.market && r.getAs[String]("code") == s.code)

  /** Write the deployment's `.ysf` page tree and WAL logs under `root`. */
  def writeDeployment(h: Harness, fx: MoraFixture, root: String): Unit = {
    fx.pages.foreach { case (si, y, rows) =>
      val s = fx.series(si)
      val bytes = h.tracer.span("sources.Ysf.encodePage")(
        Ysf.encodePage(s.market, s.code, CandleLength, y, rows.map { case (t, b) => candle(s, t, b) },
          lastTxId = 1000L))
      val p = java.nio.file.Paths.get(root, s.market, CandleLength.toString, s.code, f"$y%05d.ysf")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    fx.wal.zipWithIndex.foreach { case (txs, i) =>
      val cmds = txs.flatMap { tx =>
        val s = fx.series(tx.series)
        val ins = MoraWal.WalInsert(tx.txId, s.market, s.code, CandleLength, tx.year,
          tx.rows.map { case (t, b) => MoraWal.WalCandle(t, b.open, b.high, b.low, b.close, b.volume, b.bits) })
        if (tx.committed) Seq(ins, MoraWal.WalCommit(tx.txId)) else Seq(ins)
      }
      h.tracer.span("sources.MoraWal.writeLog")(
        MoraWal.writeLog(h.spark, f"$root/wal/wal.${1700000000000L + i}%d${i}%05d.log", cmds))
    }
  }

  def candle(s: Gen.Series, t: Long, b: Bar): Candle =
    Candle(s.market, s.code, CandleLength, new Timestamp(t * 1000L), b.open, b.high, b.low,
      b.close, b.volume, b.bits)

  /** One upsert batch: new bars after each picked series' newest bar,
    * late revisions of recent bars, and in-batch duplicates whose later
    * copy must win. Rows are in ordinal order.
    */
  def writeBatch(model: CandleModel, r: java.util.Random,
                 pick: () => Int): Vector[(Int, Long, Bar)] = {
    val picked = Iterator.continually(pick()).distinct.take(WriteSeries).toVector
    val recency = new Gen.Zipf(96, 1.0)
    val fresh = picked.flatMap { si =>
      val last = model.maxTs(si)
      var price = model.range(si, last, last + 1).head._2.close
      (1 to NewBarsPerSeries).map { k =>
        val b = Gen.nextBar(price, r); price = b.close
        (si, last + k * Gen.ServeStepSec, b)
      }
    }
    val revisions = (0 until Revisions).map { k =>
      val si = picked(k % picked.length)
      val recent = model.range(si, model.maxTs(si) - 200 * Gen.ServeStepSec, Long.MaxValue).reverse
      val (t, b) = recent(recency.sample(r) % recent.length)
      (si, t, Gen.revise(b, r))
    }
    val base = fresh ++ revisions
    val dups = (0 until InBatchDups).map { _ =>
      val (si, t, b) = base(r.nextInt(base.length))
      (si, t, Gen.revise(b, r))
    }
    base ++ dups
  }
}
