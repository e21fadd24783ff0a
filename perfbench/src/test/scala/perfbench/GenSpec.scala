package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MoraWal, Ysf}

/** The same seed must give byte-identical inputs, and another seed other ones. */
class GenSpec extends AnyFunSuite {

  /** Every byte the candle_serve set-up writes: pages and WAL logs. */
  private def deploymentBytes(seed: Long): Seq[Array[Byte]] = {
    val fx = Gen.moraFixture(seed)
    val pages = fx.pages.map { case (si, y, rows) =>
      val s = fx.series(si)
      Ysf.encodePage(s.market, s.code, CandleServe.CandleLength, y,
        rows.map { case (t, b) => CandleServe.candle(s, t, b) })
    }
    val wal = fx.wal.flatten.map { tx =>
      val s = fx.series(tx.series)
      MoraWal.encodeCommand(MoraWal.WalInsert(tx.txId, s.market, s.code,
        CandleServe.CandleLength, tx.year, tx.rows.map { case (t, b) =>
          MoraWal.WalCandle(t, b.open, b.high, b.low, b.close, b.volume, b.bits)
        }))
    }
    pages ++ wal
  }

  private def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  test("the mora deployment is byte-identical for one seed and differs across seeds") {
    assert(same(deploymentBytes(11), deploymentBytes(11)))
    assert(!same(deploymentBytes(11), deploymentBytes(12)))
  }

  test("the deployment mixes UPBIT tickers and six-digit KRX codes, with a WAL tail") {
    val fx = Gen.moraFixture(3)
    assert(fx.series.exists(s => s.market == "UPBIT" && s.code.contains("-")))
    assert(fx.series.exists(s => s.market == "KRX" && s.code.forall(_.isDigit)))
    assert(fx.wal.flatten.exists(_.committed) && fx.wal.flatten.exists(!_.committed))
  }

  test("serve pages are dense minute bars, so resample and as-of checks can fail") {
    val fx = Gen.moraFixture(4)
    val (_, _, rows) = fx.pages.find(_._2 == Gen.ServeYears.head).get
    assert(rows.length == 4 * 1440)
    // an hourly bucket holds sixty bars: returning the input would not pass
    val hourly = Reference.resample(rows, 3600L)
    assert(hourly.length * 60 == rows.length)
    assert(hourly.head._2.open == rows.head._2.open && hourly.head._2.close == rows(59)._2.close)
    // four in five left rows have no right row at the same ts, so an
    // equi-join on ts would not pass
    val right = rows.filter(_._1 % CandleServe.AsofRightStepSec == 0)
    val asof = Reference.asof(rows, right)
    assert(asof.count { case (t, _) => right.exists(_._1 == t) } * 5 == rows.length)
    assert(asof.forall(_._2.isDefined))
  }

  private def serveWrites(seed: Long): Seq[String] = {
    val fx = Gen.moraFixture(seed)
    val model = new CandleModel(fx.series.length)
    fx.pages.foreach { case (si, _, rows) => rows.foreach { case (t, b) => model.put(si, t, b, 0L) } }
    val r = new java.util.Random(seed)
    (0 until 5).map { k =>
      val batch = CandleServe.writeBatch(model, r, () => r.nextInt(fx.series.length))
      batch.foreach { case (si, t, b) => model.put(si, t, b, 1L + k) }
      batch.mkString(";")
    }
  }

  test("candle_serve write batches repeat for one seed") {
    assert(serveWrites(5) == serveWrites(5))
    assert(serveWrites(5) != serveWrites(6))
  }

  private def streamBatches(seed: Long): Seq[String] = {
    val gen = new CandleStream.StreamGen(seed, Gen.mixedSeries(Gen.StreamSeries))
    val model = new CandleModel(Gen.StreamSeries)
    val init = gen.initial()
    init.foreach { case (si, t, b) => model.put(si, t, b, 1L) }
    init.mkString(";") +: (0 until 4).map { k =>
      val b = gen.batch(model)
      b.foreach { case (si, t, bar) => model.put(si, t, bar, 2L + k) }
      b.mkString(";")
    }
  }

  test("candle_stream batches repeat for one seed and revise earlier bars") {
    assert(streamBatches(8) == streamBatches(8))
    assert(streamBatches(8) != streamBatches(9))
    val gen = new CandleStream.StreamGen(8, Gen.mixedSeries(Gen.StreamSeries))
    val model = new CandleModel(Gen.StreamSeries)
    gen.initial().foreach { case (si, t, b) => model.put(si, t, b, 1L) }
    val before = (0 until Gen.StreamSeries).map(model.maxTs).max
    assert(gen.batch(model).exists(_._2 <= before))
  }

  private def docs(seed: Long): Seq[String] = {
    val g = new DocCurate.DocGen(seed)
    val all = g.batch(50, 0, 0) ++ g.batch(40, 3, 3)
    all.map(d => s"${d.doc_id}|${d.text}|${d.emb.mkString(",")}") ++
      Seq(g.exact.mkString(","), g.near.mkString(","), g.query().mkString(","))
  }

  test("doc_curate documents, planted duplicates and queries repeat for one seed") {
    assert(docs(21) == docs(21))
    assert(docs(21) != docs(22))
    val g = new DocCurate.DocGen(21)
    val first = g.batch(50, 0, 0)
    val second = g.batch(40, 3, 3)
    assert(g.exact.size == 3 && g.near.size == 3)
    val texts = (first ++ second).map(d => d.doc_id -> d.text).toMap
    g.exact.foreach(id => assert(texts.exists { case (o, t) => o < id && t == texts(id) }))
  }
}
