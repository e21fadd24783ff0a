package perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Similarity
import graft.streaming.Ingest

/** A document as the stream carries it. */
final case class DocRow(doc_id: Long, text: String, emb: Array[Float])

/** `doc_curate`: document micro-batches with Zipf text and an embedding
  * go through `Ingest.startNearDupIngest`; each batch plants exact
  * duplicates and word-edit near-duplicates of earlier documents (of
  * this batch or of earlier ones). Between batches the client runs
  * `Similarity.ivfTopK` queries over the curated documents so far.
  */
object DocCurate extends Workload {
  val name = "doc_curate"
  val readTail = 0.6
  val writeTail = 0.6
  val InitialDocs = 300
  val BatchDocs = 100
  val ExactPerBatch = 5
  val NearPerBatch = 5
  val QueriesPerBatch = 1
  val QueryVectors = 16
  val K = 10
  val NCells = 16
  val NProbe = 4
  /** Every second batch also compacts the near-dup state, so the
    * compaction lands above the write tail's rank.
    */
  val CompactEvery = 2
  /** Recall is measured on the queries of every `RecallEvery`-th corpus snapshot. */
  val RecallEvery = 4
  val Setups = 3
  /** Floors the checks hold the library to; see BENCHMARK.json. */
  val IvfRecallFloor = 0.6
  val NearDupRecallFloor = 0.9
  val NearDupPrecisionFloor = 0.9

  /** Seeded documents with planted duplicates; ids grow with arrival, so
    * every planted copy arrives after its source.
    */
  final class DocGen(seed: Long) {
    private val r = new java.util.Random(seed ^ 0xD0CL)
    private val words = new Gen.Zipf(Gen.DocVocab, 1.0)
    private val centers = Gen.topics(seed)
    private val docs = mutable.ArrayBuffer[DocRow]()
    val exact = mutable.LinkedHashSet[Long]()
    val near = mutable.LinkedHashSet[Long]()

    def sent: Int = docs.length

    def batch(n: Int, nExact: Int, nNear: Int): Vector[DocRow] = {
      val from = docs.length
      val planted = r.ints(0, n).distinct().limit((nExact + nNear).toLong).toArray
      val kind = planted.zipWithIndex.map { case (p, i) => p -> (i < nExact) }.toMap
      (0 until n).foreach { j =>
        val id = (from + j).toLong
        val d = kind.get(j) match {
          case Some(isExact) if docs.nonEmpty =>
            val src = docs(r.nextInt(docs.length))
            if (isExact) { exact += id; DocRow(id, src.text, src.emb.clone()) }
            else {
              near += id
              val w = src.text.split(' ')
              (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = s"e${r.nextInt(1000000)}")
              DocRow(id, w.mkString(" "), src.emb.map(x => (x + 0.01 * r.nextGaussian()).toFloat))
            }
          case _ =>
            DocRow(id, Gen.zipfText(40 + r.nextInt(21), words, r).mkString(" "),
              Gen.embedNear(centers(r.nextInt(centers.length)), 0.25, r))
        }
        docs += d
      }
      docs.slice(from, from + n).toVector
    }

    /** A query vector near a random topic. */
    def query(): Array[Float] = Gen.embedNear(centers(r.nextInt(centers.length)), 0.25, r)
  }

  private final case class World(mem: MemoryStream[DocRow], query: StreamingQuery,
                                 gen: DocGen, stateDir: String)

  def run(h: Harness): Outcome = {
    val spark = h.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val work = h.args.work

    val (setupS, w) = h.setups[World](Setups, discard = { w =>
      w.query.stop(); Harness.deleteDir(new java.io.File(w.stateDir).getParent)
    }) { i =>
      val gen = new DocGen(h.args.seed)
      val mem = MemoryStream[DocRow]
      val stateDir = s"$work/d$i/state"
      val q = h.tracer.span("streaming.Ingest.startNearDupIngest")(
        Ingest.startNearDupIngest(mem.toDF(), stateDir, s"$work/d$i/checkpoint",
          compactEvery = CompactEvery, trigger = Trigger.ProcessingTime(0L)))
      mem.addData(gen.batch(InitialDocs, 0, 0))
      q.processAllAvailable()
      World(mem, q, gen, stateDir)
    }
    val World(mem, query, gen, stateDir) = w
    var batchNo = 1L
    val batchOfOp = mutable.ArrayBuffer[(Int, Long)]()
    val sentBefore = mutable.ArrayBuffer[Int](gen.sent) // docs sent through batch b
    // (corpus snapshot batch, queries, result neighbour ids per query)
    val queries = mutable.ArrayBuffer[(Long, Seq[(Long, Array[Float])], Map[Long, Seq[Long]])]()
    var nextQueryId = -1L
    def docsDirs(upTo: Long): Seq[String] = (0L to upTo).map(b => s"$stateDir/docs/batch_$b")

    def cycle(): Unit = {
      val docs = gen.batch(BatchDocs, ExactPerBatch, NearPerBatch)
      // named apart, so traced and untraced samples of a name do the same work
      val compacting = batchNo % CompactEvery == 0
      h.op("write", if (compacting) "compact+batch" else "batch", rows = docs.length.toLong,
          userBytes = docs.map(d => d.text.length + 4L * d.emb.length).sum) {
        h.tracer.span("streaming.Ingest.batch") {
          mem.addData(docs)
          query.processAllAvailable()
        }
      } { _ => query.exception.isEmpty }
      batchOfOp += ((h.lastOpId, batchNo))
      sentBefore += gen.sent
      val snapshot = batchNo
      batchNo += 1
      (0 until QueriesPerBatch).foreach { _ =>
        val qs = (0 until QueryVectors).map { _ => nextQueryId -= 1; (nextQueryId, gen.query()) }
        h.op("read", "ivfTopK") {
          h.tracer.span("llm.Similarity.ivfTopK") {
            val corpus = spark.read.parquet(s"$stateDir/docs/batch_*")
            Similarity.ivfTopK(corpus, qs.toDF("doc_id", "emb"), "doc_id", "emb", K,
              nCells = NCells, nProbe = NProbe).collect()
          }
        } { rows =>
          val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
            q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
          }
          queries += ((snapshot, qs, got))
          val sent = sentBefore(snapshot.toInt)
          got.keySet == qs.map(_._1).toSet &&
            got.values.forall(ns => ns.length == K && ns.forall(n => n >= 0 && n < sent))
        }
      }
    }

    h.runPhase(minReads = Stats.samplesFor(readTail), minWrites = Stats.samplesFor(writeTail))(cycle())
    val peakRss = Jvm.peakRssBytes()
    query.stop()

    // recall@k against the exact top-k over the same corpus snapshot
    val recalls = queries.filter(_._1 % RecallEvery == 0).groupBy(_._1).toSeq.flatMap { case (snap, qsAt) =>
      val qs = qsAt.flatMap(_._2).toSeq
      val exact: Map[Long, Set[Long]] = Similarity.bruteForceTopK(spark.read.parquet(docsDirs(snap): _*),
        qs.toDF("doc_id", "emb"), "doc_id", "emb", K).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      qsAt.flatMap { case (_, qv, got) =>
        qv.map { case (q, _) =>
          val e = exact.getOrElse(q, Set.empty)
          got.getOrElse(q, Nil).count(e.contains).toDouble / math.max(1, e.size)
        }
      }
    }
    val recallAtK = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    h.checkRun(s"ivfTopK recall@$K $recallAtK >= $IvfRecallFloor")(recallAtK >= IvfRecallFloor)

    val flagged = Ingest.nearDupFlags(spark, stateDir).select("doc_id").as[Long].collect().toSet
    val batchOf = (id: Long) => sentBefore.indexWhere(_ > id).toLong
    gen.exact.filterNot(flagged).foreach { id =>
      h.log(s"planted exact duplicate $id was not flagged")
      batchOfOp.find(_._2 == batchOf(id)).foreach { case (op, _) => h.fail(op) }
    }
    val planted = gen.exact ++ gen.near
    val hit = planted.count(flagged).toDouble
    val recall = hit / math.max(1, planted.size)
    val precision = if (flagged.isEmpty) 1.0 else hit / flagged.size
    h.checkRun(s"near-dup recall $recall >= $NearDupRecallFloor")(recall >= NearDupRecallFloor)
    h.checkRun(s"near-dup precision $precision >= $NearDupPrecisionFloor")(
      precision >= NearDupPrecisionFloor)

    val stateRoot = new java.io.File(stateDir)
    val stateDirs = Option(stateRoot.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(g => g.isDirectory && (g.getName.startsWith("batch_") || g.getName.startsWith("compact_upto_")))
    val tracedBatches = batchOfOp.collect { case (id, b) if h.ops.exists(o => o.id == id && o.traced) => b }
    val stateBytes = Harness.dirBytes(stateDir)
    Outcome(setupS, stateBytes, gen.sent.toLong, peakRss,
      Map("llm.Similarity.recall_at_k" -> recallAtK,
        "llm.Dedup.neardup_recall" -> recall,
        "llm.Dedup.neardup_precision" -> precision,
        "streaming.Ingest.state_dirs" -> stateDirs.toDouble,
        "streaming.Ingest.state_mb" -> stateBytes / 1048576.0) ++
        h.progress.map(_.layerMetrics(tracedBatches.toSeq)).getOrElse(Map.empty))
  }
}
