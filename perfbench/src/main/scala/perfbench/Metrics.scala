package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json
  * lists the same names (a test holds the two together).
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "rows_per_s" -> "1/s",
    "write_p50_s" -> "s", "write_tail_s" -> "s", "read_p50_s" -> "s",
    "read_tail_s" -> "s", "peak_rss_mb" -> "MB", "disk_bytes_per_row" -> "B")

  /** Layer calls the client wraps in spans; each reports its mean self
    * time per call as `<span>_s`.
    */
  val spans: Seq[String] = Seq(
    "store.CandleStore.readPage", "store.CandleStore.rangeScan",
    "store.CandleStore.minMaxTs", "sources.CandleCatalog.sql_page",
    "store.CandleStore.upsert", "store.CandleStore.compact",
    "ops.TimeSeries.resampleCandles", "ops.TimeSeries.asofJoin",
    "sources.MoraWal.migrateFromMora", "sources.Ysf.encodePage",
    "streaming.Ingest.batch",
    "store.IncrementalView.refresh", "store.IncrementalView.read",
    "store.VersionedCandleStore.scanAsOf", "store.VersionedCandleStore.changesSince",
    "store.VersionedCandleStore.compact", "store.VersionedCandleStore.checkpointJournal",
    "llm.Similarity.ivfTopK")

  val sparkCounters: Seq[(String, String)] = Seq("jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "gc_s" -> "s", "peak_exec_mem_mb" -> "MB")

  val fsCounters: Seq[String] = Seq("read_ops", "list_ops", "write_ops")

  val perLayer: Seq[(String, String)] =
    spans.map(s => s"${s}_s" -> "s") ++ Seq(
      "store.CandleStore.rows_examined_per_row" -> "ratio",
      "store.CandleStore.files_per_partition" -> "count",
      "streaming.Ingest.trigger_s" -> "s", "streaming.Ingest.addBatch_s" -> "s",
      "streaming.Ingest.engine_overhead_s" -> "s", "streaming.Ingest.walCommit_s" -> "s",
      "store.IncrementalView.generations" -> "count",
      "store.VersionedCandleStore.txlog_entries" -> "count",
      "store.VersionedCandleStore.data_files" -> "count",
      "llm.Similarity.recall_at_k" -> "ratio",
      "llm.Dedup.neardup_recall" -> "ratio", "llm.Dedup.neardup_precision" -> "ratio",
      "streaming.Ingest.state_dirs" -> "count", "streaming.Ingest.state_mb" -> "MB") ++
      (for { (c, u) <- sparkCounters; k <- Seq("read", "write") } yield s"spark.$c.$k" -> u) ++
      (for { c <- fsCounters; k <- Seq("read", "write") } yield s"fs.$c.$k" -> "count") ++ Seq(
      "fs.written_per_user_byte" -> "ratio",
      "jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> "s",
      "failed_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  private val MB = 1048576.0

  /** Per-operation means of the Spark and file-system counters over the
    * traced operations of each kind.
    */
  def counters(ops: Seq[OpRec], spark: Int => SparkCounts): Map[String, Double] =
    Seq("read", "write").flatMap { k =>
      val traced = ops.filter(o => o.traced && o.kind == k)
      val n = math.max(1, traced.length).toDouble
      val sc = traced.map(o => spark(o.id)).foldLeft(SparkCounts())(_ + _)
      val fs = traced.map(_.fs).foldLeft(FsCounts())(_ + _)
      Seq(s"spark.jobs.$k" -> sc.jobs / n, s"spark.stages.$k" -> sc.stages / n,
        s"spark.tasks.$k" -> sc.tasks / n, s"spark.task_s.$k" -> sc.taskNs / 1e9 / n,
        s"spark.shuffle_mb.$k" -> sc.shuffleBytes / MB / n,
        s"spark.spill_mb.$k" -> sc.spillBytes / MB / n,
        s"spark.gc_s.$k" -> sc.gcMs / 1000.0 / n,
        s"spark.peak_exec_mem_mb.$k" -> sc.peakExecMem / MB,
        s"fs.read_ops.$k" -> fs.readOps / n, s"fs.list_ops.$k" -> fs.listOps / n,
        s"fs.write_ops.$k" -> fs.writeOps / n)
    }.toMap

  /** Traced-minus-untraced latency as a share of untraced latency,
    * matched by operation name and weighted by how often each runs.
    */
  def traceOverhead(ops: Seq[OpRec]): Double = {
    val pairs = ops.groupBy(_.name).toSeq.flatMap { case (_, os) =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((os.length * Stats.median(t.map(_.seconds)), os.length * Stats.median(u.map(_.seconds))))
    }
    val base = pairs.map(_._2).sum
    if (base == 0.0) 0.0 else pairs.map(_._1).sum / base - 1.0
  }
}
