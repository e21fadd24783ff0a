package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{GraftExtensions, GraftSession}

/** One benchmark run of one workload in this JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --trace-out <dir>
  * }}}
  *
  * Prints `PERFBENCH_RESULT <json>` with the run's end-to-end metrics
  * (`--trace 0`) or per-layer metrics (`--trace 1`), and writes a
  * summary (plus, when traced, every span) under `--trace-out`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("trace-out"))
    val wl = Workload.byName(args.workload).getOrElse(sys.error(s"unknown workload ${args.workload}"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val builder = GraftSession.builder(appName = s"perfbench-${wl.name}")
      .config("spark.local.dir", s"${args.work}/spark-local")
    if (args.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (args.trace) Some(new OpListener) else None
    val progress = if (args.trace) Some(new ProgressLog) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    progress.foreach(spark.streams.addListener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val h = new Harness(spark, args, listener, progress)
    val out = wl.run(h)
    drainListenerBus(spark.sparkContext)

    val reads = h.ops.filter(_.kind == "read").map(_.seconds).toSeq
    val writes = h.ops.filter(_.kind == "write").map(_.seconds).toSeq
    val busyS = h.busyNs / 1e9
    val setupS = sessionS + Stats.median(out.setupRepsS)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> h.ops.length / busyS,
      "rows_per_s" -> h.ops.map(_.rows).sum / busyS,
      "write_p50_s" -> Stats.median(writes),
      "write_tail_s" -> Stats.percentile(writes, wl.writeTail),
      "read_p50_s" -> Stats.median(reads),
      "read_tail_s" -> Stats.percentile(reads, wl.readTail),
      "peak_rss_mb" -> out.peakRssBytes / 1048576.0,
      "disk_bytes_per_row" -> out.diskBytes.toDouble / math.max(1L, out.liveRows))

    val failedFrac = h.failed.toDouble / math.max(1, h.attempted)
    val layer: Map[String, Double] = if (!args.trace) Map.empty else {
      val spans = h.tracer.spans
      val self = Trace.meanSelfSeconds(spans)
      val tracedWrites = h.ops.filter(o => o.traced && o.kind == "write")
      Metrics.perLayer.map(_._1).map(_ -> 0.0).toMap ++
        Metrics.spans.flatMap(s => self.get(s).map(v => s"${s}_s" -> v)) ++
        Metrics.counters(h.ops.toSeq, id => listener.get.counts(id)) ++
        out.layer ++ Map(
          "fs.written_per_user_byte" -> tracedWrites.map(_.fs.bytesWritten).sum.toDouble /
            math.max(1L, tracedWrites.map(_.userBytes).sum),
          "jvm.heap_peak_mb" -> h.heapPeakBytes / 1048576.0,
          "jvm.gc_s" -> h.ops.map(_.gcMs).sum / 1000.0,
          "failed_frac" -> failedFrac,
          "trace.overhead_frac" -> Metrics.traceOverhead(h.ops.toSeq))
    }

    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val reported = if (args.trace) layer else e2e
    val result = mapper.createObjectNode()
      .put("correct", h.failed == 0).put("attempted", h.attempted).put("failed", h.failed)
    val metrics = result.putObject("metrics")
    reported.toSeq.sortBy(_._1).foreach { case (k, v) =>
      metrics.putObject(k).put("value", v).put("unit", units(k))
    }

    val tag = s"${wl.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.createDirectories(Paths.get(args.traceOut))
    val summary = mapper.createObjectNode()
      .put("workload", wl.name).put("seed", args.seed).put("seconds", args.seconds)
      .put("trace", args.trace)
    summary.set[ObjectNode]("end_to_end", numbers(e2e))
    summary.set[ObjectNode]("per_layer", numbers(layer))
    summary.putObject("read_tail").put("percentile", wl.readTail).put("samples", reads.length)
      .put("beyond", Stats.samplesBeyond(reads.length, wl.readTail))
    summary.putObject("write_tail").put("percentile", wl.writeTail).put("samples", writes.length)
      .put("beyond", Stats.samplesBeyond(writes.length, wl.writeTail))
    summary.put("session_s", sessionS)
    val repsArr = summary.putArray("setup_reps_s")
    out.setupRepsS.foreach(repsArr.add(_))
    summary.put("busy_s", busyS).put("phase_wall_s", h.phaseWallS)
      .put("jvm_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val opsByName = summary.putArray("ops")
    h.ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      opsByName.addObject().put("name", n).put("count", os.length)
        .put("median_s", Stats.median(os.map(_.seconds).toSeq))
    }
    summary.put("attempted", h.attempted).put("failed", h.failed)
    val readArr = summary.putArray("read_s")
    reads.foreach(readArr.add(_))
    val writeArr = summary.putArray("write_s")
    writes.foreach(writeArr.add(_))
    Files.writeString(Paths.get(args.traceOut, s"$tag.json"), mapper.writeValueAsString(summary) + "\n")
    if (args.trace)
      Files.writeString(Paths.get(args.traceOut, s"$tag.spans.jsonl"),
        h.tracer.spans.map(Trace.toJsonLine).mkString("", "\n", "\n"))

    println(s"PERFBENCH_RESULT ${mapper.writeValueAsString(result)}")
    System.out.flush()
    System.err.flush()
    // Everything this run wrote lives under --work, which the runner
    // deletes; skipping Spark's orderly shutdown saves seconds per run.
    Runtime.getRuntime.halt(0)
  }

  private val mapper = new ObjectMapper()

  private def numbers(kvs: Map[String, Double]): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    o
  }

  /** Wait until every queued listener event has been delivered, so the
    * counters are complete. The bus and its wait are `private[spark]`
    * at the Scala level only, so reflection reaches them.
    */
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
