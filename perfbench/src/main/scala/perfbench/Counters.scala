package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work attributed to one operation. */
final case class SparkCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                             taskNs: Long = 0, shuffleBytes: Long = 0,
                             spillBytes: Long = 0, gcMs: Long = 0,
                             peakExecMem: Long = 0, recordsRead: Long = 0) {
  /** Sums every counter except peak execution memory, which takes the max. */
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskNs + o.taskNs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, gcMs + o.gcMs,
    math.max(peakExecMem, o.peakExecMem), recordsRead + o.recordsRead)
}

/** Attributes every Spark job to the operation that caused it: jobs
  * the client thread starts carry the op id in a local property (and
  * `graft.Par` copies local properties onto its pool threads); jobs of
  * a streaming micro-batch carry Spark's batch-id property and belong to
  * the write operation that handed the batch off. Everything else is
  * counted under op 0.
  */
final class OpListener extends SparkListener {
  @volatile var streamOp: Int = 0
  private val byOp = mutable.HashMap[Int, SparkCounts]()
  private val stageOp = mutable.HashMap[Int, Int]()

  private def opOf(props: java.util.Properties): Int =
    if (props == null) 0
    else Option(props.getProperty(OpListener.OpProperty)).map(_.toInt)
      .getOrElse(if (props.getProperty(OpListener.BatchIdProperty) != null) streamOp else 0)

  private def add(op: Int, c: SparkCounts): Unit =
    byOp(op) = byOp.getOrElse(op, SparkCounts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    e.stageIds.foreach(s => stageOp(s) = op)
    add(op, SparkCounts(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => add(op, SparkCounts(stages = 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOp.get(e.stageId).foreach { op =>
      add(op, SparkCounts(tasks = 1, taskNs = m.executorRunTime * 1000000L,
        shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime,
        peakExecMem = m.peakExecutionMemory, recordsRead = m.inputMetrics.recordsRead))
    }
  }

  def counts(op: Int): SparkCounts = synchronized(byOp.getOrElse(op, SparkCounts()))
}

object OpListener {
  val OpProperty = "perfbench.op"
  /** The local property Structured Streaming sets on micro-batch jobs. */
  val BatchIdProperty = "streaming.sql.batchId"
}

/** Per-micro-batch durations from Structured Streaming's own progress
  * reports (`StreamingQueryProgress.durationMs`), keyed by batch id.
  */
final class ProgressLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      byBatch.put(e.progress.batchId,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  def durations(batchId: Long): Option[Map[String, Long]] = Option(byBatch.get(batchId))

  /** Mean seconds per batch of the trigger, its `addBatch` (the sink's
    * work), the engine's share (trigger minus addBatch) and the offset
    * log commit, over the given batches.
    */
  def layerMetrics(batchIds: Seq[Long]): Map[String, Double] = {
    val ds = batchIds.flatMap(durations)
    def mean(f: Map[String, Long] => Long) =
      if (ds.isEmpty) 0.0 else ds.map(f).sum / 1000.0 / ds.length
    val trig = (d: Map[String, Long]) => d.getOrElse("triggerExecution", 0L)
    val add = (d: Map[String, Long]) => d.getOrElse("addBatch", 0L)
    Map("streaming.Ingest.trigger_s" -> mean(trig),
      "streaming.Ingest.addBatch_s" -> mean(add),
      "streaming.Ingest.engine_overhead_s" -> mean(d => trig(d) - add(d)),
      "streaming.Ingest.walCommit_s" -> mean(_.getOrElse("walCommit", 0L)))
  }
}

/** Hadoop `FileSystem` statistics summed over every scheme. */
final case class FsCounts(readOps: Long = 0, listOps: Long = 0, writeOps: Long = 0,
                          bytesRead: Long = 0, bytesWritten: Long = 0) {
  def -(o: FsCounts): FsCounts = FsCounts(readOps - o.readOps, listOps - o.listOps,
    writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: FsCounts): FsCounts = FsCounts(readOps + o.readOps, listOps + o.listOps,
    writeOps + o.writeOps, bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}

object FsCounts {
  /** Listings are counted as "large read ops" (see CountingLocalFileSystem). */
  @annotation.nowarn("cat=deprecation")
  def snapshot(): FsCounts =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foldLeft(FsCounts()) { (a, s) =>
      a + FsCounts(s.getReadOps, s.getLargeReadOps, s.getWriteOps,
        s.getBytesRead, s.getBytesWritten)
    }
}

/** JVM-level figures: cumulative GC time, peak heap, peak resident set. */
object Jvm {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Peak resident set size of this process (VmHWM), in bytes. */
  def peakRssBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong * 1024L
    }.getOrElse(0L)
    finally src.close()
  }
}
