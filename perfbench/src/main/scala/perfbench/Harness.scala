package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, traceOut: String)

/** One timed client operation. */
final case class OpRec(id: Int, kind: String, name: String, seconds: Double,
                       traced: Boolean, rows: Long, userBytes: Long,
                       fs: FsCounts, gcMs: Long)

/** What a workload reports besides its operations. */
final case class Outcome(setupRepsS: Seq[Double], diskBytes: Long, liveRows: Long,
                         peakRssBytes: Long, layer: Map[String, Double])

/** The closed-loop client: times each operation, checks its result
  * outside the timed region, and, in a traced run, records spans and
  * counters for every other operation of each name (the rest stay
  * untraced, so the two halves give the tracing overhead).
  */
final class Harness(val spark: SparkSession, val args: Args,
                    val listener: Option[OpListener], val progress: Option[ProgressLog]) {
  val tracer = new Tracer
  val ops = mutable.ArrayBuffer[OpRec]()
  private val failedOps = mutable.LinkedHashSet[Int]()
  private var nextOp = 1
  private val seen = mutable.HashMap[String, Int]()
  var checkFailures = 0
  var busyNs = 0L
  /** Peak heap in use during the timed phase. */
  var heapPeakBytes = 0L
  /** Wall time of the timed phase, check work between operations included. */
  var phaseWallS = 0.0

  def traced: Boolean = args.trace

  def log(msg: String): Unit = System.err.println(s"${java.time.LocalTime.now()} [perfbench] $msg")

  /** Run `timed` as operation `name`, then `check` its result untimed.
    * A throw or a failed check counts the operation as failed.
    */
  def op[T](kind: String, name: String, rows: Long = 0L, userBytes: Long = 0L)
           (timed: => T)(check: T => Boolean): Option[T] = {
    val id = nextOp; nextOp += 1
    val nth = seen.getOrElse(name, 0)
    seen(name) = nth + 1
    val tr = traced && nth % 2 == 0
    val sc = spark.sparkContext
    if (tr) {
      sc.setLocalProperty(OpListener.OpProperty, id.toString)
      listener.foreach(_.streamOp = id)
    }
    tracer.begin(id, tr)
    val fs0 = if (tr) FsCounts.snapshot() else FsCounts()
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"op.$kind.$name")(timed))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val gc1 = Jvm.gcMs()
    val fsd = if (tr) FsCounts.snapshot() - fs0 else FsCounts()
    tracer.end()
    if (tr) {
      sc.setLocalProperty(OpListener.OpProperty, null)
      listener.foreach(_.streamOp = 0)
    }
    busyNs += t1 - t0
    ops += OpRec(id, kind, name, (t1 - t0) / 1e9, tr, rows, userBytes, fsd, gc1 - gc0)
    val ok = res match {
      case Left(e) => log(s"op $id $name threw: $e"); false
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => log(s"op $id $name check threw: $e"); false }
    }
    if (!ok) { failedOps += id; log(s"op $id $name: wrong result") }
    res.toOption
  }

  /** The id of the operation most recently run. */
  def lastOpId: Int = nextOp - 1

  /** A whole-run check (end state, recall floors): a failure makes the
    * run incorrect and counts once in `failed`.
    */
  def checkRun(name: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case NonFatal(e) => log(s"$name threw: $e"); false }
    if (!good) { checkFailures += 1; log(s"run check failed: $name") }
  }

  def attempted: Int = ops.length
  def failed: Int = failedOps.size + checkFailures

  /** Closed loop: run whole cycles until the timed operations have used
    * `args.seconds` and each kind has its minimum sample count, or until
    * three times the budget has passed.
    */
  def runPhase(minReads: Int, minWrites: Int)(cycle: => Unit): Unit = {
    val budgetNs = args.seconds * 1000000000L
    val wall0 = System.nanoTime()
    def count(k: String) = ops.count(_.kind == k)
    Jvm.resetHeapPeak()
    while ((busyNs < budgetNs || count("read") < minReads || count("write") < minWrites) &&
        System.nanoTime() - wall0 < 3 * budgetNs)
      cycle
    heapPeakBytes = Jvm.heapPeakBytes()
    phaseWallS = (System.nanoTime() - wall0) / 1e9
  }

  /** Mark operation `opId` failed by a check made after the phase. */
  def fail(opId: Int): Unit = failedOps += opId

  /** Time `n` set-ups, keeping the last one's result; `discard` releases
    * each earlier one, untimed.
    */
  def setups[T](n: Int, discard: T => Unit = (_: T) => ())(body: Int => T): (Seq[Double], T) = {
    var last: Option[T] = None
    val times = (0 until n).map { i =>
      last.foreach(discard)
      tracer.begin(0, traced)
      val t0 = System.nanoTime()
      last = Some(tracer.span("op.setup")(body(i)))
      tracer.end()
      (System.nanoTime() - t0) / 1e9
    }
    (times, last.get)
  }
}

object Harness {
  /** Delete a directory tree the run no longer needs. Deleting files while
    * they are fresh is much cheaper than at exit on filesystems that
    * discard freed blocks.
    */
  def deleteDir(dir: String): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
