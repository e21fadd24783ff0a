package perfbench

import java.util.Properties

import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalatest.funsuite.AnyFunSuite

class CountersSpec extends AnyFunSuite {

  test("Spark counters add up, except peak memory which takes the max") {
    val a = SparkCounts(jobs = 1, tasks = 4, taskNs = 10, shuffleBytes = 5, peakExecMem = 100)
    val b = SparkCounts(jobs = 2, tasks = 1, taskNs = 5, spillBytes = 3, peakExecMem = 40)
    assert(a + b == SparkCounts(jobs = 3, tasks = 5, taskNs = 15, shuffleBytes = 5,
      spillBytes = 3, peakExecMem = 100))
  }

  test("file-system counters diff around a call") {
    val before = FsCounts(readOps = 10, listOps = 3, writeOps = 1, bytesRead = 100, bytesWritten = 7)
    val after = FsCounts(readOps = 15, listOps = 3, writeOps = 4, bytesRead = 160, bytesWritten = 7)
    assert(after - before == FsCounts(readOps = 5, writeOps = 3, bytesRead = 60))
    assert(before + (after - before) == after)
  }

  test("jobs are attributed to the op property, then the stream's op, then op 0") {
    val l = new OpListener
    def props(kv: (String, String)*) = { val p = new Properties; kv.foreach { case (k, v) => p.setProperty(k, v) }; p }
    l.onJobStart(SparkListenerJobStart(1, 0L, Nil, props(OpListener.OpProperty -> "5")))
    l.streamOp = 9
    l.onJobStart(SparkListenerJobStart(2, 0L, Nil, props(OpListener.BatchIdProperty -> "3")))
    l.onJobStart(SparkListenerJobStart(3, 0L, Nil, props(OpListener.OpProperty -> "5",
      OpListener.BatchIdProperty -> "3")))
    l.onJobStart(SparkListenerJobStart(4, 0L, Nil, null))
    assert(l.counts(5).jobs == 2)
    assert(l.counts(9).jobs == 1)
    assert(l.counts(0).jobs == 1)
  }

  private def op(id: Int, kind: String, name: String, s: Double, traced: Boolean,
                 fs: FsCounts = FsCounts()) =
    OpRec(id, kind, name, s, traced, rows = 0, userBytes = 0, fs = fs, gcMs = 0)

  test("per-op counter means cover traced ops of each kind only") {
    val ops = Seq(op(1, "read", "r", 0.1, traced = true, FsCounts(readOps = 4, listOps = 2)),
      op(2, "read", "r", 0.1, traced = false, FsCounts(readOps = 100)),
      op(3, "read", "r", 0.1, traced = true, FsCounts(readOps = 2)),
      op(4, "write", "w", 1.0, traced = true, FsCounts(writeOps = 6)))
    val spark = Map(1 -> SparkCounts(jobs = 2, peakExecMem = 1048576L),
      3 -> SparkCounts(jobs = 4, peakExecMem = 2 * 1048576L), 4 -> SparkCounts(jobs = 10))
    val m = Metrics.counters(ops, id => spark.getOrElse(id, SparkCounts()))
    assert(m("spark.jobs.read") == 3.0)
    assert(m("spark.peak_exec_mem_mb.read") == 2.0)
    assert(m("spark.jobs.write") == 10.0)
    assert(m("fs.read_ops.read") == 3.0)
    assert(m("fs.list_ops.read") == 1.0)
    assert(m("fs.write_ops.write") == 6.0)
  }

  test("tracing overhead compares traced and untraced medians per op name") {
    val ops = Seq(op(1, "read", "a", 1.1, traced = true), op(2, "read", "a", 1.0, traced = false),
      op(3, "read", "b", 2.2, traced = true), op(4, "read", "b", 2.0, traced = false),
      op(5, "write", "c", 9.0, traced = true))
    assert(math.abs(Metrics.traceOverhead(ops) - 0.1) < 1e-12)
  }
}
