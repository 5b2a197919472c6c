package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Run {
  /** Log every op's latency to stderr (PERFBENCH_VERBOSE=1). */
  val verbose: Boolean = sys.env.get("PERFBENCH_VERBOSE").contains("1")
}

/** One op as measured: kind `r` (read) or `w` (write). */
final case class OpRec(id: Int, kind: String, name: String, cycle: Int,
    ms: Double, inBytes: Long, files: Int, bytes: Long, gcMs: Long)

/** Closed-loop op runner: one client thread, no think time. Only the
  * op body is timed; byte accounting, trace bookkeeping and result
  * checks run between ops. Ops of the set-up and warm-up phases run
  * the same code but are not recorded. */
final class Run(val spark: SparkSession, val trace: Trace) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var ledger: Option[Ledger] = None
  var cycle = 0

  def startTiming(roots: Seq[File]): Unit = {
    trace.settle()
    trace.currentOp = trace.Between
    ledger = Some(new Ledger(roots))
  }

  def timing: Boolean = ledger.isDefined

  def read[T](name: String)(body: => T): T = op("r", name, 0L)(body)

  def write[T](name: String, inBytes: Long)(body: => T): T = op("w", name, inBytes)(body)

  private def op[T](kind: String, name: String, inBytes: Long)(body: => T): T = {
    val id = if (timing) ops.size else -1
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
    trace.currentOp = id
    val gc0 = if (trace.enabled) trace.gcMs else 0L
    val t0 = System.nanoTime()
    val out = try trace.span(s"op.$name")(body) finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    if (Run.verbose) Main.log(f"$kind $name%-22s $ms%9.1f ms")
    trace.settle()
    val gc = if (trace.enabled) trace.gcMs - gc0 else 0L
    trace.currentOp = if (timing) trace.Between else -1
    ledger.foreach { l =>
      val (n, b) = l.created()
      ops += OpRec(id, kind, name, cycle, ms, inBytes, n, b, gc)
    }
    out
  }
}
