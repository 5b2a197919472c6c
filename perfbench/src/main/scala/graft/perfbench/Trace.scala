package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans around the harness's calls into the
  * program's modules, and Spark's own per-op counts from a
  * `SparkListener` and a `QueryExecutionListener`, keyed by the job
  * group set per op. Everything stays in memory until the run ends.
  * When disabled every method is a pass-through.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile var currentOp: Int = -1

  /** counters per op id (op -1 = set-up and warm-up) */
  private val counters = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  def add(op: Int, key: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
  }

  def opCounters(op: Int): Map[String, Double] =
    Option(counters.get(op)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), currentOp)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Op id between the ops of the timed phase (set-up and warm-up: -1). */
  val Between = -2

  private def timed(sp: Span) = sp.op >= 0 || sp.op == Between

  /** Mean inclusive duration (ms) and call count of spans named `name`,
    * over the timed phase only. */
  def spanStats(name: String): (Double, Int) = {
    val s = spans.filter(sp => sp.name == name && timed(sp))
    if (s.isEmpty) (0.0, 0)
    else (s.map(sp => (sp.endNs - sp.startNs) / 1e6).sum / s.size, s.size)
  }

  /** Self time per span name (ms, summed over timed ops): a span's
    * duration minus its child spans. */
  def selfTimes: Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(sp => if (sp.parent >= 0) child(sp.parent) += sp.endNs - sp.startNs)
    spans.indices.filter(i => timed(spans(i))).groupBy(spans(_).name).map { case (n, ix) =>
      n -> ix.map(i => (spans(i).endNs - spans(i).startNs - child(i)) / 1e6).sum
    }
  }

  /** Set-up spans named `name`: their durations (ms), one per set-up. */
  def setupSpans(name: String): Seq[Double] =
    spans.filter(sp => sp.name == name && sp.op == -1).map(sp => (sp.endNs - sp.startNs) / 1e6).toSeq

  /** Collects the user's result, counting the rows returned. */
  def collect(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = span("spark.collect")(df.collect())
    if (enabled) add(currentOp, "rows_returned", rows.length.toDouble)
    rows
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Waits for the listener bus, so the op's counts are complete. */
  def settle(): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-op-"))
      .map(_.stripPrefix("perfbench-op-").toInt).getOrElse(currentOp)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      e.stageIds.foreach(s => stageOp.put(s, op))
      add(op, "spark.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageOp.getOrDefault(e.stageInfo.stageId, currentOp), "spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, currentOp)
      add(op, "spark.tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add(op, "spark.task_busy_ms", m.executorRunTime.toDouble)
        add(op, "spark.scheduler_delay_ms", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime).toDouble)
        add(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(op, "spark.result_bytes", m.resultSize.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(currentOp, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Planning phases, exchanges and scan counts of one executed query. */
  private def record(op: Int, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach(p =>
      add(op, s"spark.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)))
    val nodes = Trace.nodes(qe.executedPlan)
    add(op, "spark.exchanges", nodes.count(_.isInstanceOf[Exchange]).toDouble)
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    nodes.foreach {
      case s: FileSourceScanExec =>
        add(op, "spark.scan_files", metric(s, "numFiles"))
        add(op, "spark.scan_bytes", metric(s, "filesSize"))
        add(op, "spark.scan_records", metric(s, "numOutputRows"))
      case s: InMemoryTableScanExec =>
        add(op, "spark.scan_records", metric(s, "numOutputRows"))
      case _ =>
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
}

object Trace {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

  /** Every node of an executed plan, through AQE's final plan, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
