package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.StorageLevel

import graft.{Bench, GraftSession, SparkEntry, Tables}

/** Per-query runtime record for registered queries: the one probe
  * main. The session takes the bench's posture and cached fixture
  * tables ([[Bench.applyPosture]], [[Bench.cacheTables]]), then the
  * conf overrides. Each query runs once cold and REPS times warm, each
  * run in its own job group, and prints one JSON line:
  * `dir`, `query`, `overrides`, `cold_s`, `warm_s` (every warm
  * sample), and for the warm runs (median over them) the `jobs`,
  * `stages` that ran, `tasks`, `task_ms_max` and `task_ms_p50` (task
  * wall time), `shuffle_read_bytes`, `shuffle_write_bytes`,
  * `spill_bytes`, and the `exchanges` in the final executed plan.
  * Larger tiers are fixture dirs: `EnsureFixture` writes the x10/x100
  * copies. Plans are `PlanDump`'s job.
  *
  * Run: `sbt "runMain graft.tools.Probe DIR QUERY[,QUERY…] [REPS]
  * [spark.key=value …]"` (REPS defaults to 3). */
object Probe {

  private final class Acc {
    var jobs, stages, shuffleRead, shuffleWrite, spill = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }

  private def median(xs: Seq[Long]): Long =
    if (xs.isEmpty) 0L else xs.sorted.apply((xs.size - 1) / 2)

  /** Every node of an executed plan, through AQE's final plan, query
    * stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Runs the probe on `spark` and returns its JSON lines. Every conf
    * it sets is put back and every table it cached is released, so the
    * session is left as it was found; it is not stopped. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.length >= 2,
      "usage: Probe DIR QUERY[,QUERY...] [REPS] [spark.key=value ...]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = SparkEntry.queries
    names.foreach(n => require(queries.contains(n), s"unknown query: $n"))
    val (reps, confArgs) = args.drop(2) match {
      case r +: rest if r.toIntOption.isDefined => (r.toInt, rest)
      case rest => (3, rest)
    }
    require(reps >= 1, s"REPS must be ≥ 1: $reps")
    val overrides = confArgs.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"malformed override (want key=value): $a")
      a.take(i) -> a.drop(i + 1)
    }

    val sc = spark.sparkContext
    val byGroup = new ConcurrentHashMap[String, Acc]()
    val stageGroup = new ConcurrentHashMap[Int, String]()
    def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            e.stageIds.foreach(stageGroup.put(_, g))
            val a = acc(g); a.synchronized(a.jobs += 1)
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
          val a = acc(g); a.synchronized(a.stages += 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageGroup.get(e.stageId)).foreach { g =>
          val a = acc(g)
          val m = e.taskMetrics
          a.synchronized {
            a.taskMs += e.taskInfo.duration
            if (m != null) {
              a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
    }
    var fences = 0
    // A one-task job in a fresh group, awaited on the listener: the bus
    // delivers events in order, so every earlier run's events are in.
    def settle(): Unit = {
      fences += 1
      val g = s"graft-probe-fence-$fences"
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!byGroup.containsKey(g) && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    var runs = 0
    // one run of `name` in its own job group: (seconds, its counts)
    def once(name: String): (Double, Seq[(String, Long)]) = {
      runs += 1
      val g = s"graft-probe-$runs-$name"
      sc.setJobGroup(g, g, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val counted = try {
        val c = queries(name)(spark, dir).groupBy().count()
        c.collect()
        c
      } finally sc.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      val a = acc(g)
      val exchanges = nodes(counted.queryExecution.executedPlan)
        .count(_.isInstanceOf[Exchange])
      a.synchronized {
        (sec, Seq("jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.taskMs.size.toLong,
          "task_ms_max" -> a.taskMs.maxOption.getOrElse(0L),
          "task_ms_p50" -> median(a.taskMs.toSeq),
          "shuffle_read_bytes" -> a.shuffleRead,
          "shuffle_write_bytes" -> a.shuffleWrite,
          "spill_bytes" -> a.spill, "exchanges" -> exchanges.toLong))
      }
    }

    val prior = (Bench.posture().map(_._1) ++ overrides.map(_._1)).distinct
      .map(k => k -> spark.conf.getOption(k))
    val tables = Tables.names.map(Tables.load(spark, dir, _))
      .filter(_.storageLevel == StorageLevel.NONE)
    sc.addSparkListener(listener)
    try {
      Bench.applyPosture(spark)
      Bench.cacheTables(spark, dir)
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      names.map { name =>
        val cold = once(name)._1
        val warm = (1 to reps).map(_ => once(name))
        val counts = warm.map(_._2)
        val medians = counts.head.indices.map(i =>
          counts.head(i)._1 -> median(counts.map(_(i)._2)))
        def q(s: String) = "\"" + Bench.jstr(s) + "\""
        (Seq("dir" -> q(dir), "query" -> q(name),
          "overrides" -> overrides.map { case (k, v) => s"${q(k)}:${q(v)}" }
            .mkString("{", ",", "}"),
          "cold_s" -> f"$cold%.4f",
          "warm_s" -> warm.map(w => f"${w._1}%.4f").mkString("[", ",", "]")) ++
          medians.map { case (k, v) => k -> v.toString })
          .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      }
    } finally {
      sc.removeSparkListener(listener)
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      tables.foreach(_.unpersist())
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    try run(spark, args.toSeq).foreach(println)
    finally spark.stop()
  }
}
