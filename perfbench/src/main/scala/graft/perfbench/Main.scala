package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.io.Source

import graft.GraftSession

/** One benchmark run in one JVM: session, set-up, a warm-up cycle, then
  * every timed cycle of the plan. Writes every measured op, the set-up
  * timings, byte accounting, check material and (when traced) the
  * per-layer figures to `--out` as JSON.
  *
  * Usage: Main --plan plan.json --work DIR --out result.json --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val plan = Out.mapper.readTree(new File(o("plan")))
    val work = new File(o("work"))
    val traced = o("trace") == "1"

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.get()
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble
    val trace = new Trace(spark, traced)
    val run = new Run(spark, trace)
    val wl: Workload = plan.get("workload").asText match {
      case "analytics" => new Analytics(run, plan)
      case "retrieval" => new RetrievalWl(run, plan)
    }
    log(f"session ${sessionMs}%.0f ms")
    val s0 = System.nanoTime()
    wl.setup(work)
    val setupMs = (System.nanoTime() - s0) / 1e6
    log(f"set-up: $setupMs%.0f ms")
    val w0 = System.nanoTime()
    wl.cycle(0)
    val warmMs = (System.nanoTime() - w0) / 1e6
    log(f"warm-up cycle: $warmMs%.0f ms")

    run.startTiming(wl.roots)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def count(k: String) = run.ops.count(_.kind == k)
    for (c <- 1 to wl.cycles) {
      run.cycle = c
      wl.cycle(c)
      log(f"cycle $c: ${elapsed}%.1f s, ${count("r")} reads, ${count("w")} writes")
    }
    val wallS = elapsed
    val (storedFiles, storedBytes) = Ledger.stored(wl.roots)
    val layers = if (traced) Layers.of(run, wl, sessionMs) else Map.empty[String, Double]
    val checks = wl.checks()
    val out = Map(
      "setup_s" -> setupS,
      "session_ms" -> sessionMs,
      "setup_ms" -> setupMs,
      "warmup_ms" -> warmMs,
      "wall_s" -> wallS,
      "cycles_run" -> wl.cycles,
      "stored_files" -> storedFiles,
      "stored_bytes" -> storedBytes,
      "setup_input_bytes" -> wl.setupInputBytes,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> run.ops.map(r => Map("id" -> r.id, "k" -> r.kind, "n" -> r.name,
        "c" -> r.cycle, "ms" -> r.ms, "in" -> r.inBytes, "files" -> r.files,
        "bytes" -> r.bytes)),
      "layers" -> layers,
      "self_ms" -> (if (traced) trace.selfTimes else Map.empty),
      "checks" -> checks)
    Out.write(new File(o("out")), out)
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The per-layer figures of a traced run (see the README's layer map). */
object Layers {
  def of(run: Run, wl: Workload, sessionMs: Double): Map[String, Double] = {
    val t = run.trace
    val ops = run.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    def total(key: String, sel: OpRec => Boolean = _ => true): Double =
      ops.filter(sel).map(o => t.opCounters(o.id).getOrElse(key, 0.0)).sum
    def perOp(key: String) = total(key) / n
    def span(name: String) = t.spanStats(name)._1
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val reads = (o: OpRec) => o.kind == "r"
    val writes = ops.filter(_.kind == "w")
    val rewrites = writes.filter(o => Set("upsert_edits", "withdraw_docket")(o.name))
    val retrievalWrites = writes.filter(o => o.name.contains("append") || o.name.endsWith("compact"))
    val retrievalReads = (o: OpRec) => o.kind == "r" && o.name.endsWith("_probe")
    val streamOps = ops.count(o => t.opCounters(o.id).contains("streaming.batch_ms"))
    val spark = Seq("spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
      "spark.task_busy_ms", "spark.scheduler_delay_ms", "spark.shuffle_write_bytes",
      "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.scan_files",
      "spark.scan_bytes", "spark.scan_records", "spark.result_bytes")
      .map(k => k -> perOp(k)).toMap
    def setupMedian(name: String) = {
      val s = t.setupSpans(name)
      if (s.isEmpty) 0.0 else Stats.median(s)
    }
    spark ++ Map(
      "queries.build_ms" -> span("queries.build"),
      "jvm.gc_ms" -> ops.map(_.gcMs).sum / n,
      "sources.discover_ms" -> span("sources.discover"),
      "sources.files_listed" -> ratio(total("sources.files_listed"), t.spanStats("sources.discover")._2),
      "sources.read_flatten_ms" -> span("sources.read_flatten"),
      "streaming.batches" -> ratio(total("streaming.batches"), streamOps),
      "streaming.batch_ms" -> ratio(total("streaming.batch_ms"), total("streaming.batches")),
      "maintain.append_ms" -> span("maintain.append"),
      "maintain.upsert_ms" -> span("maintain.upsert"),
      "maintain.delete_ms" -> span("maintain.delete"),
      "maintain.compact_ms" -> setupMedian("maintain.compact"),
      "maintain.expire_ms" -> setupMedian("maintain.expire"),
      "maintain.files_written" -> ratio(writes.map(_.files).sum, writes.size),
      "maintain.bytes_written" -> ratio(writes.map(_.bytes).sum, writes.size),
      "maintain.bytes_rewritten" -> ratio(rewrites.map(_.bytes).sum, rewrites.size),
      "maintain.change_feed_ms" -> setupMedian("maintain.change_feed"),
      "maintain.time_travel_ms" -> span("maintain.time_travel"),
      "plans.files_scanned" -> ratio(total("plans.files_scanned"), total("plans.pruned_reads")),
      "plans.files_pruned" -> ratio(total("plans.files_pruned"), total("plans.pruned_reads")),
      "plans.rows_scanned_per_row_returned" ->
        ratio(total("spark.scan_records", reads), total("rows_returned", reads)),
      "llm.bm25_probe_ms" -> span("llm.bm25_probe"),
      "llm.ann_probe_ms" -> span("llm.ann_probe"),
      "llm.rows_scanned_per_result" -> ratio(total("spark.scan_records", retrievalReads),
        total("rows_returned", retrievalReads)),
      "llm.bm25_append_ms" -> span("llm.bm25_append"),
      "llm.ann_append_ms" -> span("llm.ann_append"),
      "llm.compact_ms" -> setupMedian("llm.compact"),
      "llm.index_bytes_written" -> ratio(retrievalWrites.map(_.bytes).sum, retrievalWrites.size),
      "functions.pq_encode_ms" -> t.spanStats("functions.pq_encode")._1,
      "session.start_ms" -> sessionMs,
      "session.cache_ms" -> setupMedian("session.cache"),
      "llm.index_build_ms" -> setupMedian("llm.index_build")
    ) ++ wl.endLayers()
  }
}

/** Writes the DuckDB oracle SQL of the analytics workload's registered
  * queries, as a JSON object, to the file named by the one argument. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Out.write(new File(args(0)), Analytics.queries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
}
