package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.llm.{Quantize, Retrieval}
import graft.maintain.Snapshots
import graft.sources.{Flatten, JsonApi}
import graft.streaming.Incremental

/** A workload: a set-up into a fresh directory, and seeded cycles of
  * reads and writes. Cycle 0 is the warm-up. */
trait Workload {
  def setup(dir: File): Unit
  def cycle(c: Int): Unit
  def cycles: Int
  /** Directories whose bytes count as written and stored. */
  def roots: Seq[File]
  /** Input bytes the tables held before the timed phase. */
  def setupInputBytes: Long
  /** After the timed phase: material for the checks, as JSON-ready maps. */
  def checks(): Map[String, Any]
  /** Layer metrics read once at the end (live files, versions, ...). */
  def endLayers(): Map[String, Double] = Map.empty
}

object Workload {
  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(r => r.toSeq.map(Out.value))

  /** The `convert --snapshot` sequence for one staged docket tree:
    * discover → read → flatten → anti-join on id → commitAppend with
    * the default stats columns (create on first use). */
  def convertSnapshot(run: Run, root: String, out: File): Unit = {
    val spark = run.spark
    val t = run.trace
    val found = t.span("sources.discover")(JsonApi.discover(spark, root))
    t.add(run.trace.currentOp, "sources.files_listed", found.size.toDouble)
    found.map(_.kind).distinct.foreach { kind =>
      val dirs = found.filter(_.kind == kind).map(_.dir)
      val (table, mk): (String, DataFrame => DataFrame) = kind match {
        case "comments" => ("comments", Flatten.comments)
        case "documents" => ("documents", Flatten.documents)
        case "docket" => ("docket_info", Flatten.docketInfo)
      }
      val path = new File(out, table).getPath
      val raw = JsonApi.readRaw(spark, dirs)
      val statsCols = Seq("agency", "postedDate", "modifyDate")
        .filter(mk(raw).columns.contains)
      if (!Snapshots.exists(spark, path))
        t.span("maintain.append")(Snapshots.create(mk(raw), path, statsCols = statsCols))
      else {
        val delta = t.span("sources.read_flatten") {
          val ids = Snapshots.read(spark, path).select("id")
          val d = mk(raw).join(ids, Seq("id"), "left_anti").persist()
          d.count()
          d
        }
        try t.span("maintain.append")(
          Snapshots.commitAppend(delta, path, statsCols = statsCols))
        finally delta.unpersist()
      }
    }
  }
}

// ------------------------------------------------------------------ analytics

object Analytics {
  /** Registered reference-analytics queries, one per family (a, f, o,
    * p, j, u, e, sq): read-only, each with a DuckDB oracle, none writing
    * tables of its own, none reading `lineitem` (caching it alone costs
    * more set-up than the run budget allows). */
  val queries: Seq[String] = Seq(
    "a3_filtered_count", "f10_coalesce", "o1_topk_order", "p4_filter_eq",
    "j4_anti_join", "u1_union_drift", "e2_posexplode", "sq1_exists_subquery")
  /** The base tables those queries read, cached in set-up. */
  val tables: Seq[String] = Seq("orders", "customer", "events", "documents")
  val keepVersions = 16
}

/** Registered analytics queries over the cached base tables, between
  * the writes of a docket corpus kept as a snapshot table: ingest of new
  * dockets, upserted edits, a withdrawn docket, compaction and expiry,
  * plus the snapshot reads (pruned agency window, change feed, time
  * travel). */
final class Analytics(run: Run, plan: JsonNode) extends Workload {
  private val spark = run.spark
  private val t = run.trace
  private val base = plan.get("base").asText
  private val qs = Analytics.queries.map(n => n -> SparkEntry.queries(n))
  private val cyc = plan.get("cycles").elements().asScala.toSeq
  private var dir: File = _
  private def comments = new File(dir, "comments").getPath
  private val headAtCycleEnd = mutable.Map.empty[Int, Long]
  private val results = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
  private val last = mutable.Map.empty[String, Any]
  private var lastCycle = 0
  val cycles: Int = cyc.size - 1

  def roots: Seq[File] = Seq(new File(dir, "comments"), new File(dir, "docket_info"))
  def setupInputBytes: Long = plan.get("init").get("bytes").asLong

  def setup(d: File): Unit = {
    dir = d
    t.span("session.cache") {
      val t0 = System.nanoTime()
      Analytics.tables.foreach(n => Tables.load(spark, base, n).cache().count())
      Main.log(f"base tables cached in ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    Workload.convertSnapshot(run, plan.get("init").get("root").asText, dir)
    headAtCycleEnd(-1) = head
  }

  private def head: Long = Snapshots.versions(spark, comments).last

  private def collectRows(df: DataFrame): Seq[Seq[Any]] = Workload.rowsOf(t.collect(df))

  /** The query's full result; the base tables never change, so every
    * timed cycle must return the rows the oracle gives. */
  private def query(name: String, q: (org.apache.spark.sql.SparkSession, String) => DataFrame): Unit = {
    val rows = run.read(name)(t.collect(t.span("queries.build")(q(spark, base))))
    if (run.timing) results(s"$name@${run.cycle}") = Workload.rowsOf(rows)
  }

  /** Trace-only plan counts for a pruned read: files kept vs in the version. */
  private def pruneCounts(df: DataFrame, v: Long): Unit =
    if (t.enabled) {
      val all = Snapshots.readVersion(spark, comments, v).inputFiles.length
      val kept = df.inputFiles.length
      t.add(t.currentOp, "plans.files_scanned", kept.toDouble)
      t.add(t.currentOp, "plans.files_pruned", (all - kept).toDouble)
      t.add(t.currentOp, "plans.pruned_reads", 1)
    }

  def cycle(c: Int): Unit = {
    val ops = cyc(c)
    val startV = head
    val groups = qs.grouped(3).toSeq
    groups(0).foreach { case (n, q) => query(n, q) }
    val ing = ops.get("ingest")
    run.write("ingest_dockets", ing.get("bytes").asLong)(
      Workload.convertSnapshot(run, ing.get("root").asText, dir))
    val ingestedV = head
    val edits = ops.get("edits").elements().asScala.toSeq
    def upsert(e: JsonNode): Unit = run.write("upsert_edits", e.get("bytes").asLong) {
      val upd = Flatten.comments(JsonApi.readRaw(spark, Seq(e.get("dir").asText)))
      t.span("maintain.upsert")(Snapshots.commitUpsert(upd, comments, Seq("id"),
        "receiveDate", "comment"))
    }
    upsert(edits(0))
    groups(1).foreach { case (n, q) => query(n, q) }
    upsert(edits(1))
    val r = ops.get("reads")
    last("agency_window") = run.read("agency_window") {
      val v = head
      val df = Snapshots.readVersionWhereStr(spark, comments, v, "agency",
        r.get("agency").asText, r.get("agency").asText)
        .filter(col("agency") === r.get("agency").asText &&
          col("postedDate") >= to_timestamp(lit(r.get("from").asText)) &&
          col("postedDate") < to_timestamp(lit(r.get("to").asText)))
        .select("id").orderBy("id")
      val rows = collectRows(df)
      pruneCounts(df, v)
      rows
    }
    groups(2).foreach { case (n, q) => query(n, q) }
    run.write("withdraw_docket", 0L) {
      val d = ops.get("withdraw").get("docket").asText
      t.span("maintain.delete")(Snapshots.commitDeleteWhereStr(spark, comments, "docketId", d, d))
    }
    val earlier = headAtCycleEnd.getOrElse(c - 2, headAtCycleEnd(c - 1))
    last("time_travel") = run.read("time_travel") {
      t.span("maintain.time_travel")(collectRows(Snapshots.readVersion(spark, comments, earlier)
        .select("id", "comment")))
    }
    last("time_travel_cycle") = headAtCycleEnd.toSeq.filter(_._2 == earlier).map(_._1).max
    // the change feed (over the ingest commit), compaction and expiry
    // run in the warm-up cycle only
    if (c == 0) {
      last("change_feed") = run.read("change_feed") {
        t.span("maintain.change_feed")(collectRows(Snapshots.readChangeFeed(spark, comments,
          startV, ingestedV, Seq("id")).select("id", Snapshots.ChangeTypeCol)))
      }
      run.write("compact", 0L)(t.span("maintain.compact")(Snapshots.compact(spark, comments)))
      run.write("expire", 0L)(t.span("maintain.expire")(
        Snapshots.expire(spark, comments, keepLast = Analytics.keepVersions)))
    }
    headAtCycleEnd(c) = head
    lastCycle = c
  }

  def checks(): Map[String, Any] = Map(
    "results" -> results.toMap,
    "oracle_sql" -> Analytics.queries.map(n => n -> SparkEntry.oracleSql(n)).toMap,
    "last_cycle" -> lastCycle,
    "head" -> Workload.rowsOf(Snapshots.read(spark, comments)
      .select(col("id"), col("docketId"), col("agency"), col("comment"),
        col("attachment_count"), date_format(col("receiveDate"), "yyyy-MM-dd HH:mm:ss"))
      .collect()),
    "docket_info" -> Workload.rowsOf(Snapshots.read(spark, new File(dir, "docket_info").getPath)
      .select("id", "agencyId", "docketType", "agency").collect()),
    "reads" -> last.toMap)

  override def endLayers(): Map[String, Double] = {
    val files = Snapshots.read(spark, comments).inputFiles.toSeq
    Map(
      "maintain.live_files" -> files.size.toDouble,
      "maintain.live_bytes" -> files.map(f => new File(new java.net.URI(f)).length()).sum.toDouble,
      "maintain.versions" -> Snapshots.versions(spark, comments).size.toDouble)
  }
}

// ------------------------------------------------------------------ retrieval

object RetrievalWl {
  val topK = 10
}

/** Appends to and probes of two persisted indexes over a seeded corpus:
  * BM25 (grown through its streaming arm) and IVF-PQ. */
final class RetrievalWl(run: Run, plan: JsonNode) extends Workload {
  private val spark = run.spark
  private val t = run.trace
  private val cyc = plan.get("cycles").elements().asScala.toSeq
  private var dir: File = _
  private def p(n: String) = new File(dir, n).getPath
  private val probes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var setupBytes = 0L
  val cycles: Int = cyc.size - 1

  def roots: Seq[File] = Seq("bm25", "ann").map(new File(dir, _))
  def setupInputBytes: Long = setupBytes

  def setup(d: File): Unit = {
    dir = d
    val corpus = spark.read.parquet(plan.get("corpus").asText)
    val vecs = spark.read.parquet(plan.get("vectors").asText)
    t.span("llm.index_build") {
      Retrieval.writeBm25Index(corpus, p("bm25"))
      Quantize.writePqIndex(vecs, p("ann"))
    }
    setupBytes = new File(plan.get("corpus").asText).length() +
      new File(plan.get("vectors").asText).length()
  }

  private def keep(c: Int, kind: String, args: Any, rows: Array[Row]): Unit =
    if (run.timing) probes += Map("cycle" -> c, "kind" -> kind, "args" -> args,
      "rows" -> Workload.rowsOf(rows))

  def cycle(c: Int): Unit = {
    val ops = cyc(c)
    val docs = spark.read.parquet(ops.get("docs").get("path").asText)
    // the BM25 index grows through its streaming arm
    val streamDir = new File(dir, s"bm25_src/c$c")
    docs.write.parquet(streamDir.getPath)
    run.write("bm25_append_stream", ops.get("docs").get("bytes").asLong) {
      t.span("llm.bm25_append") {
        val q = Incremental.bm25IndexAppendStream(
          spark.readStream.schema(docs.schema).parquet(streamDir.getPath),
          p("bm25"), new File(dir, s"bm25_ck/c$c").getPath)
        q.awaitTermination()
        val ps = q.recentProgress
        t.add(t.currentOp, "streaming.batches", ps.count(_.numInputRows > 0).toDouble)
        t.add(t.currentOp, "streaming.batch_ms",
          ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)).sum)
      }
    }
    ops.get("bm25").elements().asScala.map(Workload.strs).foreach { terms =>
      keep(c, "bm25", terms, run.read("bm25_probe")(t.span("llm.bm25_probe")(
        t.collect(Retrieval.bm25TopKIndexed(spark, p("bm25"), terms, k = RetrievalWl.topK)))))
    }
    ops.get("vecs").elements().asScala.foreach { v =>
      val vecs = spark.read.parquet(v.get("path").asText)
      run.write("ann_append", v.get("bytes").asLong)(
        t.span("llm.ann_append")(Quantize.appendToPqIndex(vecs, p("ann"))))
      if (t.enabled) t.span("functions.pq_encode")(Quantize.pqCodes(vecs).collect())
    }
    ops.get("ann").elements().asScala.foreach { qn =>
      val qv = qn.elements().asScala.map(_.asDouble).toArray
      keep(c, "ann", qv.toSeq, run.read("ann_probe")(t.span("llm.ann_probe")(
        t.collect(Quantize.ivfPqTopKIndexed(spark, p("ann"), qv, topK = RetrievalWl.topK)))))
    }
    // each index is compacted once, at the end of the warm-up cycle
    if (c == 0) {
      run.write("bm25_compact", 0L)(t.span("llm.compact")(Retrieval.compactBm25Index(spark, p("bm25"))))
      run.write("ann_compact", 0L)(t.span("llm.compact")(Quantize.compactPqIndex(spark, p("ann"))))
    }
  }

  def checks(): Map[String, Any] = Map("probes" -> probes.toSeq)

  override def endLayers(): Map[String, Double] = {
    val (n, b) = Ledger.stored(roots)
    Map("llm.index_files" -> n.toDouble, "llm.index_bytes" -> b.toDouble)
  }
}
