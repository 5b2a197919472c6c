package graft.maintain

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Segmented table layout for the persisted serving indexes (LSH dedup,
  * BM25, IVF-PQ) — the Lucene-segments idea expressed as parquet
  * partition directories.
  *
  * Every APPENDABLE index table is a directory of segments
  * `table/seg=<segId>/…`; the initial build writes segment
  * [[BaseSeg]], and each incremental append writes exactly one new
  * segment. The point is idempotency under at-least-once replay: a
  * streaming micro-batch append (`foreachBatch` replays a batch whose
  * sink work committed but whose checkpoint didn't) re-runs with the
  * SAME deterministic segment id, and [[writeSegment]]'s
  * overwrite-own-directory semantics make the replay converge to the
  * exact same table instead of duplicating rows — the failure mode a
  * plain `mode("append")` sink has under replay (duplicated postings
  * double-count BM25 tf; duplicated codes return duplicate ANN ids).
  *
  * Readers see one logical table through [[read]]: the data schema
  * comes from one data file's footer, read on the driver, so planning
  * a read runs no schema-inference job; Spark's partition discovery
  * exposes the segment id as a string `seg` column, which probes
  * simply never select. Associative statistics (BM25 df/stats, LSH
  * bucket counts) are stored per segment and SUMMED at probe time —
  * exact integer addition, so probe results are bit-identical to a
  * merged table.
  * [[replaceTable]] is the compaction arm: it rewrites a
  * many-segment table as a single canonical [[BaseSeg]] under the
  * crash-safe [[Swap]] rename protocol, restoring the exact layout a
  * fresh build would produce.
  */
object Segments {

  /** The initial build's segment id. */
  val BaseSeg = "base"

  /** Scale-adaptive shard count for a segment write, derived from the
    * optimizer's size estimate of `sized` (exact for cached
    * relations, file-length sums for parquet scans — good to a small
    * constant factor, which file sizing tolerates):
    * `ceil(bytes / spark.graft.index.shardBytes)` clamped to
    * `[1, spark.graft.index.maxShards]`.
    *
    * Replaces the index writers' former constant 32, which was wrong
    * at both ends of the scale: a 10⁵-row corpus segment became 32
    * KB-files (per-file open/list/copy overhead dominating every
    * append and probe), and a 10¹³-row corpus would pack into 32
    * multi-TB shards (no scan parallelism, unsplittable row groups).
    * Defaults target the 128 MB–1 GB output-file band; override per
    * session for a different storage profile. */
  def shardCount(sized: DataFrame): Int = {
    val conf = sized.sparkSession.conf
    val target = conf.get("spark.graft.index.shardBytes",
      (128L * 1024 * 1024).toString).toLong
    val cap = conf.get("spark.graft.index.maxShards", "65536").toInt
    val bytes = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (bytes + target - 1) / target
    n.min(cap).max(1).toInt
  }

  /** Write-task count for an APPEND segment's big tables — the
    * ingest-latency arm of the Lucene-segments trade. [[shardCount]]
    * targets the steady-state read band (128 MB–1 GB files), but an
    * append whose segment fits ONE shard then encodes it in ONE task
    * while every other core idles (measured: the x100 BM25 postings
    * append spent 13.7 s of its 16 s in that single-task sort+write).
    * Appends therefore take
    * `max(shardCount, min(defaultParallelism, ceil(bytes/floor)))`
    * with `floor = spark.graft.index.appendShardBytes` (16 MB
    * default): no more write tasks than cores, no file smaller than
    * the floor (⅛ of the default shard target), and at real scale —
    * where shardCount ≥ cores — exactly [[shardCount]], unchanged.
    * Builds and compaction keep [[shardCount]]: [[replaceTable]] is
    * what restores an append-grown table to the canonical band. */
  def appendWriteTasks(sized: DataFrame): Int = {
    val conf = sized.sparkSession.conf
    val floor = conf.get("spark.graft.index.appendShardBytes",
      (16L * 1024 * 1024).toString).toLong
    val cap = conf.get("spark.graft.index.maxShards", "65536").toInt
    val bytes = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    val p = sized.sparkSession.sparkContext.defaultParallelism
    val byLatency = ((bytes + floor - 1) / floor).min(p).toInt
    math.max(shardCount(sized), byLatency).min(cap).max(1)
  }

  /** A fresh unique segment id for one-off batch appends (callers with
    * a replay story — the streaming arms — pass their batch id
    * instead, which is what makes the replay idempotent). */
  def freshSegId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  private val SegIdPattern = "[A-Za-z0-9_-]+"

  /** Memoized head row of an index's one-row `meta` table, keyed by
    * (qualified dir, listing fingerprint): meta is written LAST
    * with overwrite mode as the index's validity marker and never
    * mutated in place. Returns None when the dir or its `_SUCCESS`
    * marker is absent — the "no valid index" signal every
    * `*IndexExists` check starts from — or when the table is empty
    * (a corrupt meta reads as absent, not as a crash). One FS list
    * replaces the per-probe Spark read+collect job over a 1-row
    * parquet that every indexed probe and existence check paid. */
  private val rowsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[org.apache.spark.sql.Row]]()
  private val RowsMemoCap = 4096

  /** Content fingerprint of a directory's immediate file listing:
    * a hash over every entry's (name, length, mtime). Directory
    * mtimes alone are second-granularity on some local filesystems
    * and synthetic on object stores, so a same-path rewrite landing
    * within the granularity window could serve a stale memo; Spark
    * part-file names embed a fresh per-write UUID, so any rewrite —
    * even one the directory mtime cannot see — changes this key.
    * One listStatus call, the same RPC class as the getFileStatus it
    * replaces. Throws FileNotFoundException when the dir is absent
    * (callers translate that to their "absent" signal). */
  private[maintain] def listingFingerprint(
      fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir).foldLeft(1125899906842597L) { (h, s) =>
      var x = h
      x = x * 31 + s.getPath.getName.hashCode
      x = x * 31 + s.getLen
      x = x * 31 + s.getModificationTime
      x
    }

  /** Collected rows of a small metadata-class table (meta/centroids/
    * codebook, rewritten only wholesale with overwrite mode, or a
    * per-segment stats table), memoized per (qualified dir, listing
    * fingerprint); None when the dir is absent. A miss is one
    * [[read]] and its collect: one Spark job, none for the schema.
    * Callers own the "is this table small" judgment — this is for
    * metadata-class tables bounded by construction. */
  def localRows(spark: SparkSession,
      dir0: String): Option[Seq[org.apache.spark.sql.Row]] = {
    val dir = new Path(dir0)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp =
      try listingFingerprint(fs, dir)
      catch { case _: java.io.FileNotFoundException => return None }
    val key = (fs.makeQualified(dir).toString, fp)
    val hit = rowsMemo.get(key)
    if (hit != null) return Some(hit)
    val rows = read(spark, dir.toString).collect().toSeq
    if (rowsMemo.size >= RowsMemoCap) rowsMemo.clear()
    rowsMemo.put(key, rows)
    Some(rows)
  }

  /** One index table as a DataFrame, planned without a Spark job: the
    * data schema is the one stored in ONE data file's footer, read on
    * the driver ([[Footer.read]] — the row-metadata key schema
    * inference itself reads), and the `seg` column stays
    * partition-discovered, as in an inferred read. Every file of an
    * index table is a Spark write of one derivation, so one footer
    * speaks for all of them. A directory with no data file falls
    * through to the inferred read, and so to Spark's own error. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(table)
    firstDataFile(dir.getFileSystem(conf), dir) match {
      case Some(f) =>
        spark.read.schema(Footer.read(conf, f).schema).parquet(table)
      case None => spark.read.parquet(table)
    }
  }

  /** The first data file under `dir` in name order, descending into
    * partition directories (`seg=<id>`), and skipping the `_`- and
    * `.`-prefixed names Spark's listing skips (`_SUCCESS`, checksums);
    * None when `dir` is absent or holds no data file. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[Path] = {
    val entries =
      try fs.listStatus(dir).toSeq.sortBy(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => return None }
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    entries.find(st => st.isFile && visible(st)).map(_.getPath)
      .orElse(entries.iterator
        .filter(st => st.isDirectory && visible(st) &&
          st.getPath.getName.contains("="))
        .flatMap(st => firstDataFile(fs, st.getPath))
        .nextOption())
  }

  def metaRow(spark: SparkSession,
      indexPath: String): Option[org.apache.spark.sql.Row] = {
    val dir = new Path(s"$indexPath/meta")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ok =
      try fs.exists(new Path(dir, "_SUCCESS"))
      catch { case _: java.io.FileNotFoundException => false }
    if (!ok) None
    else localRows(spark, dir.toString).flatMap(_.headOption)
  }

  /** [[metaRow]] narrowed to the common existence probe: is there a
    * valid meta row whose `format` equals `expected`? */
  def metaFormatIs(spark: SparkSession, indexPath: String,
      expected: Int): Boolean =
    metaRow(spark, indexPath).exists(r =>
      r.schema.fieldNames.contains("format") &&
        r.getAs[Int]("format") == expected)

  /** Invalidate the index at `indexPath` before a rebuild in place:
    * delete its `meta` table, the validity marker [[metaRow]] reads,
    * so a crash mid-rebuild reads as "no index" instead of stale meta
    * over half-rebuilt tables. The rebuild writes meta LAST
    * ([[writeMeta]]). */
  private[graft] def clearMeta(
      spark: SparkSession, indexPath: String): Unit = {
    val metaPath = new Path(s"$indexPath/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath) && !fs.delete(metaPath, true))
      throw new Swap.SwapFailedException(
        s"could not clear stale meta at $metaPath")
  }

  /** Write the index's one-row `meta` table from `fields` — LAST, after
    * every other table: its `_SUCCESS` marker certifies them all. */
  private[graft] def writeMeta(
      spark: SparkSession, indexPath: String, fields: Column*): Unit =
    spark.range(1).select(fields: _*)
      .write.mode("overwrite").parquet(s"$indexPath/meta")

  /** Per-table-path monitors: appends and compactions of the SAME
    * table serialize within this JVM, so a segment written while a
    * compaction is between its canonical read and its swap cannot be
    * renamed into the backup and deleted (same-process exclusion
    * only — cross-process maintenance must be externally scheduled,
    * the standard offline-compaction contract, stated on
    * [[replaceTable]]). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(tablePath: String): Object =
    tableLocks.computeIfAbsent(tablePath, _ => new Object)

  private def bakPath(tablePath: String): Path =
    new Path(tablePath.stripSuffix("/") + "__swap_bak")

  /** Write `df` as segment `segId` of `tablePath` — IDEMPOTENT per
    * (tablePath, segId): the write targets the segment's own directory
    * with overwrite mode, so re-running the identical write replaces
    * the segment instead of appending beside it. An empty `df` still
    * writes a schema-bearing empty file (a freshly-built empty index
    * must read back as an empty table, not a read error).
    *
    * Appends must not target [[BaseSeg]] (that would silently replace
    * the whole initial build — [[writeBase]] is the rebuild). A
    * crashed compaction is HEALED before writing: if the real table
    * sits at `__swap_bak` (crash between the swap renames), writing
    * into a recreated `tablePath` would make the next recover delete
    * the backup — the entire pre-crash table — as stale. */
  def writeSegment(df: DataFrame, tablePath: String, segId: String): Unit =
    lockFor(tablePath).synchronized {
      require(segId.matches(SegIdPattern),
        s"segment id must match $SegIdPattern: '$segId'")
      require(segId != BaseSeg,
        s"appends must not target the '$BaseSeg' segment — " +
          "writeBase performs a rebuild")
      val p = new Path(tablePath)
      val fs = p.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      Swap.recover(fs, p, bakPath(tablePath))
      writeRaw(df, tablePath, segId)
    }

  /** Row-group size for index segment files. Parquet's default row
    * group (128 MB) makes a [[shardCount]]-sized file ONE row group —
    * the atomic unit of both scan splitting and min/max pruning — so
    * a just-under-target shard became a serial, unprunable scan (the
    * r18 x100 regression: the 90 MB single-shard BM25 postings table
    * lost its token-sorted row-group pruning AND its parallelism;
    * `maxPartitionBytes` cannot split inside a row group). 8 MB row
    * groups keep the 128 MB–1 GB file-count economics of guide §6
    * while restoring ~16 prune/split units per file. */
  private def rowGroupBytes(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.index.rowGroupBytes", (8L * 1024 * 1024).toString)
      .toLong

  private def writeRaw(
      df: DataFrame, tablePath: String, segId: String): Unit =
    df.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes(df))
      .parquet(s"$tablePath/seg=$segId")

  /** Clear `tablePath` entirely and write `df` as its single
    * [[BaseSeg]] segment — the full-build form (a plain segment write
    * on a dirty path would leave stale sibling segments or, worse,
    * root files from a pre-segment layout beside partition dirs,
    * which breaks partition discovery). A leftover swap backup is
    * cleared too: the rebuild supersedes whatever state a crashed
    * compaction left behind. */
  def writeBase(df: DataFrame, tablePath: String): Unit =
    lockFor(tablePath).synchronized {
      val p = new Path(tablePath)
      val fs = p.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      val bak = bakPath(tablePath)
      if (fs.exists(bak) && !fs.delete(bak, true))
        throw new Swap.SwapFailedException(s"could not clear $bak")
      if (fs.exists(p) && !fs.delete(p, true))
        throw new Swap.SwapFailedException(s"could not clear $tablePath")
      writeRaw(df, tablePath, BaseSeg)
    }

  /** Clone the directory tree at `src` into a not-yet-existing `dst`
    * (the clone IS the new root, matching `FileUtil.copy(…, dst)` on
    * an absent dst). On a local filesystem each regular file is
    * HARDLINKED (falling back to a per-file copy when the link fails,
    * e.g. dst on a different device); non-local filesystems take the
    * plain recursive copy.
    *
    * Linking is sound for segment-protocol tables because written
    * files are immutable: every mutation in this layer is a new-file
    * write ([[writeSegment]]/[[writeBase]]), a directory rename
    * ([[Swap]]), or an unlink — never an in-place modification — and
    * unlinking a linked name leaves the source bytes untouched. The
    * bench's per-run index isolation copies a multi-hundred-MB base
    * index before every append; the serial byte copy was the single
    * largest cost of the maintenance entries at the 100× tier. */
  def cloneTree(conf: org.apache.hadoop.conf.Configuration,
      src: String, dst: String): Unit = {
    val srcPath = new Path(src)
    val fs = srcPath.getFileSystem(conf)
    val srcUri = fs.makeQualified(srcPath).toUri
    if (srcUri.getScheme != "file") {
      org.apache.hadoop.fs.FileUtil.copy(
        fs, srcPath, fs, new Path(dst), false, true, conf)
      return
    }
    import java.nio.file.{Files, Paths, Path => JPath}
    val from = Paths.get(srcUri.getPath)
    val to = Paths.get(fs.makeQualified(new Path(dst)).toUri.getPath)
    var linkOk = true
    def place(s: JPath, d: JPath): Unit = {
      if (linkOk)
        try { Files.createLink(d, s); return }
        catch { case _: UnsupportedOperationException |
                     _: java.nio.file.FileSystemException => linkOk = false }
      Files.copy(s, d,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    def walk(s: JPath, d: JPath): Unit = {
      Files.createDirectories(d)
      val entries = Files.list(s)
      try entries.forEach { e =>
        val t = d.resolve(e.getFileName)
        if (Files.isDirectory(e)) walk(e, t) else place(e, t)
      } finally entries.close()
    }
    walk(from, to)
  }

  /** Replace the whole (multi-segment) table with the single-segment
    * canonical form produced by `canonical` (a function of the current
    * table contents), under the crash-safe [[Swap]] protocol: readers
    * see the old table or the new one, never halves; an interrupted
    * prior replace is healed first. The `seg` partition column is
    * dropped from the frame `canonical` receives.
    *
    * Writer exclusion: appends and compactions of the same table
    * serialize within this JVM (the shared per-path monitor — a
    * segment appended between the canonical read and the swap would
    * otherwise ride the old table into the backup and be deleted).
    * ACROSS processes that exclusion must be operational: run
    * compaction when no other process appends to the index, the
    * standard offline-compaction contract. */
  def replaceTable(
      spark: SparkSession,
      tablePath: String)(canonical: DataFrame => DataFrame): Unit =
    lockFor(tablePath).synchronized {
      val p = new Path(tablePath)
      val tmp = new Path(tablePath.stripSuffix("/") + "__swap_tmp")
      val bak = bakPath(tablePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Swap.recover(fs, p, bak)
      if (fs.exists(tmp) && !fs.delete(tmp, true))
        throw new Swap.SwapFailedException(s"could not clear stale $tmp")
      val canon = canonical(read(spark, tablePath).drop("seg"))
      canon.write.option("parquet.block.size", rowGroupBytes(canon))
        .parquet(s"$tmp/seg=$BaseSeg")
      Swap.replace(fs, p, tmp, bak)
    }
}
