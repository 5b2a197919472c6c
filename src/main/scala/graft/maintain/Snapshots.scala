package graft.maintain

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType,
  DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType, TimestampNTZType,
  TimestampType}

/** Snapshot isolation + time travel for parquet tables — the
  * lakehouse-table-format concern the reference names ("iceberg") but
  * never implements (its `create_iceberg_table` writes a plain
  * `data.parquet`; the pyiceberg REST catalog import is never
  * connected — `iceberg_exploration.py:65-80,165-186`). At 100 TB a
  * real deployment wants exactly three properties from the format
  * layer, and this module provides them on raw Hadoop-FS + parquet
  * primitives (the serving indexes keep their own [[Segments]]
  * layout):
  *
  *   1. '''Atomic commits''': writers never mutate data in place —
  *      every commit writes its rows into a fresh immutable
  *      `data/batch-<uuid>` directory, then CLAIMS its version by
  *      atomically renaming a fully-written manifest directory to
  *      `_snapshots/v<N>`. Rename-if-absent is the arbiter: two racing
  *      committers both write side files, exactly one rename wins, the
  *      loser re-reads the head and retries against the NEW parent
  *      (optimistic concurrency, the Iceberg/Delta commit protocol).
  *      A crash before the rename leaves only invisible orphans — the
  *      table's readable state is never touched.
  *   2. '''Snapshot-isolated reads''': a reader resolves the head
  *      version ONCE, then plans only that manifest's file list —
  *      concurrent commits (which only ADD files and manifests) cannot
  *      change or tear what it sees. Readers of version N are immune
  *      to everything after N by construction.
  *   3. '''Time travel''': every version's manifest (tiny parquet: one
  *      row per data file + commit metadata) persists until expired,
  *      so `readVersion(v)` / `readAsOf(ts)` replay any retained
  *      state; `rollback(v)` restores an old state AS A NEW VERSION
  *      (never destructive — an audited un-delete); `expire` retires
  *      old manifests and deletes only data batches no retained
  *      version references.
  *
  * Scale shape: a commit's cost is its own data write + one tiny
  * manifest (O(files-in-commit) rows); resolving the head lists one
  * `_snapshots/` directory (O(retained versions) — bounded by
  * `expire`, the same lifecycle as serving-index compaction); reads
  * plan `spark.read.parquet(files…)` so all parquet pushdown/pruning
  * applies unchanged. Nothing here scans data to commit — the 100 TB
  * posture is metadata-only commits over immutable files, which is
  * the entire point of a table format.
  *
  * Cross-process contract: the rename arbiter IS cross-process safe
  * (both committers land a version; the loser's retry re-parents) —
  * unlike the serving-index append lock, snapshots need no external
  * scheduling. Content-REPLACING commits (compact / z-order / upsert)
  * additionally validate the head they derived from at claim time
  * (Iceberg's RewriteFiles semantics) and RE-DERIVE on a lost race —
  * a rewrite racing an append can never silently drop the appended
  * rows from the head ([[commitRewrite]]). `expire` is the one
  * offline op: run it when no reader is pinned to a version being
  * retired (standard retention-window operations, stated on
  * [[expire]]).
  */
object Snapshots {

  /** Operation labels recorded in each manifest. */
  val OpCreate = "create"
  val OpAppend = "append"
  val OpOverwrite = "overwrite"
  val OpRollback = "rollback"
  val OpCompact = "compact"
  val OpUpsert = "upsert"
  val OpDelete = "delete"

  private val SnapDir = "_snapshots"
  private val DataDir = "data"

  final class CommitConflictException(msg: String)
    extends java.io.IOException(msg)
  final class NoSuchVersionException(msg: String)
    extends java.util.NoSuchElementException(msg)
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v")) name.drop(1).toLongOption else None

  /** All committed versions at `path`, ascending — a manifest counts
    * only once fully committed (the rename is atomic, so a listed
    * `v<N>` directory is always complete). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(s"$path/$SnapDir")
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(st => versionOf(st.getPath.getName))
      .sorted
  }

  def exists(spark: SparkSession, path: String): Boolean =
    versions(spark, path).nonEmpty

  /** The manifest's columns, in the order [[commit]] writes them. One
    * row per (file, stat column): numeric bounds in the [[statNorm]]
    * domain, truncated string bounds, or a per-file bloom with its
    * column's dtype; a file with no stat carries one all-null stat row.
    * The last five columns repeat the commit's metadata on every row.
    * Manifests are read with this schema rather than an inferred one,
    * which saves a footer job per read; a column an older manifest
    * lacks (`commit_key`, the `stat_*` family) reads as null. */
  private[graft] val ManifestSchema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("stat_col", StringType),
    StructField("stat_min", DoubleType),
    StructField("stat_max", DoubleType),
    StructField("stat_min_str", StringType),
    StructField("stat_max_str", StringType),
    StructField("stat_bloom", BinaryType),
    StructField("stat_bloom_type", StringType),
    StructField("version", LongType),
    StructField("ts_ms", LongType),
    StructField("operation", StringType),
    StructField("parent", LongType),
    StructField("commit_key", StringType)))

  /** One version's manifest, read with [[ManifestSchema]] (no schema
    * job). */
  private def manifestDf(spark: SparkSession, path: String,
      v: Long): DataFrame = {
    val p = s"$path/$SnapDir/v$v"
    if (!fs(spark, path).exists(new Path(p)))
      throw new NoSuchVersionException(
        s"no snapshot v$v at $path (have: " +
          s"${versions(spark, path).mkString(",")})")
    spark.read.schema(ManifestSchema).parquet(p)
  }

  /** ONE multi-path read over every retained manifest — the same
    * O(versions)-Spark-jobs trap the retired SnapshotScaleProbe main
    * caught in the replay check (SCALE_PROBES.md) applies to any
    * per-version loop. Read with
    * [[ManifestSchema]]: manifests from before a column existed
    * null-fill it, as a merged schema would, without a footer job. */
  private def allManifests(
      spark: SparkSession, path: String, vs: Seq[Long]): DataFrame =
    spark.read.schema(ManifestSchema)
      .parquet(vs.map(v => s"$path/$SnapDir/v$v"): _*)

  /** [[ManifestSchema]] as the Parquet schema Spark writes for it:
    * every column optional, strings annotated STRING. */
  private lazy val ManifestParquetType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      ManifestSchema.fields.map { fd =>
        val tpe = fd.dataType match {
          case StringType => "binary" -> " (STRING)"
          case BinaryType => "binary" -> ""
          case DoubleType => "double" -> ""
          case LongType   => "int64" -> ""
          case t => throw new IllegalStateException(s"manifest type $t")
        }
        s"  optional ${tpe._1} ${fd.name}${tpe._2};"
      }.mkString("message spark_schema {\n", "\n", "\n}"))

  /** Write manifest `rows` (values in [[ManifestSchema]] order, null
    * for absent) from the driver as one SNAPPY part file in `dir`,
    * with Spark's schema footer key, so Spark reads it exactly as it
    * reads a part file of its own. The fresh UUID in the name keeps
    * [[Segments.listingFingerprint]] apart across an expire and a
    * re-create of the same version. */
  private def writeManifestPart(conf: Configuration, dir: Path,
      rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.io.api.Binary
    val file = new Path(dir,
      s"part-${java.util.UUID.randomUUID()}.snappy.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withConf(conf)
      .withType(ManifestParquetType)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(
        java.util.Map.of(Footer.SparkRowMetadataKey, ManifestSchema.json))
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(ManifestParquetType)
      r.zipWithIndex.foreach {
        case (null, _)           => ()
        case (x: String, i)      => g.add(i, x)
        case (x: Double, i)      => g.add(i, x)
        case (x: Long, i)        => g.add(i, x)
        case (x: Array[Byte], i) => g.add(i, Binary.fromConstantByteArray(x))
        case (x, i) => throw new IllegalStateException(
          s"manifest value $x for ${ManifestSchema.fields(i).name}")
      }
      w.write(g)
    } finally w.close()
  }

  /** One row per retained version: (version, ts_ms, operation,
    * n_files, parent), ascending — the audit surface (`history` in
    * the CLI). One job regardless of version count. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no snapshot table at $path")
    // countDistinct, NOT count: manifest grain is (file, stat_col) —
    // a commit recording 2 stat columns carries 2 rows per file, and
    // a row count would report 2x the real file count (ADVICE r16)
    allManifests(spark, path, vs)
      .groupBy("version", "ts_ms", "operation", "parent")
      .agg(countDistinct(col("file")).as("n_files"))
      .select("version", "ts_ms", "operation", "parent", "n_files")
      .orderBy("version")
  }

  /** The double stat domain a column is recorded (and probed) in:
    * numeric columns cast directly; DATE / TIMESTAMP columns normalize
    * to epoch SECONDS via `cast(timestamp)` (dates land at midnight in
    * the session time zone) — so time-range time travel, the canonical
    * lakehouse read, prunes files exactly like a numeric range
    * ([[readVersionWhereTime]] converts ISO bounds through the SAME
    * expression, making writer and reader domains identical by
    * construction). STRING columns are recorded in their own domain
    * (truncated UTF-8 bounds, see [[truncLower]]/[[truncUpper]]), never
    * through this cast. */
  private def statNorm(dt: DataType, c: Column): Column = dt match {
    case DateType | TimestampType | TimestampNTZType =>
      c.cast("timestamp").cast("double")
    case _ => c.cast("double")
  }

  // ---- string stat domain --------------------------------------------

  /** UTF-8 binary comparison — the SAME order Spark's min()/max()
    * computes over StringType (UTF8String compares unsigned UTF-8
    * bytes), so bound probes and recorded stats agree by construction.
    * Java's `String.compareTo` (UTF-16 code units) DISAGREES for
    * supplementary characters (it ranks U+E000..U+FFFF above them), so
    * it must never be used against these stats. */
  private[graft] def strCmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Truncated-bound RANGE overlap — the one string probe every
    * read/delete path shares (bounds recorded by [[truncLower]]/
    * [[truncUpper]] only widen, so `true` here means "may hold a row
    * in [lo, hi]"; absent stats are always candidates). */
  private def strRangeHits(
      st: Option[(String, String)], lo: String, hi: String): Boolean =
    st match {
      case Some((mn, mx)) => strCmp(mx, lo) >= 0 && strCmp(mn, hi) <= 0
      case None           => true // unknown = candidate
    }

  /** Truncated-bound KEY-SET overlap: may this file hold at least one
    * of `keys`? */
  private def strKeyHits(
      st: Option[(String, String)], keys: Seq[String]): Boolean =
    st match {
      case Some((mn, mx)) =>
        keys.exists(k => strCmp(mn, k) <= 0 && strCmp(k, mx) <= 0)
      case None => true // unknown = candidate
    }

  /** Recorded string bounds truncate to this many code points — the
    * Iceberg `write.metadata.metrics` truncate(16) default. Keeps a
    * manifest row metadata-sized even when someone records stats on a
    * free-text column. */
  private[graft] val StrBoundLen = 16

  /** Truncated LOWER string bound: the [[StrBoundLen]]-code-point
    * prefix. A prefix is ≤ the full string in UTF-8 byte order, so the
    * recorded lower bound can only WIDEN the range — superset-safe. */
  private[graft] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StrBoundLen) s
    else s.substring(0, s.offsetByCodePoints(0, StrBoundLen))

  /** Truncated UPPER string bound: the [[StrBoundLen]]-code-point
    * prefix with its LAST incrementable code point bumped (skipping
    * the unencodable surrogate block) and the tail dropped — UTF-8
    * encodes code points monotonically, so the result is ≥ every
    * string sharing the prefix (Iceberg's truncateStringMax). None
    * when nothing can be bumped (a prefix of U+10FFFFs): the column
    * then records NO stat for the file — unknown = candidate, never a
    * wrong bound. */
  private[graft] def truncUpper(s: String): Option[String] =
    if (s.codePointCount(0, s.length) <= StrBoundLen) Some(s)
    else {
      val cps = s.codePoints().limit(StrBoundLen.toLong).toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
      if (i < 0) None
      else {
        val bumped0 = cps(i) + 1
        val bumped =
          if (bumped0 >= Character.MIN_SURROGATE.toInt &&
            bumped0 <= Character.MAX_SURROGATE.toInt) 0xE000
          else bumped0
        Some(new String(cps, 0, i) + new String(Character.toChars(bumped)))
      }
    }

  // ---- per-file bloom stats --------------------------------------------

  /** Probe count for per-file bloom stats — fixed so the manifest
    * needs no per-row parameter (bits are implied by the stored
    * array's length; k must match between build and probe). */
  private[graft] val BloomK = 6

  /** Sentinel: size each batch's blooms from its OWN row count —
    * `optimalNumBits(rows/file, 1%)` clamped to [2^14, 2^23] bits
    * (2 KB – 1 MB per (file, col)). The row count is a parquet
    * metadata read (footer row-group counts — no data scan), so
    * auto-sizing is free; a fixed size either saturates on big files
    * (a saturated bloom answers "maybe" for everything — measured at
    * x100: 131 Kbits over 234k keys/file pruned NOTHING) or wastes
    * manifest weight on small ones. Explicit `bloomBits > 0`
    * overrides. Weight envelope: the probe runs IN SPARK over the
    * manifest parquet (sketches never land on the driver), so the
    * ceiling is manifest-parquet size, not driver heap. */
  private[graft] val AutoBloomBits = 0

  private[graft] def autoBloomBits(rowsPerFile: Long): Int =
    math.max(1 << 14, math.min(1 << 23,
      graft.functions.BloomExprs.optimalNumBits(
        math.max(1L, rowsPerFile), 0.01)))

  /** A data file plus its optional per-file min/max over any number of
    * stat columns — the Iceberg-manifest file-skipping shape. Numeric
    * and temporal columns record in the [[statNorm]] double domain
    * (`stats`); STRING columns record truncated UTF-8 bounds
    * (`strStats`, [[truncLower]]/[[truncUpper]] — lower is a prefix ≤
    * min, upper is bumped ≥ max, so probes are always supersets).
    * Manifest grain: one row per (file, stat_col); a file with no
    * stats carries one null-stat row. Files without stats for the
    * probed column are always read (unknown = candidate: a file
    * appended without stats can never be pruned away).
    *
    * `blooms` (col → (bloom bytes, column dtype ddl)) is COMMIT-LOCAL
    * transport only: per-file bloom filters over `xxhash64(col)` for
    * key-membership skipping on UNCLUSTERED layouts (min/max ranges
    * all overlap when every file spans the key space; a bloom answers
    * "can this key be in this file" regardless of layout). They ride
    * the manifest as `stat_bloom` rows — Spark-side only; [[entriesOf]]
    * never materializes them on the driver. */
  final case class FileEntry(
      file: String,
      stats: Map[String, (Double, Double)] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty,
      blooms: Map[String, (Array[Byte], String)] = Map.empty,
      /** Columns this file HAS a bloom for (names only — [[entriesOf]]
        * reads these from the manifest's `stat_bloom_type` so rewrites
        * can RE-RECORD blooms on their output without ever pulling the
        * sketch bytes to the driver). */
      bloomColsRecorded: Set[String] = Set.empty)

  private val ConstraintsDir = "_constraints"

  /** SQL CHECK semantics: a row VIOLATES only when the expression
    * evaluates to FALSE — null passes (the standard's unknown-is-
    * not-a-violation rule, Delta's CHECK behavior). */
  private def violatesExpr(exprSql: String): Column =
    !coalesce(expr(exprSql).cast("boolean"), lit(true))

  /** The table's active CHECK constraints (name → SQL expression) —
    * one tiny directory listing. */
  def constraints(spark: SparkSession, path: String): Map[String, String] = {
    val dir = new Path(s"$path/$ConstraintsDir")
    val f = fs(spark, path)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.filter(_.isFile).map { st =>
      val in = f.open(st.getPath)
      val sql =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      st.getPath.getName -> sql
    }.toMap
  }

  /** Register a CHECK constraint (write-time quality gate, Delta's
    * `ALTER TABLE ADD CONSTRAINT` shape): every LATER commit's new
    * data batch is validated against every active constraint and a
    * violating commit refuses ATOMICALLY — no version lands, the
    * doomed batch is invisible and expire-sweepable. The add itself
    * first proves the CURRENT head satisfies the expression (one
    * scan — the same contract Delta enforces), so a constraint can
    * never be born already broken. Constrained columns must exist in
    * every later batch (a batch missing one fails loudly at
    * analysis, never silently passes). Same-JVM adds serialize on
    * the table's commit lock; a cross-process writer that committed
    * its (validated-against-the-old-set) batch while the add's head
    * scan ran is the same last-writer-wins window every table
    * property has — the add's scan validates the head it resolved. */
  def addConstraint(spark: SparkSession, path: String,
      name: String, exprSql: String): Unit =
    lockFor(path).synchronized {
      require(exists(spark, path), s"no snapshot table at $path")
      require(name.matches("[A-Za-z0-9_\\-]+"),
        s"constraint name must be [A-Za-z0-9_-]+: '$name'")
      val bad = read(spark, path).filter(violatesExpr(exprSql)).count()
      if (bad > 0)
        throw new ConstraintViolationException(
          s"cannot add CHECK '$name' ($exprSql) at $path: " +
            s"$bad existing head row(s) violate it")
      val f = fs(spark, path)
      f.mkdirs(new Path(s"$path/$ConstraintsDir"))
      val out = f.create(new Path(s"$path/$ConstraintsDir/$name"), true)
      try out.write(exprSql.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  def dropConstraint(spark: SparkSession, path: String,
      name: String): Boolean =
    fs(spark, path).delete(new Path(s"$path/$ConstraintsDir/$name"), false)

  /** Validate a just-written batch against the table's constraints
    * in ONE aggregate pass; on any violation the batch dir is removed
    * and the commit dies here — before a manifest could reference it.
    * Cost rides the commit's own delta: scoped rewrites validate
    * their slice, appends their batch (compaction re-validates its
    * re-packed output — already-valid rows, one extra scan, the
    * price of enforcement with no op-specific holes). */
  private def enforceConstraints(spark: SparkSession, path: String,
      batch: String): Unit = {
    val cons = constraints(spark, path)
    if (cons.isEmpty) return
    val names = cons.keys.toSeq.sorted
    val counts =
      try {
        val aggs = names.map(n =>
          sum(when(violatesExpr(cons(n)), 1L).otherwise(0L)).as(n))
        spark.read.parquet(batch).agg(aggs.head, aggs.tail: _*).head()
      } catch {
        case e: Throwable =>
          fs(spark, path).delete(new Path(batch), true)
          throw e // unresolvable constraint column etc: loud, atomic
      }
    val violated = names.zipWithIndex.collect {
      case (n, i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        s"$n (${cons(n)}): ${counts.getLong(i)} row(s)"
    }
    if (violated.nonEmpty) {
      fs(spark, path).delete(new Path(batch), true)
      throw new ConstraintViolationException(
        s"commit at $path refused — CHECK constraint(s) violated by " +
          s"the new batch: ${violated.mkString("; ")}")
    }
  }

  /** Write `df`'s rows as a fresh immutable data batch; returns one
    * [[FileEntry]] per written file. With `statsCols` set, per-file
    * min/max over EVERY listed column are computed in ONE scan of the
    * just-written batch (grouped on `_metadata.file_path` —
    * commit-local cost, never a table scan) so later reads can skip
    * files by range on any of them.
    *
    * ZERO-ROW part files (the stats scan already identifies them for
    * free: a rowless file never appears in the grouped aggregate) are
    * dropped from the returned entries — a stat-less empty file would
    * poison every future "unknown = candidate" probe (e.g. a delete
    * that empties its touched file would otherwise leave a file no
    * later no-op check can ever rule out). The unreferenced physical
    * files sweep with [[expire]]'s orphan pass. When dropping would
    * leave NOTHING (`allowEmpty = false`, the default), one file is
    * kept so an empty table stays schema-readable; content-replacing
    * commits that carry untouched parent files pass `allowEmpty =
    * true` ([[commitRewrite]]). Stat-less writes skip the scan and
    * keep every file (no way to know emptiness for free).
    *
    * The scan's schema and the auto-bloom row count come from the
    * written files' footers, read on the driver ([[Footer.read]]),
    * so neither costs a Spark job. */
  private def writeBatch(df: DataFrame, path: String,
      statsCols: Seq[String] = Seq.empty,
      allowEmpty: Boolean = false,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = AutoBloomBits): Seq[FileEntry] = {
    val batch = s"$path/$DataDir/batch-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    df.write.parquet(batch) // fresh dir: no overwrite semantics needed
    val spark = df.sparkSession
    val f = fs(spark, path)
    enforceConstraints(spark, path, batch)
    val files = f.listStatus(new Path(batch)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val paths = files.map(_.getPath.toString)
    if (statsCols.isEmpty && bloomCols.isEmpty) paths.map(FileEntry(_))
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val footers = files.map(st => Footer.read(conf, st.getPath))
      // the schema the write stored in its footer is the one
      // inference would read, so the re-read plans without a job
      val reread = spark.read.schema(footers.head.schema).parquet(batch)
      val isStr = statsCols.map(c =>
        c -> reread.schema(c).dataType.isInstanceOf[StringType]).toMap
      val aggs = statsCols.flatMap { c =>
        if (isStr(c))
          // string bounds aggregate in Spark's own UTF8String binary
          // order; truncation happens driver-side below
          Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c"))
        else {
          // NaN-stripped: Spark's max() returns NaN when ANY value is
          // NaN, which would poison the range (NaN >= lo is false →
          // the file wrongly classified as non-overlapping). NaN rows
          // need no range coverage anyway — NaN is outside every
          // range, so range predicates can never select them.
          val e0 = statNorm(reread.schema(c).dataType, col(c))
          val e = when(isnan(e0), lit(null)).otherwise(e0)
          Seq(min(e).as(s"__lo_$c"), max(e).as(s"__hi_$c"))
        }
      } ++ {
        if (bloomCols.isEmpty) Seq.empty
        else {
          // auto-sizing reads only the footers' row counts; sized for
          // the LARGEST file by byte share — an average would
          // under-size a skewed batch's big file back into the
          // saturation auto-sizing exists to prevent
          val bits =
            if (bloomBits > 0) bloomBits
            else {
              val lens = files.map(_.getLen.toDouble)
              val maxShare =
                if (lens.isEmpty || lens.sum == 0) 1.0
                else lens.max / lens.sum
              autoBloomBits(
                math.ceil(footers.map(_.rows).sum * maxShare).toLong)
            }
          bloomCols.map { c =>
            // per-file key-membership sketch over the column's
            // NATIVE-type xxhash64 (the probe must hash the same
            // type — recorded alongside, and type-mismatched blooms
            // are voided at probe time rather than risking a false
            // negative)
            graft.functions.BloomExprs.bloom_agg(
              xxhash64(col(c)), bits, BloomK).as(s"__bloom_$c")
          }
        }
      }
      val bloomTypes = bloomCols.map(c =>
        c -> reread.schema(c).dataType.sql).toMap
      // keyed on the scheme-less URI path: _metadata.file_path is a
      // full URI (file:///…) while the listing yields Path strings —
      // normalizing both sides makes this an exact map lookup
      val stats = reread
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val numB = Map.newBuilder[String, (Double, Double)]
          val strB = Map.newBuilder[String, (String, String)]
          statsCols.zipWithIndex.foreach { case (c, i) =>
            val lo = Option(r.get(1 + 2 * i))
            val hi = Option(r.get(2 + 2 * i))
            (lo, hi) match {
              case (Some(l), Some(h)) if isStr(c) =>
                // an upper bound that cannot truncate safely voids the
                // whole stat (unknown = candidate)
                truncUpper(h.asInstanceOf[String]).foreach(u =>
                  strB += c -> (truncLower(l.asInstanceOf[String]), u))
              case (Some(l), Some(h)) =>
                numB += c -> (l.asInstanceOf[Double], h.asInstanceOf[Double])
              case _ => () // all-null column: no stat
            }
          }
          val bloomB = Map.newBuilder[String, (Array[Byte], String)]
          bloomCols.zipWithIndex.foreach { case (c, i) =>
            val v = r.get(1 + 2 * statsCols.length + i)
            if (v != null)
              bloomB += c -> (v.asInstanceOf[Array[Byte]], bloomTypes(c))
          }
          new Path(r.getString(0)).toUri.getPath ->
            (numB.result(), strB.result(), bloomB.result())
        }
        .toMap
      // present in the grouped aggregate ⇔ the file has rows
      val nonEmpty = paths.filter(p =>
        stats.contains(new Path(p).toUri.getPath))
      val kept =
        if (nonEmpty.nonEmpty || allowEmpty) nonEmpty
        else paths.take(1) // all-empty write: keep one schema file
      kept.map { p =>
        val (n, s, b) = stats.getOrElse(new Path(p).toUri.getPath,
          (Map.empty[String, (Double, Double)],
            Map.empty[String, (String, String)],
            Map.empty[String, (Array[Byte], String)]))
        FileEntry(p, n, s, b)
      }
    }
  }

  /** Same-JVM commit serialization per table path (two threads of one
    * driver committing concurrently — the common case — never even
    * reach the rename contention). Cross-PROCESS committers are
    * arbitrated by [[claimVersion]]'s no-overwrite rename. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    commitLocks.computeIfAbsent(path, _ => new Object)

  /** The cross-process atomic arbiter: rename `tmp` to `dest` FAILING
    * if `dest` exists. Plain `FileSystem.rename` is the WRONG tool —
    * on a POSIX-backed FS renaming onto an existing directory moves
    * the source INSIDE it (both racers would think they won; the
    * loser's commit silently vanishes — caught by SnapshotsSpec's
    * race test). `FileContext.rename` without the OVERWRITE option
    * enforces fail-on-existing; on HDFS-semantics filesystems the
    * check-and-rename is one atomic server-side operation (the
    * guarantee Iceberg/Delta commit protocols build on). */
  private[graft] def claimVersion(
      spark: SparkSession, tmp: Path, dest: Path): Boolean = {
    val ctx = org.apache.hadoop.fs.FileContext.getFileContext(
      dest.toUri, spark.sparkContext.hadoopConfiguration)
    try { ctx.rename(tmp, dest); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.contains("exists")) => false
    }
  }

  /** The version that already carries `commitKey`, if any — the
    * idempotency probe for replayed commits. ONE multi-path read over
    * every retained manifest (tiny files), not a Spark job per
    * version: the per-version loop measured 5 s at 51 retained
    * versions (the retired SnapshotScaleProbe, SCALE_PROBES.md) where
    * this reads in one job.
    * Retention must outlast the replay window, stated on
    * [[commitAppend]]. */
  private def versionOfCommitKey(
      spark: SparkSession, path: String, commitKey: String): Option[Long] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) return None
    Option(
        allManifests(spark, path, vs)
          .filter(col("commit_key") === commitKey)
          .agg(max(col("version"))).head().get(0))
      .map(_.asInstanceOf[Long])
  }

  /** Commit `files` as version `head + 1`, retrying against the new
    * head on a lost race. The manifest is written COMPLETELY to a tmp
    * directory, then claimed via [[claimVersion]]. The driver writes
    * its rows ([[writeManifestPart]]), so the manifest costs no Spark
    * job; only the bloom rows of carried files are copied by a Spark
    * semi-join over the parent manifest, into a second part file, and
    * only when a carried entry records a bloom. A won claim seeds
    * [[entriesMemo]] with the committed entries, so the next op's
    * [[entriesOf]] on the new head runs no job either. A `commitKey`
    * makes the commit IDEMPOTENT: a commit whose key already sits in
    * a retained manifest returns that version instead of applying
    * again — the Delta txn-appId/version pattern that turns
    * foreachBatch's at-least-once replay into exactly-once.
    *
    * `expectedHead` is the Iceberg validate-snapshot-id arm for
    * CONTENT-REPLACING ops (create / compact / upsert): their files
    * were DERIVED from a specific head, so if the head has moved —
    * same-JVM (the lock covers only this claim, not the caller's
    * read→writeBatch window) or cross-process — blindly re-parenting
    * would publish stale content and silently drop the racing commit's
    * rows from the new head. With `expectedHead` set, a moved head
    * throws [[CommitConflictException]] instead; [[commitRewrite]]
    * catches it and RE-DERIVES from the new head, so both effects
    * land. Pure appends pass None: their files compose under any
    * parent, so the blind re-parent retry is lossless for them. */
  @annotation.tailrec
  private def commit(
      spark: SparkSession,
      path: String,
      files: Seq[FileEntry],
      op: String,
      parentFiles: Long => Seq[FileEntry],
      commitKey: Option[String] = None,
      expectedHead: Option[Long] = None,
      retries: Int = 20): Long = {
    val claimed = lockFor(path).synchronized {
      // replayed keyed commit: already applied — converge to that
      // version, don't double-append (the replay's re-written data
      // batch is invisible and expire-sweepable)
      val replayed = commitKey.flatMap(versionOfCommitKey(spark, path, _))
      if (replayed.isDefined) replayed
      else {
      val head = versions(spark, path).lastOption.getOrElse(0L)
      expectedHead.foreach { e =>
        if (head != e)
          throw new CommitConflictException(
            s"$op at $path derived its content from v$e but the head " +
              s"is now v$head — committing would drop v${e + 1}..v$head" +
              " from the new head; re-derive from the current head")
      }
      val v = head + 1
      val carriedEntries = parentFiles(head)
      val all = carriedEntries ++ files
      val statRows = all.flatMap(manifestStatRows)
      // bloom rows travel with their files VERBATIM through later
      // commits, copied Spark-side from the parent manifest (a 16 KB
      // sketch per (file, col) must never round-trip the driver on
      // every append — unlike min/max, which are driver-held anyway):
      // carry the parent's bloom rows for every file still listed.
      // Rewritten files are NOT in `all` under their old paths, so a
      // replaced file's bloom dies with it (the rewrite records fresh
      // blooms only if asked). A carried entry with no recorded bloom
      // has no bloom row to copy, so the copy runs only when one does;
      // the copied columns, per file, are the head's (a rollback
      // carries another version's entries but copies from the head).
      val carriedBlooms: Map[String, Set[String]] =
        if (head == 0L ||
          !carriedEntries.exists(_.bloomColsRecorded.nonEmpty)) Map.empty
        else {
          val listed = all.map(_.file).toSet
          entriesOf(spark, path, head).collect {
            case e if listed(e.file) && e.bloomColsRecorded.nonEmpty =>
              e.file -> e.bloomColsRecorded
          }.toMap
        }
      // ONE timestamp for every row of this version, in both part
      // files: history() groups on (version, ts_ms, …) — a per-row
      // clock read would split one version into two history rows
      val nowMs = System.currentTimeMillis()
      val meta = Seq[Any](v, nowMs, op, head, commitKey.orNull)
      val f = fs(spark, path)
      val tmp = new Path(s"$path/$SnapDir/.tmp-v$v-" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      if (carriedBlooms.nonEmpty) {
        import spark.implicits._
        // a bloom row's layout, as in manifestStatRows, then the meta
        val carried = Seq(col("file"), col("stat_col"), lit(null),
          lit(null), lit(null), lit(null), col("stat_bloom"),
          col("stat_bloom_type")) ++ meta.map(lit)
        manifestDf(spark, path, head)
          .filter(col("stat_bloom").isNotNull)
          .join(broadcast(all.map(_.file).toDF("file")), Seq("file"),
            "left_semi")
          .select(carried.zip(ManifestSchema.fields).map { case (c, fd) =>
            c.cast(fd.dataType).as(fd.name)
          }: _*)
          .coalesce(1).write.parquet(tmp.toString)
      }
      writeManifestPart(spark.sparkContext.hadoopConfiguration, tmp,
        statRows.map(_ ++ meta))
      val dest = new Path(s"$path/$SnapDir/v$v")
      if (claimVersion(spark, tmp, dest)) {
        // the cold parse of `dest` reads exactly these rows: the stat
        // rows and, for the parse, one marker per carried bloom row
        val bloomMarkers = carriedBlooms.toSeq.flatMap { case (file, cs) =>
          cs.toSeq.map(c => Seq[Any](file, c, null, null, null, null,
            null, BloomMarker))
        }
        // the version is committed whatever happens here: a listing
        // that fails (another process expired it at once) only skips
        // the seed
        try memoPut(memoKey(f, dest),
          entriesFromRows((statRows ++ bloomMarkers).map(statRowView)))
        catch { case _: java.io.IOException => () }
        Some(v)
      } else { f.delete(tmp, true); None }
      }
    }
    claimed match {
      case Some(v) => v
      case None =>
        // a FOREIGN process claimed this version between our head read
        // and our rename. For a derived (content-replacing) commit
        // that is a conflict — the content is stale against the new
        // head; the caller must re-derive, never blind-retry.
        if (expectedHead.isDefined)
          throw new CommitConflictException(
            s"$op at $path lost the v${expectedHead.get + 1} claim to " +
              "a foreign committer — its content derives from " +
              s"v${expectedHead.get}, which is no longer the head")
        // pure appends re-parent against the new head and retry
        if (retries <= 0)
          throw new CommitConflictException(
            s"lost the commit race at $path too many times — " +
              "a runaway committer loop?")
        commit(spark, path, files, op, parentFiles, commitKey,
          expectedHead, retries - 1)
    }
  }

  /** Optimistic-retry loop for CONTENT-REPLACING commits
    * (compact / z-order / upsert): resolve the head, derive the new
    * content from THAT head, write it, and commit with
    * `expectedHead` validation. If a racing commit moved the head
    * between the derive and the claim (same-JVM or cross-process),
    * the conflict is caught and the whole derive re-runs against the
    * NEW head — so a racing append's rows are folded into the
    * rewrite, never dropped (Iceberg's RewriteFiles
    * validate-and-retry semantics). After `maxAttempts` lost races
    * the conflict surfaces to the caller; the stale derive's data
    * batch is invisible and expire-sweepable. */
  private[graft] def commitRewrite(
      spark: SparkSession,
      path: String,
      op: String,
      plan: Long => (DataFrame, Seq[FileEntry], Seq[String], Seq[String]),
      maxAttempts: Int = 5): Long = {
    require(exists(spark, path), s"no snapshot table at $path")
    var attempt = 0
    var last: CommitConflictException = null
    while (attempt < maxAttempts) {
      attempt += 1
      val head = versions(spark, path).last
      // plan() derives FROM this head: the rewritten content, the
      // head entries carried through unchanged (whole-table rewrites
      // keep none; scoped ops keep every untouched file), and the
      // stat AND bloom columns to record on the rewritten batch
      // (scoped ops return the touched files' unions, so a rewrite
      // never silently degrades future pruning — range OR key — on
      // any column the replaced files covered)
      val (content, kept, statsCols, bloomCols) = plan(head)
      // a rewrite whose output is empty but which carries untouched
      // parent files needs no schema placeholder (e.g. a delete that
      // empties every touched file — the right commit just drops them)
      val files = writeBatch(content, path, statsCols,
        allowEmpty = kept.nonEmpty, bloomCols = bloomCols)
      try return commit(spark, path, files, op, _ => kept,
        expectedHead = Some(head))
      catch { case e: CommitConflictException => last = e }
    }
    throw new CommitConflictException(
      s"$op at $path lost $maxAttempts derive-validate-commit rounds " +
        s"to concurrent committers; last: ${last.getMessage}")
  }

  /** Project a manifest frame to the driver-facing stat shape. The
    * bloom BYTES are deliberately absent — only `stat_bloom_type`
    * rides along, as the marker of which columns a file has blooms
    * for. */
  private def statProjection(m: DataFrame): DataFrame =
    m.select("file", "stat_col", "stat_min", "stat_max",
      "stat_min_str", "stat_max_str", "stat_bloom_type")

  /** A manifest row's first eight columns ([[ManifestSchema]] order,
    * up to `stat_bloom_type`) for one entry, as [[commit]] writes them:
    * one row per numeric stat, string stat and bloom, or one all-null
    * stat row for a file with none. */
  private def manifestStatRows(e: FileEntry): Seq[Seq[Any]] = {
    val rows =
      e.stats.toSeq.map { case (c, (lo, hi)) =>
        Seq[Any](e.file, c, lo, hi, null, null, null, null)
      } ++ e.strStats.toSeq.map { case (c, (lo, hi)) =>
        Seq[Any](e.file, c, null, null, lo, hi, null, null)
      } ++ e.blooms.toSeq.map { case (c, (bytes, tpe)) =>
        Seq[Any](e.file, c, null, null, null, null, bytes, tpe)
      }
    if (rows.isEmpty) Seq(Seq[Any](e.file, null, null, null, null, null,
      null, null))
    else rows
  }

  /** [[statProjection]]'s view of a [[manifestStatRows]] row. */
  private def statRowView(r: Seq[Any]): Row =
    Row(r(0), r(1), r(2), r(3), r(4), r(5), r(7))

  /** Stands in for a carried bloom row's dtype when a commit seeds the
    * memo: the parse reads only whether a bloom type is present. */
  private val BloomMarker = "carried"

  /** (numeric stats, string stats, bloomed column names) parsed from
    * projected stat rows. */
  private def parseStatRows(rows: Seq[Row])
      : (Map[String, (Double, Double)], Map[String, (String, String)],
        Set[String]) = {
    val num = rows.flatMap { r =>
      if (r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(3)) None
      // legacy-manifest safety: a NaN bound (recorded before the
      // writer stripped NaN) is meaningless — treat as no stat
      // (unknown = candidate), never as a non-overlapping range
      else if (r.getDouble(2).isNaN || r.getDouble(3).isNaN) None
      else Some(r.getString(1) -> (r.getDouble(2), r.getDouble(3)))
    }.toMap
    val str = rows.flatMap { r =>
      if (r.isNullAt(1) || r.isNullAt(4) || r.isNullAt(5)) None
      else Some(r.getString(1) -> (r.getString(4), r.getString(5)))
    }.toMap
    val bloomed = rows.flatMap { r =>
      if (r.isNullAt(1) || r.isNullAt(6)) None else Some(r.getString(1))
    }.toSet
    (num, str, bloomed)
  }

  /** One [[FileEntry]] per file of projected stat rows, in file-path
    * order, without bloom bytes. The one parse behind both a cold
    * [[entriesOf]] and a commit's memo seed, so the two give equal
    * entries in the same order. */
  private def entriesFromRows(rows: Seq[Row]): Seq[FileEntry] =
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
      case (file, rs) =>
        val (num, str, bloomed) = parseStatRows(rs)
        FileEntry(file, num, str, bloomColsRecorded = bloomed)
    }

  /** Parsed-manifest memo. A version's manifest directory is
    * IMMUTABLE once the claim rename lands (the commit protocol's
    * core invariant), so its parsed entries stay valid while the SAME
    * directory is in place — identity checked per call by one
    * filesystem listing (qualified path + content fingerprint over
    * every entry's name/length/mtime, [[Segments.listingFingerprint]]:
    * an expire + recreate at the same path changes the part-file
    * UUIDs and misses even inside the mtime granularity window).
    * This replaces a per-read Spark collect job over the manifest
    * with an FS list — the manifest-resolution cost a resident engine
    * pays once per version, not once per query (the same metadata-
    * memo lifecycle as [[graft.plans.SnapshotPruneRule]]'s
    * per-(table, version-set) map). A commit seeds it with the entries
    * it just claimed, so an engine that writes a version never parses
    * it back. Bounded: cleared wholesale past a size cap (manifests
    * are tiny; the cap is generous). */
  private val entriesMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[FileEntry]]()
  private val EntriesMemoCap = 4096

  private def memoKey(f: FileSystem, dir: Path): (String, Long) =
    (f.makeQualified(dir).toString, Segments.listingFingerprint(f, dir))

  private def memoPut(key: (String, Long), entries: Seq[FileEntry]): Unit = {
    if (entriesMemo.size >= EntriesMemoCap) entriesMemo.clear()
    entriesMemo.put(key, entries)
  }

  /** Drops every memoised manifest parse (the next [[entriesOf]] of
    * each version re-reads its manifest). */
  private[graft] def clearEntriesMemo(): Unit = entriesMemo.clear()

  /** Version `v`'s entries, from [[entriesMemo]] when the directory is
    * the one memoised (a listing, no job), else parsed from one collect
    * of its manifest and memoised. Entries come in file-path order and
    * carry bloom column names, never bloom bytes. */
  private[graft] def entriesOf(spark: SparkSession, path: String,
      v: Long): Seq[FileEntry] = {
    val dir = new Path(s"$path/$SnapDir/v$v")
    val f = fs(spark, path)
    val key =
      try memoKey(f, dir)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new NoSuchVersionException(
            s"no snapshot v$v at $path (have: " +
              s"${versions(spark, path).mkString(",")})")
      }
    val hit = entriesMemo.get(key)
    if (hit != null) return hit
    val parsed = entriesFromRows(
      statProjection(manifestDf(spark, path, v)).collect().toSeq)
    memoPut(key, parsed)
    parsed
  }

  private def filesOf(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    entriesOf(spark, path, v).map(_.file)

  /** Create the snapshot table (version 1). Fails if one exists —
    * `commitOverwrite` is the explicit replace. `commitKey` stamps v1
    * so a bootstrap-batch replay (stream crashed between create and
    * checkpoint) converges through the keyed-append path instead of
    * double-applying batch 0. */
  def create(df: DataFrame, path: String,
      commitKey: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = AutoBloomBits): Long = {
    val spark = df.sparkSession
    require(!exists(spark, path),
      s"snapshot table already exists at $path — use commitAppend/" +
        "commitOverwrite")
    val files = writeBatch(df, path, statsCols, bloomCols = bloomCols,
      bloomBits = bloomBits)
    // expectedHead = 0: two racing creates must NOT both land (the
    // loser would silently replace the winner's v1 content as v2) —
    // the fails-if-exists contract holds under races too. A keyed
    // bootstrap REPLAY still converges: the in-lock replay check runs
    // before the head validation.
    commit(spark, path, files, OpCreate, _ => Seq.empty, commitKey,
      expectedHead = Some(0L))
  }

  /** Append `df` as a new version: new files + every parent file.
    *
    * `commitKey` (optional) makes the append EXACTLY-ONCE under
    * replay: a key already present in a retained manifest returns its
    * version without applying again — the Delta txnAppId/txnVersion
    * dedup pattern; the streaming arm passes
    * `sha(checkpointDir)_batchId`. Retention contract: [[expire]]
    * must keep at least the replay window's manifests (a replay older
    * than every retained manifest re-applies); keep `keepLast` above
    * the stream's maximum replayable depth (1 batch for foreachBatch). */
  def commitAppend(
      df: DataFrame, path: String,
      commitKey: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = AutoBloomBits): Long = {
    val spark = df.sparkSession
    require(exists(spark, path), s"no snapshot table at $path")
    // the replay pre-check before writeBatch keeps a replayed call
    // from littering a second (invisible) data batch in the common
    // case; the in-lock re-check in commit() remains the authority
    commitKey.flatMap(versionOfCommitKey(spark, path, _)) match {
      case Some(v) => v
      case None =>
        val files = writeBatch(df, path, statsCols,
          bloomCols = bloomCols, bloomBits = bloomBits)
        commit(spark, path, files, OpAppend,
          parent => entriesOf(spark, path, parent), commitKey)
    }
  }

  /** Logically replace the table's content as a new version; prior
    * versions stay readable until expired. Deliberately LAST-WRITER-
    * WINS (no derived-from validation): an unconditional overwrite
    * replaces whatever the head holds — a racing append's rows are
    * superseded by the overwrite's SEMANTICS (and remain readable at
    * their own version), unlike compact/upsert whose content claims
    * to PRESERVE the head and so must validate it. */
  def commitOverwrite(df: DataFrame, path: String,
      statsCols: Seq[String] = Seq.empty): Long = {
    val spark = df.sparkSession
    require(exists(spark, path), s"no snapshot table at $path")
    val files = writeBatch(df, path, statsCols)
    commit(spark, path, files, OpOverwrite, _ => Seq.empty)
  }

  /** Restore version `v`'s content AS A NEW VERSION (audited
    * un-delete; nothing is removed). Like [[commitOverwrite]],
    * deliberately LAST-WRITER-WINS: a rollback UNCONDITIONALLY
    * restores `v` — a racing append is superseded by that semantics
    * (and stays readable at its own version), so no derived-from
    * validation applies. */
  def rollback(spark: SparkSession, path: String, v: Long): Long = {
    val files = entriesOf(spark, path, v) // throws on unknown v
    commit(spark, path, Seq.empty, OpRollback, _ => files)
  }

  /** Snapshot-isolated read of the current head: the version resolves
    * ONCE, then only its manifest's files are planned — concurrent
    * commits cannot change or tear the result. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no snapshot table at $path")
    readVersion(spark, path, vs.last)
  }

  /** Time travel to an exact retained version. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    val files = filesOf(spark, path, v)
    if (files.isEmpty)
      // an all-empty version (empty create/overwrite) still has a
      // schema-bearing empty parquet file, so this only guards a
      // manifest with zero rows — impossible via the writers above
      throw new NoSuchVersionException(s"version $v at $path lists no files")
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  /** FILE-SKIPPING time travel: plan only version `v`'s files whose
    * recorded `[stat_min, stat_max]` range (written by a commit with
    * `statsCol = Some(whereCol)`) overlaps `[lo, hi]` — the
    * Iceberg-manifest pruning shape, resolved from the tiny manifest
    * with NO data scan. Files without stats (older commits, other
    * stat columns, all-null stats) are always planned — unknown =
    * candidate, so the result is a SUPERSET of the exact range rows
    * and callers apply the real predicate on top (which Catalyst also
    * pushes into the surviving files' row groups). At 100 TB this is
    * the difference between touching one day's files and the table. */
  def readVersionWhere(
      spark: SparkSession, path: String, v: Long,
      whereCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo <= hi, s"empty range: [$lo, $hi]")
    val entries = entriesOf(spark, path, v)
    if (entries.isEmpty)
      throw new NoSuchVersionException(s"version $v at $path lists no files")
    val kept = entries.filter { e =>
      e.stats.get(whereCol) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true // unknown = candidate
      }
    }
    if (kept.isEmpty)
      // every file provably outside the range: an empty frame with
      // the version's schema, not an error
      readVersion(spark, path, v).limit(0)
    else spark.read.option("mergeSchema", "true")
      .parquet(kept.map(_.file): _*)
  }

  /** DATE/TIMESTAMP file-skipping time travel: bounds given as the
    * timestamp strings Spark's `cast(timestamp)` parses
    * ("2024-01-01", "2024-01-01 12:30:00") are converted through the
    * SAME [[statNorm]] expression the writer recorded the stats with
    * (epoch seconds, dates at session-time-zone midnight) — so a
    * time-range read over a date/timestamp-stat'd table plans only
    * the overlapping files, writer and reader domains identical by
    * construction. Same superset contract as [[readVersionWhere]]. */
  def readVersionWhereTime(
      spark: SparkSession, path: String, v: Long,
      whereCol: String, loTs: String, hiTs: String): DataFrame = {
    val (l, h) = timeBounds(spark, loTs, hiTs)
    readVersionWhere(spark, path, v, whereCol, l, h)
  }

  /** STRING file-skipping time travel: plan only version `v`'s files
    * whose recorded truncated UTF-8 bounds ([[truncLower]] /
    * [[truncUpper]], compared in [[strCmp]]'s byte order — Spark's own
    * string order) can overlap `[lo, hi]`. Equality is `lo == hi` —
    * the reference's hottest filter (`agency = 'EPA'`,
    * `convert_to_iceberg.py:1172-1176`) planned from the manifest
    * alone. Same superset contract as [[readVersionWhere]]: files
    * without string stats for the column always plan, truncated bounds
    * only widen, and callers apply the exact predicate on top. */
  def readVersionWhereStr(
      spark: SparkSession, path: String, v: Long,
      whereCol: String, lo: String, hi: String): DataFrame = {
    require(strCmp(lo, hi) <= 0, s"empty range: ['$lo', '$hi']")
    val entries = entriesOf(spark, path, v)
    if (entries.isEmpty)
      throw new NoSuchVersionException(s"version $v at $path lists no files")
    val kept = entries.filter(e =>
      strRangeHits(e.strStats.get(whereCol), lo, hi))
    if (kept.isEmpty) readVersion(spark, path, v).limit(0)
    else spark.read.option("mergeSchema", "true")
      .parquet(kept.map(_.file): _*)
  }

  /** KEY-SET file-skipping time travel (point lookups / IN-lists):
    * plan only version `v`'s files that can hold at least one of
    * `keys`, judged by BOTH recorded stat kinds — per-key min/max
    * overlap (selective on clustered layouts) and, where the commit
    * recorded them, per-file BLOOM membership (`bloomCols` — selective
    * on ANY layout, the case ranges cannot serve: an unclustered
    * table's every file spans the key space). Same superset contract
    * as the other `readVersionWhere*` forms: unknown = candidate,
    * bloom false positives only add files, and callers apply the
    * exact `isin` on top. */
  def readVersionWhereKeys(
      spark: SparkSession, path: String, v: Long,
      whereCol: String, keys: Seq[BigDecimal]): DataFrame = {
    require(keys.nonEmpty, "empty key list")
    requireNotTemporal(columnTypeAt(spark, path, v, whereCol),
      "readVersionWhereKeys", whereCol)
    val widened = keys.map(k =>
      (Math.nextDown(k.toDouble), Math.nextUp(k.toDouble)))
    keyPrunedRead(spark, path, v, whereCol,
      mmHits = e => e.stats.get(whereCol) match {
        case Some((mn, mx)) =>
          widened.exists { case (l, h) => mx >= l && mn <= h }
        case None => true
      },
      probeKeys = dt => bloomProbeLits(dt, keys))
  }

  /** STRING form of [[readVersionWhereKeys]] — id lookups on the
    * converted corpus's string keys. */
  def readVersionWhereKeysStr(
      spark: SparkSession, path: String, v: Long,
      whereCol: String, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "empty key list")
    require(!keys.contains(null), "null key")
    keyPrunedRead(spark, path, v, whereCol,
      mmHits = e => strKeyHits(e.strStats.get(whereCol), keys),
      probeKeys = {
        case dt: StringType => keys.map(k => lit(k).cast(dt.sql))
        case _              => Seq.empty
      })
  }

  private def keyPrunedRead(
      spark: SparkSession, path: String, v: Long, whereCol: String,
      mmHits: FileEntry => Boolean,
      probeKeys: DataType => Seq[Column]): DataFrame = {
    val entries = entriesOf(spark, path, v)
    if (entries.isEmpty)
      throw new NoSuchVersionException(s"version $v at $path lists no files")
    val hits = bloomRefined(spark, path, v, whereCol, probeKeys, mmHits)
    val kept = entries.filter(hits)
    if (kept.isEmpty) readVersion(spark, path, v).limit(0)
    else spark.read.option("mergeSchema", "true")
      .parquet(kept.map(_.file): _*)
  }

  /** ISO-ish timestamp bounds → the [[statNorm]] epoch-seconds
    * domain. try_to_timestamp: an unparseable bound must surface as
    * OUR IllegalArgumentException, not an ANSI cast error mid-job. */
  private def timeBounds(
      spark: SparkSession, loTs: String, hiTs: String): (Double, Double) = {
    val b = spark.range(1).select(
      try_to_timestamp(lit(loTs)).cast("double"),
      try_to_timestamp(lit(hiTs)).cast("double")).head()
    require(!b.isNullAt(0) && !b.isNullAt(1),
      s"unparseable timestamp bound: '$loTs' / '$hiTs'")
    (b.getDouble(0), b.getDouble(1))
  }

  /** The newest version committed at or before `tsMs` (epoch millis). */
  def versionAsOf(spark: SparkSession, path: String, tsMs: Long): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no snapshot table at $path")
    // one job over all retained manifests, not one per version
    Option(
        allManifests(spark, path, vs)
          .filter(col("ts_ms") <= tsMs)
          .agg(max(col("version"))).head().get(0))
      .map(_.asInstanceOf[Long])
      .getOrElse(throw new NoSuchVersionException(
        s"no version at or before ts_ms=$tsMs at $path"))
  }

  /** Time travel to the newest version committed at or before
    * `tsMs` (epoch millis). */
  def readAsOf(spark: SparkSession, path: String, tsMs: Long): DataFrame =
    readVersion(spark, path, versionAsOf(spark, path, tsMs))

  /** One file's recorded stat ranges in both domains ([[FileEntry]]'s
    * stats shape, minus the path). */
  private[graft] final case class FileStatRanges(
      num: Map[String, (Double, Double)] = Map.empty,
      str: Map[String, (String, String)] = Map.empty)

  /** NUMERIC per-file stat ranges (the [[statNorm]] double domain) for
    * the given scheme-less file paths, unioned across every retained
    * manifest. Stats travel with a file verbatim through appends, so
    * any retained manifest's row for a file is authoritative. Tiny
    * manifests; driver-side by design. */
  private[graft] def statsForFiles(
      spark: SparkSession, path: String,
      wanted: Set[String]): Map[String, Map[String, (Double, Double)]] =
    allFileStats(spark, path).collect {
      case (f, s) if wanted.contains(f) => f -> s.num
    }

  /** Every retained file's stat ranges in BOTH domains (scheme-less
    * path keyed) — the unfiltered form
    * [[graft.plans.SnapshotPruneRule]] memoizes per (table, version
    * set): version manifests are immutable once claimed, so the map is
    * valid until the version set changes. */
  private[graft] def allFileStats(
      spark: SparkSession, path: String)
      : Map[String, FileStatRanges] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) return Map.empty
    statProjection(allManifests(spark, path, vs))
      .filter(col("stat_col").isNotNull)
      .distinct()
      .collect()
      .toSeq
      .groupBy(r => new Path(r.getString(0)).toUri.getPath)
      .map { case (f, rows) =>
        val (num, str, _) = parseStatRows(rows)
        f -> FileStatRanges(num, str)
      }
  }

  /** The file-level delta of `(fromV, toV]` — the files `toV`'s
    * manifest holds that `fromV`'s lacks, refusing loudly when a
    * rewrite commit sits in the range (its files are not row-level
    * additions; serving them as a delta would double-count). `fromV`
    * of 0 means "from before the table existed" (every file of `toV`).
    * Shared by the batch CDC read and the streaming source
    * ([[graft.streaming.SnapshotSource]]) so both refuse identically. */
  private[graft] def appendedFilesBetween(
      spark: SparkSession, path: String,
      fromV: Long, toV: Long,
      tolerateCompaction: Boolean = false): Seq[String] = {
    require(fromV < toV, s"fromV ($fromV) must be < toV ($toV)")
    if (tolerateCompaction) {
      // per-STEP walk instead of the endpoint diff: each append/create
      // step contributes its own added files — still readable after a
      // later compact retires them from the head manifest, because
      // data files are immutable and [[expire]] keeps every file any
      // RETAINED manifest references (the step's own manifest). A
      // row-preserving compact step contributes nothing (its output
      // re-packs rows this walk already served, or rows from before
      // `fromV`); row-CHANGING rewrites still refuse identically.
      val steps = changeSteps(spark, path, fromV, toV)
      val bad = steps.filterNot(s =>
        s.op == OpCreate || s.op == OpAppend || s.op == OpCompact)
      require(bad.isEmpty,
        s"readAppendedBetween($fromV, $toV] crosses non-append commits " +
          bad.map(s => s"v${s.v}=${s.op}").mkString("(", ", ", ")") +
          " — a rewrite's files are not row-level additions" +
          " (readChangeFeed serves row-level changes across rewrites)")
      steps.filter(s => s.op == OpCreate || s.op == OpAppend)
        .flatMap(_.added)
    } else {
      val rewrites = history(spark, path)
        .filter(col("version") > fromV && col("version") <= toV)
        .filter(col("operation")
          .isin(OpOverwrite, OpRollback, OpCompact, OpUpsert, OpDelete))
        .select("version", "operation")
        .collect()
      require(rewrites.isEmpty,
        s"readAppendedBetween($fromV, $toV] crosses non-append commits " +
          rewrites.map(r => s"v${r.getLong(0)}=${r.getString(1)}")
            .mkString("(", ", ", ")") +
          " — a rewrite's files are not row-level additions")
      val before =
        if (fromV == 0L) Set.empty[String]
        else filesOf(spark, path, fromV).toSet
      filesOf(spark, path, toV).filterNot(before)
    }
  }

  /** Incremental (CDC-style) read: the rows ADDED between `fromV`
    * (exclusive) and `toV` (inclusive) — exactly the files in `toV`'s
    * manifest that `fromV`'s lacks. For append-only tables this is
    * the changelog a downstream consumer tails instead of re-reading
    * the world: resolving it is a manifest diff (metadata only), and
    * the read plans only the delta files. An overwrite/compact in the
    * range fails loudly — its new files are not row-level additions,
    * and serving them as a delta would double-count rewritten rows.
    *
    * `tolerateCompaction = true` lets the incremental read cross
    * row-preserving compact commits (small-file maintenance no longer
    * forces the consumer to stop): appended rows resolve per STEP from
    * each append's own manifest, so a later compact in the range
    * neither hides nor double-counts them. Row-changing rewrites
    * (upsert/delete/overwrite/rollback) still refuse — those need
    * [[readChangeFeed]]. Retention contract unchanged: every version
    * in the range must still be retained. */
  def readAppendedBetween(
      spark: SparkSession, path: String,
      fromV: Long, toV: Long,
      tolerateCompaction: Boolean = false): DataFrame = {
    val delta = appendedFilesBetween(spark, path, fromV, toV,
      tolerateCompaction)
    if (delta.isEmpty)
      // schema-stable empty delta: zero-row frame with toV's schema
      readVersion(spark, path, toV).limit(0)
    else spark.read.parquet(delta: _*)
  }

  /** The LIVE twin of [[readAppendedBetween]]: a Structured Streaming
    * source that TAILS the snapshot table — each micro-batch is the
    * appended-file delta of one version range `(lastCommitted, head]`,
    * resolved from the manifests alone (metadata-only planning, only
    * delta files scanned), with offsets = version numbers in the
    * engine's checkpoint log (so restart/replay is exactly-once: the
    * same version range always re-plans the same files). Refuses
    * across rewrite commits exactly like the batch read. Feeds the
    * existing incremental-dedup/indexing arms — the
    * `pipeline_cdc_dedup` loop without the polling
    * ([[graft.streaming.SnapshotSource]]; Delta/Iceberg streaming-
    * source semantics). `fromVersion` is EXCLUSIVE; 0 streams the
    * table from its first version. */
  def readChangesStream(
      spark: SparkSession, path: String,
      fromVersion: Long = 0L,
      tolerateCompaction: Boolean = false,
      maxVersionsPerBatch: Int = 0): DataFrame =
    spark.readStream
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", path)
      .option("startingVersion", fromVersion.toString)
      .option("tolerateCompaction", s"$tolerateCompaction")
      .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
      .load()

  /** Time-windowed [[readChangeFeed]]: the row-level changes of every
    * commit in `(fromTsMs, toTsMs]` wall-clock (manifest `ts_ms`) —
    * "what changed since last night's sync" without the caller
    * tracking versions (Delta CDF's startingTimestamp shape). The
    * window's endpoints resolve through [[versionAsOf]]'s newest-at-
    * or-before rule: a `fromTsMs` before the table existed starts at
    * the beginning, and an empty window (no commits between the two
    * resolved versions) returns the schema-stable zero-row feed. */
  def readChangeFeedTime(
      spark: SparkSession, path: String,
      fromTsMs: Long, toTsMs: Long,
      keyCols: Seq[String] = Seq.empty): DataFrame = {
    require(fromTsMs <= toTsMs,
      s"fromTsMs ($fromTsMs) must be <= toTsMs ($toTsMs)")
    val fromV =
      try versionAsOf(spark, path, fromTsMs)
      catch { case _: NoSuchVersionException => 0L }
    val toV = versionAsOf(spark, path, toTsMs) // throws: nothing to serve
    if (fromV >= toV)
      // built directly (not via a (toV-1, toV] feed limit(0)) so an
      // expired toV-1 manifest cannot refuse an EMPTY window
      readVersion(spark, path, toV).limit(0)
        .withColumn(ChangeTypeCol, lit(ChangeInsert))
        .withColumn(CommitVersionCol, lit(toV))
        .withColumn(CommitTsCol, lit(0L))
    else readChangeFeed(spark, path, fromV, toV, keyCols)
  }

  /** The LIVE twin of [[readChangeFeed]]: a Structured-Streaming
    * source serving the ROW-level change feed — each micro-batch is
    * one version range's changes (insert/delete/update images +
    * commit metadata columns), so a downstream consumer stays in sync
    * with a table under FULL maintenance (upserts, deletes, live
    * compaction) instead of only its append-only phase
    * ([[graft.streaming.SnapshotCdfSource]]; Delta's streaming
    * `readChangeFeed` contract). `keyCols` classifies same-commit
    * delete+insert pairs as update pre/post images, exactly as in the
    * batch read. */
  def readChangeFeedStream(
      spark: SparkSession, path: String,
      fromVersion: Long = 0L,
      keyCols: Seq[String] = Seq.empty,
      maxVersionsPerBatch: Int = 0): DataFrame = {
    val r = spark.readStream
      .format(classOf[graft.streaming.SnapshotCdfSourceProvider].getName)
      .option("path", path)
      .option("startingVersion", fromVersion.toString)
      .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
    (if (keyCols.isEmpty) r else r.option("keyCols", keyCols.mkString(",")))
      .load()
  }

  /** `_change_type` vocabulary of [[readChangeFeed]] (the Delta
    * change-data-feed naming, so downstream consumers written against
    * that convention port directly). */
  val ChangeInsert = "insert"
  val ChangeDelete = "delete"
  val ChangeUpdatePre = "update_preimage"
  val ChangeUpdatePost = "update_postimage"
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTsCol = "_commit_ts_ms"

  /** One committed step of the change walk: the version, its
    * operation and commit timestamp, and the FILE-level diff against
    * its parent (added = in this manifest but not the parent's,
    * removed = the reverse). */
  private final case class ChangeStep(
      v: Long, op: String, tsMs: Long,
      added: Seq[String], removed: Seq[String])

  /** Every step in `(fromV, toV]`, resolved from ONE read over the
    * range's manifests (the same O(versions)-jobs trap [[history]]
    * avoids applies to any per-version manifest loop). Versions are
    * allocated contiguously ([[claimVersion]] takes head+1), so step
    * `v`'s parent manifest is `v-1`; the walk therefore needs every
    * manifest in `[max(fromV,1), toV]` retained and refuses loudly on
    * an expired one — never a silently wrong diff. */
  private def changeSteps(
      spark: SparkSession, path: String,
      fromV: Long, toV: Long): Seq[ChangeStep] = {
    require(fromV < toV, s"fromV ($fromV) must be < toV ($toV)")
    val vs = versions(spark, path)
    require(vs.contains(toV),
      s"no snapshot v$toV at $path (have: ${vs.mkString(",")})")
    val needed = math.max(fromV, 1L) to toV
    val missing = needed.filterNot(vs.contains)
    require(missing.isEmpty,
      s"change walk ($fromV, $toV] needs manifests " +
        s"v${needed.head}..v$toV but v${missing.mkString(",v")} " +
        "expired — an expired step cannot be diffed")
    val rows = allManifests(spark, path, needed)
      .select("version", "operation", "ts_ms", "file")
      .distinct().collect()
    val byV = rows.groupBy(_.getLong(0))
    val fileSets = byV.map { case (v, rs) =>
      v -> rs.map(_.getString(3)).toSet
    }
    ((fromV + 1L) to toV).map { v =>
      val rs = byV(v)
      val cur = fileSets(v)
      val prev = if (v == 1L) Set.empty[String] else fileSets(v - 1L)
      ChangeStep(v, rs.head.getString(1), rs.head.getLong(2),
        (cur -- prev).toSeq.sorted, (prev -- cur).toSeq.sorted)
    }
  }

  /** ROW-level change feed of `(fromV, toV]` — every change the
    * table's commits made, as a frame of the table's columns plus
    * [[ChangeTypeCol]] (insert/delete/update_preimage/
    * update_postimage), [[CommitVersionCol]], and [[CommitTsCol]] —
    * the Delta CDF / Iceberg changelog-scan shape. Unlike
    * [[readAppendedBetween]] this does NOT refuse across rewrites:
    *
    *   - append/create steps serve their added files as inserts —
    *     metadata-resolved, NO diff computation;
    *   - compact steps (incl. clustered/z-ordered) emit NOTHING: a
    *     compact is row-preserving by contract (Delta's
    *     `dataChange=false` commits are likewise invisible to CDF);
    *   - upsert/delete/overwrite/rollback steps diff ONLY the files
    *     the commit touched: rows in removed-but-not-added files are
    *     deletes, added-but-not-removed are inserts, computed as a
    *     multiset diff (one ±1-tagged aggregate — exceptAll's exact
    *     semantics in both directions at half its cost) so rows
    *     carried VERBATIM through a rewrite cancel out and never
    *     appear as churn.
    *
    * `keyCols` (optional) classifies same-commit delete+insert pairs
    * sharing a key as update_preimage/update_postimage — the manifest
    * does not record the upsert's key, so the CALLER names it; with
    * no key every update surfaces as delete + insert (same multiset,
    * coarser labels). Rows whose key appears on both sides classify
    * as updates even when several rows share the key.
    *
    * 100 TB posture: cost is proportional to what each commit
    * TOUCHED, not to the table — append steps are planning-only, and
    * a scoped upsert/delete diffs just its scope's files (ONE hash
    * shuffle over those rows for the tagged aggregate; ALL rewrite
    * steps' churn-only diffs are unioned and localCheckpoint'ed in a
    * single job per window, so a multi-rewrite window pays one
    * scheduling round, and both diff directions and the key
    * classification never re-run the touched-file scans; with
    * `keyCols`, the update marker is one window computed inside that
    * same checkpoint job — classification is a projection, never a
    * join). A whole-table
    * overwrite/rollback costs a full
    * two-version diff — inherent to serving row-level changes for a
    * total replace, and still bounded by the two versions, never the
    * version count. Schema evolution across steps null-fills through
    * the final union-by-name. Retention: every version in the range
    * must be retained ([[changeSteps]] refuses on an expired one). */
  def readChangeFeed(
      spark: SparkSession, path: String,
      fromV: Long, toV: Long,
      keyCols: Seq[String] = Seq.empty): DataFrame = {
    val steps = changeSteps(spark, path, fromV, toV)
    def readFiles(files: Seq[String]): DataFrame =
      spark.read.option("mergeSchema", "true").parquet(files: _*)
    def stamp(df: DataFrame, tpe: String, st: ChangeStep): DataFrame = df
      .withColumn(ChangeTypeCol, lit(tpe))
      .withColumn(CommitVersionCol, lit(st.v))
      .withColumn(CommitTsCol, lit(st.tsMs))
    // align both diff sides to one column list (post's order, pre's
    // extras appended; a column one side lacks null-fills) so the
    // positional exceptAll compares the same columns
    def aligned(pre: DataFrame, post: DataFrame)
        : (DataFrame, DataFrame) = {
      val cols = post.schema.fields ++
        pre.schema.fields.filterNot(f => post.columns.contains(f.name))
      def al(df: DataFrame) = df.select(cols.toSeq.map { f =>
        // cast even the present columns: a widened type (int→long
        // evolution) must not schema-mismatch the positional exceptAll
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
      (al(pre), al(post))
    }
    // ---- rewrite-step diffs: computed lazily per step, UNIONED and
    // checkpointed in ONE job for the whole window (a multi-rewrite
    // window formerly paid one eager checkpoint job per step; batching
    // scans every step's touched files in a single job — one scheduling
    // round, better cluster fill — and the per-step slices below read
    // the one checkpointed churn-only frame). Each step's diff is ONE
    // tagged aggregate computing BOTH exceptAll directions:
    // `post.exceptAll(pre)` + `pre.exceptAll(post)` would each plan
    // their own union+aggregate over pre ∪ post (two scans of every
    // touched file, two full exchanges); tagging sides ±1 and grouping
    // once yields the same multisets — a surplus of n on a row is
    // exactly n exceptAll survivors on that side, with the identical
    // null/NaN/-0.0 grouping semantics (RewriteExceptAll itself plans
    // an Aggregate over these columns).
    val reserved = Seq("_graft_d", "_graft_i", "_graft_v", "_graft_upd")
    def isRewrite(st: ChangeStep): Boolean = st.op match {
      case OpCreate | OpAppend | OpCompact => false
      case _ => st.removed.nonEmpty && st.added.nonEmpty
    }
    val rewriteDiffs: Map[Long, (Seq[String], DataFrame)] = {
      val perStep = steps.filter(isRewrite).map { st =>
        val (pre, post) =
          aligned(readFiles(st.removed), readFiles(st.added))
        val dataCols = post.columns.toSeq
        val clash = dataCols.filter(reserved.contains)
        require(clash.isEmpty,
          s"change feed reserves column name(s) ${clash.mkString(", ")}" +
            " — rename them in the table (ADVICE r18: a user column" +
            " named _graft_d would silently become the diff tag)")
        val diff = post.withColumn("_graft_d", lit(1L))
          .unionByName(pre.withColumn("_graft_d", lit(-1L)))
          .groupBy(dataCols.map(col): _*)
          .agg(sum(col("_graft_d")).as("_graft_d"))
          .filter(col("_graft_d") =!= 0L)
          .withColumn("_graft_v", lit(st.v))
        (st.v, dataCols, diff)
      }
      if (perStep.isEmpty) Map.empty
      else {
        // keyed feeds also fold the update marker INTO the one
        // checkpointed frame: a key is an update iff it has surplus
        // rows in BOTH directions within its step — one window over
        // (step, key) computed in the same checkpoint job. The former
        // shape re-derived that set per classify arm (an aggregate +
        // broadcast + left join for ins AND del of EVERY rewrite step
        // — 4 extra passes over the churn per 2-step window); now the
        // slices read the marker as a column. Null keys never matched
        // the old join (null ≠ null in a join), so the marker is
        // pinned false there — window partitioning alone would group
        // nulls together and silently re-classify them.
        val all0 = perStep.map(_._3)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val all = (if (keyCols.isEmpty) all0 else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(("_graft_v" +: keyCols).map(col): _*)
          all0.withColumn("_graft_upd",
            keyCols.map(col(_).isNotNull).reduce(_ && _) &&
              max(col("_graft_d") > 0L).over(w) &&
              max(col("_graft_d") < 0L).over(w))
        }).localCheckpoint(true)
        val sliceCols =
          if (keyCols.isEmpty) Seq("_graft_d") else Seq("_graft_d", "_graft_upd")
        perStep.map { case (v, dataCols, _) =>
          v -> (dataCols, all.filter(col("_graft_v") === v)
            .select((dataCols ++ sliceCols).map(col): _*))
        }.toMap
      }
    }
    val frames = steps.flatMap { st =>
      st.op match {
        case OpCreate | OpAppend =>
          if (st.added.isEmpty) None
          else Some(stamp(readFiles(st.added), ChangeInsert, st))
        case OpCompact => None // row-preserving rewrite: no data change
        case _ =>
          (st.removed.nonEmpty, st.added.nonEmpty) match {
            case (false, false) => None // untouched-files-only commit
            case (true, false) =>
              // e.g. a delete that emptied every touched file
              Some(stamp(readFiles(st.removed), ChangeDelete, st))
            case (false, true) =>
              Some(stamp(readFiles(st.added), ChangeInsert, st))
            case (true, true) =>
              val (dataCols, diff) = rewriteDiffs(st.v)
              // surplus replication materializes an n-element array
              // per distinct row (n = multiplicity surplus) where
              // RewriteExceptAll streams through ReplicateRows —
              // acceptable for realistic churn (a surplus that large
              // means millions of IDENTICAL rows changed in one
              // commit); a corpus with huge same-row multiplicities
              // should exact-dedup upstream (ADVICE r18, noted).
              def surplus(side: org.apache.spark.sql.Column): DataFrame =
                diff.filter(side > 0L)
                  .withColumn("_graft_i",
                    explode(sequence(lit(1L), side)))
                  .drop("_graft_d", "_graft_i")
              val ins = surplus(col("_graft_d"))
              val del = surplus(-col("_graft_d"))
              if (keyCols.isEmpty)
                Some(stamp(ins, ChangeInsert, st)
                  .unionByName(stamp(del, ChangeDelete, st)))
              else {
                // the update marker (a key with surplus in BOTH
                // directions) rides the checkpointed diff as the
                // `_graft_upd` column — see rewriteDiffs above —
                // so classification is a projection, not a join
                val marker = "_graft_upd"
                def classify(df: DataFrame, upd: String,
                    plain: String): DataFrame = df
                  .withColumn(ChangeTypeCol,
                    when(col(marker), upd).otherwise(plain))
                  .drop(marker)
                  .withColumn(CommitVersionCol, lit(st.v))
                  .withColumn(CommitTsCol, lit(st.tsMs))
                Some(classify(ins, ChangeUpdatePost, ChangeInsert)
                  .unionByName(
                    classify(del, ChangeUpdatePre, ChangeDelete)))
              }
          }
      }
    }
    if (frames.isEmpty)
      stamp(readVersion(spark, path, toV).limit(0), ChangeInsert,
        ChangeStep(toV, "", 0L, Nil, Nil))
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Keyed MERGE as a COMMIT: [[Upsert.mergeFrames]] semantics
    * (latest `(versionCol, tiebreakCol)` per key wins across head ∪
    * updates) committed as a new version (operation "upsert") — the
    * time-travelable MERGE: every pre-merge state stays readable, a
    * bad upsert is one `rollback` away, and a reader racing the merge
    * sees old-or-new (snapshot isolation). Cost: one hash shuffle on
    * the key over head ∪ updates + a FULL-TABLE rewrite — at 100 TB use
    * [[commitUpsertScoped]], which rewrites only the files whose
    * recorded scope-stat range the updates touch. */
  def commitUpsert(
      updates: DataFrame,
      path: String,
      keyCols: Seq[String],
      versionCol: String,
      tiebreakCol: String): Long = {
    val spark = updates.sparkSession
    commitRewrite(spark, path, OpUpsert, head => {
      // a full rewrite REPLACES every file: re-record the head's
      // stat/bloom column unions so the merge never silently degrades
      // pruning the table had before it
      val entries = entriesOf(spark, path, head)
      (Upsert.mergeFrames(readVersion(spark, path, head), updates,
        keyCols, versionCol, tiebreakCol),
        Seq.empty,
        entries.flatMap(e => e.stats.keys ++ e.strStats.keys).distinct,
        bloomColUnion(entries))
    })
  }

  /** The stat-column UNION of the touched files across BOTH domains,
    * plus the op's own column — what a scoped rewrite re-records so no
    * future pruning degrades (the writer re-derives each column's
    * domain from its dtype). */
  private def statColUnion(
      touched: Seq[FileEntry], opCol: String): Seq[String] =
    (touched.flatMap(e => e.stats.keys ++ e.strStats.keys) :+ opCol)
      .distinct

  /** The bloom-column UNION of the touched files (names only — the
    * manifest marker, never the bytes): what a rewrite re-records so
    * repeated key deletes/lookups stay file-skipping on the rewritten
    * output instead of degrading one erasure at a time. */
  private def bloomColUnion(touched: Seq[FileEntry]): Seq[String] =
    touched.flatMap(_.bloomColsRecorded).distinct

  /** SCOPE-PRUNED MERGE: rewrite ONLY the head files whose recorded
    * `scopeCol` stat range can hold one of the updates' scope values;
    * every other file is carried into the new version UNCHANGED (a
    * manifest pointer copy, zero data movement) — the
    * partition-scoped merge that keeps a 1k-key upsert into a 100 TB
    * table from rewriting the table ([[commitUpsert]]'s scaladoc
    * concession closed).
    *
    * Correctness contract (same as any partition-scoped MERGE):
    * `scopeCol` must be FUNCTIONALLY DETERMINED by the key — a key's
    * rows always carry one scope value, so a key can never also live
    * in a file the scope pruning skipped. Files without recorded
    * `scopeCol` stats are always rewritten (unknown = candidate), so
    * a table committed without stats degrades to the full rewrite,
    * never to a wrong answer. The rewritten batch re-records
    * `scopeCol` stats, keeping subsequent scoped merges selective.
    *
    * Scale: the merge shuffles only the TOUCHED files' rows ∪
    * updates on the key; the untouched 99% of the table moves only as
    * manifest rows. Updates' distinct scope values are collected to
    * the driver — bounded by the number of touched partitions, the
    * quantity this API exists to keep small. Same conflict posture as
    * every rewrite: derived-from validation + re-derive on a lost
    * race ([[commitRewrite]]). */
  def commitUpsertScoped(
      updates: DataFrame,
      path: String,
      keyCols: Seq[String],
      versionCol: String,
      tiebreakCol: String,
      scopeCol: String): Long = {
    val spark = updates.sparkSession
    // the touched-file predicate in the scope column's OWN stat
    // domain: strings probe the truncated UTF-8 bounds (a scoped merge
    // on `agency` — the reference's partition key — rewrites only that
    // agency's files), everything else the statNorm double domain
    val touches: FileEntry => Boolean =
      updates.schema(scopeCol).dataType match {
        case _: StringType =>
          val vals = updates.select(col(scopeCol)).distinct().collect()
            .map { r =>
              require(!r.isNullAt(0),
                s"scoped upsert: updates carry a NULL $scopeCol — null " +
                  "has no stat range to prune on; use commitUpsert")
              r.getString(0)
            }
          e => strKeyHits(e.strStats.get(scopeCol), vals.toSeq)
        case dt =>
          val vals = updates
            .select(statNorm(dt, col(scopeCol)).as("__s"))
            .distinct().collect().map { r =>
              require(!r.isNullAt(0),
                s"scoped upsert: updates carry a NULL $scopeCol — null " +
                  "has no stat range to prune on; use commitUpsert")
              val v = r.getDouble(0)
              require(!v.isNaN,
                s"scoped upsert: updates carry a NaN $scopeCol — NaN is " +
                  "in no stat range, so its keys could silently " +
                  "duplicate; use commitUpsert")
              v
            }
          e => e.stats.get(scopeCol) match {
            case Some((lo, hi)) => vals.exists(v => lo <= v && v <= hi)
            case None           => true // no stats: must rewrite
          }
      }
    commitRewrite(spark, path, OpUpsert, head => {
      val (touched, kept) = entriesOf(spark, path, head).partition(touches)
      val target =
        if (touched.isEmpty) readVersion(spark, path, head).limit(0)
        else spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.file): _*)
      (Upsert.mergeFrames(target, updates, keyCols, versionCol,
        tiebreakCol), kept, statColUnion(touched, scopeCol),
        bloomColUnion(touched))
    })
  }

  /** lit(BigDecimal) is bounded by DecimalType(38): fail HERE with a
    * usage error, not mid-commit with a Decimal overflow (e.g. a
    * '1e39' open-ended-max idiom — use a representable max instead).
    * All three terms matter: total precision ≤ 38 (30 integer + 9
    * fraction digits is precision 39 and also unrepresentable), scale
    * ≤ 38, and integer digits ≤ 38 (negative scale from stripped
    * zeros, e.g. 1e39). */
  private def checkDecimalBound(b: BigDecimal): Unit = {
    val norm = b.underlying.stripTrailingZeros
    require(norm.precision <= 38 && norm.scale <= 38 &&
        norm.precision - norm.scale <= 38,
      s"delete bound $b does not fit decimal(38) — " +
        "use a bound within ±1e38 with at most 38 significant digits")
  }

  /** RANGE-SCOPED DELETE as a COMMIT: remove every row whose
    * `whereCol` falls in `[lo, hi]` by rewriting ONLY the files whose
    * recorded stat range overlaps the deletion range; every other
    * file carries into the new version as a manifest pointer — the
    * retention/right-to-erasure delete at lakehouse scale (touch one
    * day's files, not the table).
    *
    * Bounds are EXACT `BigDecimal`s — the ONLY numeric entry point,
    * so an Int/Long/Double argument converts through the standard
    * implicit views (exact for every Int and Long; a lossy Double
    * overload would silently capture Long arguments by numeric
    * widening and round 2^53+ keys). Deletion is authoritative and
    * destructive, so the row predicate compares the column against
    * the exact decimal bounds (Spark widens both sides to decimal —
    * a 64-bit key above 2^53, where a double-domain compare would
    * round, deletes correctly). The lossy double domain is used only
    * for FILE selection, with the bounds widened one ULP outward —
    * a superset, never a miss. Files without `whereCol` stats always
    * rewrite (unknown = candidate — degrade to a full rewrite, never
    * a missed delete); rows with a NULL `whereCol` are never deleted
    * (NULL is in no range); a range that provably overlaps NO file is
    * a NO-OP returning the current head (no junk version). Rewritten
    * files re-record the union of the touched files' stat columns so
    * no future pruning degrades. Prior versions retain the deleted
    * rows until [[expire]] — deletion becomes durable against time
    * travel only once the old manifests are expired, the standard
    * table-format erasure contract. Same conflict posture as every
    * rewrite ([[commitRewrite]]). */
  def commitDeleteWhere(
      spark: SparkSession, path: String,
      whereCol: String, lo: BigDecimal, hi: BigDecimal): Long = {
    require(lo <= hi, s"empty range: [$lo, $hi]")
    checkDecimalBound(lo); checkDecimalBound(hi)
    // file selection in the double stat domain, widened outward so
    // rounding can only ADD candidate files
    val loD = Math.nextDown(lo.toDouble)
    val hiD = Math.nextUp(hi.toDouble)
    def split(head: Long): (Seq[FileEntry], Seq[FileEntry]) =
      entriesOf(spark, path, head).partition { e =>
        e.stats.get(whereCol) match {
          case Some((mn, mx)) => mx >= loD && mn <= hiD
          case None           => true // no stats: must rewrite
        }
      }
    // no-op short-circuit: stats prove no file can hold a matching
    // row — return the head instead of committing a junk version
    // (the head is re-validated inside commitRewrite if we proceed)
    val head0 = versions(spark, path).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshot table at $path"))
    if (split(head0)._1.isEmpty) return head0
    commitRewrite(spark, path, OpDelete, head => {
      val (touched, kept) = split(head)
      val target =
        if (touched.isEmpty) readVersion(spark, path, head).limit(0)
        else spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.file): _*)
      val inRange = target.schema(whereCol).dataType match {
        // temporal columns compare in the epoch-seconds stat domain
        // (double ULP at epoch scale is ~0.24 µs — below parquet's
        // microsecond grain, so exact)
        case dt @ (DateType | TimestampType | TimestampNTZType) =>
          statNorm(dt, col(whereCol)).between(lo.toDouble, hi.toDouble)
        // numeric columns compare against the EXACT decimal bounds
        case _ => col(whereCol).between(lit(lo), lit(hi))
      }
      // NULL whereCol: inRange is NULL → coalesce keeps the row
      (target.filter(!coalesce(inRange, lit(false))), kept,
        statColUnion(touched, whereCol), bloomColUnion(touched))
    })
  }

  /** DATE/TIMESTAMP form of [[commitDeleteWhere]]: bounds as the
    * timestamp strings `cast(timestamp)` parses, converted through
    * the SAME normalization the stats were recorded with. */
  def commitDeleteWhereTime(
      spark: SparkSession, path: String,
      whereCol: String, loTs: String, hiTs: String): Long = {
    val (l, h) = timeBounds(spark, loTs, hiTs)
    commitDeleteWhere(spark, path, whereCol, BigDecimal(l), BigDecimal(h))
  }

  /** STRING form of [[commitDeleteWhere]]: remove every row whose
    * `whereCol` falls in `[lo, hi]` (UTF-8 binary order — Spark's own
    * string comparison), rewriting only the files whose truncated
    * string stats overlap. `lo == hi` deletes one exact value — e.g.
    * one agency's rows from the converted corpus. Truncated bounds
    * widen only (superset file selection, never a miss); the row
    * predicate compares full strings exactly. Same NULL-survives /
    * no-op / stat-re-record / expire-durability contract as the
    * numeric form. */
  def commitDeleteWhereStr(
      spark: SparkSession, path: String,
      whereCol: String, lo: String, hi: String): Long = {
    require(strCmp(lo, hi) <= 0, s"empty range: ['$lo', '$hi']")
    def split(head: Long): (Seq[FileEntry], Seq[FileEntry]) =
      entriesOf(spark, path, head).partition(e =>
        strRangeHits(e.strStats.get(whereCol), lo, hi))
    val head0 = versions(spark, path).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshot table at $path"))
    if (split(head0)._1.isEmpty) return head0
    commitRewrite(spark, path, OpDelete, head => {
      val (touched, kept) = split(head)
      val target =
        if (touched.isEmpty) readVersion(spark, path, head).limit(0)
        else spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.file): _*)
      val inRange = col(whereCol).between(lit(lo), lit(hi))
      (target.filter(!coalesce(inRange, lit(false))), kept,
        statColUnion(touched, whereCol), bloomColUnion(touched))
    })
  }

  /** KEY-SET DELETE as a COMMIT — the erasure-request shape (ids
    * arrive as a list, not a range): remove every row whose `keyCol`
    * equals one of `keys`, rewriting ONLY the files whose recorded
    * stat range can hold at least one key; every other file carries as
    * a manifest pointer. Keys are EXACT decimals (same reasoning as
    * [[commitDeleteWhere]]: a 2^53+ id must not round through a
    * double — the row predicate compares in widened decimal, exactly);
    * per-key file probes run in the double domain widened one ULP
    * outward, a provable superset. The key list is collected
    * driver-side by contract — erasure requests are small; for bulk
    * deletes use the range form. Files without `keyCol` stats always
    * rewrite (degrade to full rewrite, never a missed delete); NULL
    * keys never match (IN semantics); a key set provably absent from
    * every file is a no-op at the current head. Not for temporal
    * columns (the IN compares raw column values, not the epoch-seconds
    * stat domain) — use [[commitDeleteWhereTime]] ranges there. */
  def commitDeleteKeys(
      spark: SparkSession, path: String,
      keyCol: String, keys: Seq[BigDecimal]): Long = {
    require(keys.nonEmpty, "key-set delete: empty key list")
    keys.foreach(checkDecimalBound)
    val widened = keys.map(k =>
      (Math.nextDown(k.toDouble), Math.nextUp(k.toDouble)))
    deleteByHits(spark, path, keyCol,
      hits = e => e.stats.get(keyCol) match {
        case Some((mn, mx)) =>
          widened.exists { case (l, h) => mx >= l && mn <= h }
        case None => true // no stats: must rewrite
      },
      rowMatches = col(keyCol).isin(keys: _*),
      guardType = dt =>
        requireNotTemporal(dt, "commitDeleteKeys", keyCol),
      probeKeys = dt => bloomProbeLits(dt, keys))
  }

  /** STRING key-set delete — erasure by document/comment id, the
    * converted corpus's actual key type. Same contract as
    * [[commitDeleteKeys]]; file probes run against the truncated
    * string stats ([[strCmp]] byte order), the row predicate compares
    * full strings exactly. */
  def commitDeleteKeysStr(
      spark: SparkSession, path: String,
      keyCol: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "key-set delete: empty key list")
    require(!keys.contains(null), "key-set delete: null key")
    deleteByHits(spark, path, keyCol,
      hits = e => e.strStats.get(keyCol) match {
        case Some((mn, mx)) =>
          keys.exists(k => strCmp(mn, k) <= 0 && strCmp(k, mx) <= 0)
        case None => true // no stats: must rewrite
      },
      rowMatches = col(keyCol).isin(keys: _*),
      guardType = _ => (),
      probeKeys = {
        case dt: StringType => keys.map(k => lit(k).cast(dt.sql))
        case _              => Seq.empty
      })
  }

  /** Key literals typed at `dt` for the bloom probe — the SAME values
    * `xxhash64` saw at write time. Keys a column of type `dt` cannot
    * represent are DROPPED from the probe (no row of that type can
    * equal them, so excluding a file on their account is sound — and
    * never cast-overflowed under ANSI). An unsupported type returns
    * empty → no bloom pruning (min/max still applies). */
  private def bloomProbeLits(
      dt: DataType, keys: Seq[BigDecimal]): Seq[Column] = dt match {
    case LongType    => keys.filter(_.isValidLong).map(k => lit(k.toLong))
    case IntegerType => keys.filter(_.isValidInt).map(k => lit(k.toInt))
    case ShortType   => keys.filter(_.isValidShort).map(k => lit(k.toShort))
    case ByteType    => keys.filter(_.isValidByte).map(k => lit(k.toByte))
    case DoubleType  => keys.map(k => lit(k.toDouble))
    case FloatType   => keys.map(k => lit(k.toFloat))
    case d: DecimalType =>
      keys.filter { k =>
        val n = k.underlying.stripTrailingZeros
        n.scale <= d.scale && n.precision - n.scale <= d.precision - d.scale
      }.map(k => lit(k).cast(s"decimal(${d.precision},${d.scale})"))
    case _ => Seq.empty
  }

  /** Bloom verdicts for version `v`'s files on `keyCol`: (files with a
    * type-matching bloom, files whose bloom MIGHT contain one of the
    * keys). Resolved IN SPARK over the version's manifest — the 16 KB
    * sketches never land on the driver; only file names do. None when
    * the manifest carries no usable blooms (no column, no rows, or a
    * recorded type other than `dt` — a type-evolved bloom must be
    * VOIDED, not probed: a hash computed at the wrong width would
    * false-negative and drop a file that holds the key). */
  private def bloomSurvivors(
      spark: SparkSession, pm: DataFrame,
      keyCol: String, dt: DataType, keyLits: Seq[Column])
      : Option[(Set[String], Set[String])] = {
    graft.functions.GraftFunctions.register(spark)
    val rows = pm.filter(col("stat_col") === keyCol &&
        col("stat_bloom").isNotNull &&
        col("stat_bloom_type") === dt.sql)
      .select(col("file"),
        keyLits.map(k => graft.functions.BloomExprs.bloom_might_contain(
          col("stat_bloom"), xxhash64(k), BloomK)).reduce(_ || _)
          .as("__hit"))
      .collect()
    if (rows.isEmpty) None
    else Some((rows.map(_.getString(0)).toSet,
      rows.filter(_.getBoolean(1)).map(_.getString(0)).toSet))
  }

  /** `colName`'s dtype at version `v`, from ONE footer — not a
    * mergeSchema pass over every file (~0.3 s of pure planning at 64
    * files, measured by the retired BloomPruneProbe, SCALE_PROBES.md).
    * For bloom probing any file's
    * schema is a sound choice: the dtype only selects WHICH recorded
    * bloom type gets probed, and rows of other types void to no-bloom
    * (candidates). */
  private def columnTypeAt(
      spark: SparkSession, path: String, v: Long,
      colName: String): Option[DataType] =
    scala.util.Try(
      filesOf(spark, path, v).headOption.flatMap(f =>
        spark.read.parquet(f).schema.fields
          .find(_.name == colName).map(_.dataType))).toOption.flatten

  /** Key-probe misuse guard, applied BEFORE any no-op short-circuit:
    * on a temporal column the numeric key APIs would compare raw keys
    * against epoch-seconds stat ranges — at best a silent no-op, at
    * worst (the read form) wrongly excluded files. Refuse loudly. */
  private def requireNotTemporal(
      dt: Option[DataType], what: String, colName: String): Unit =
    dt.foreach(d =>
      require(!(d == DateType || d == TimestampType ||
          d == TimestampNTZType),
        s"$what on temporal column $colName — keys would probe raw " +
          "values against epoch-seconds stats; use the time-range " +
          "forms (readVersionWhereTime / commitDeleteWhereTime)"))

  /** [[FileEntry]] hit-predicate refined by the bloom verdict at
    * version `v`: a file with a type-matching bloom that rules out
    * EVERY key is excluded; everything else falls back to `mmHits`
    * (min/max or always-candidate). A version with no bloom on
    * `keyCol` pays only the [[entriesOf]] check (no collect, no footer
    * read). */
  private def bloomRefined(
      spark: SparkSession, path: String, v: Long, keyCol: String,
      probeKeys: DataType => Seq[Column],
      mmHits: FileEntry => Boolean): FileEntry => Boolean = {
    if (!entriesOf(spark, path, v).exists(_.bloomColsRecorded(keyCol)))
      return mmHits
    val verdict = columnTypeAt(spark, path, v, keyCol).flatMap { d =>
      val lits = probeKeys(d)
      if (lits.isEmpty) None
      else bloomSurvivors(spark, manifestDf(spark, path, v), keyCol, d,
        lits)
    }
    verdict match {
      case Some((withBloom, might)) =>
        e => mmHits(e) && (!withBloom.contains(e.file) ||
          might.contains(e.file))
      case None => mmHits
    }
  }

  /** Shared key-set delete engine: stat-probe file selection (min/max
    * AND, where recorded, per-file blooms — the path that prunes on
    * UNCLUSTERED layouts) + anti-IN rewrite of touched files only,
    * with the range-delete family's no-op short-circuit,
    * NULL-survives semantics, stat-union re-record, and rewrite
    * conflict posture. `guardType` runs on the key column's dtype
    * BEFORE the no-op check — a domain-misuse refusal must fire even
    * when the mismatch makes every probe miss. */
  private def deleteByHits(
      spark: SparkSession, path: String, keyCol: String,
      hits: FileEntry => Boolean,
      rowMatches: Column,
      guardType: Option[DataType] => Unit,
      probeKeys: DataType => Seq[Column]): Long = {
    val head0 = versions(spark, path).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshot table at $path"))
    guardType(columnTypeAt(spark, path, head0, keyCol))
    def hitsAt(v: Long): FileEntry => Boolean =
      bloomRefined(spark, path, v, keyCol, probeKeys, hits)
    val h0 = hitsAt(head0)
    if (!entriesOf(spark, path, head0).exists(h0)) return head0
    commitRewrite(spark, path, OpDelete, head => {
      val hh = if (head == head0) h0 else hitsAt(head)
      val (touched, kept) = entriesOf(spark, path, head).partition(hh)
      val target =
        if (touched.isEmpty) readVersion(spark, path, head).limit(0)
        else spark.read.option("mergeSchema", "true")
          .parquet(touched.map(_.file): _*)
      // NULL keyCol: rowMatches is NULL → coalesce keeps the row
      (target.filter(!coalesce(rowMatches, lit(false))), kept,
        statColUnion(touched, keyCol), bloomColUnion(touched))
    })
  }

  /** Small-file maintenance as a COMMIT: rewrite the head's content
    * into one fresh batch of `targetFiles` files and commit it as a
    * new version (operation "compact"). Nothing is deleted — prior
    * versions still read their original files until [[expire]]; a
    * reader racing the compaction sees old-or-new, never a mix (the
    * snapshot-isolation property). */
  def compact(spark: SparkSession, path: String,
      targetFiles: Int = 8): Long = {
    require(targetFiles >= 1, s"targetFiles must be ≥ 1: $targetFiles")
    // deliberately records NO stats/blooms: a whole-table merge's
    // per-file ranges span everything (useless) and skipping the
    // stats scan keeps compact() a pure rewrite; use
    // [[compactClustered]]/[[compactZOrdered]] when pruning matters
    commitRewrite(spark, path, OpCompact, head => (
      readVersion(spark, path, head).repartition(targetFiles),
      Seq.empty, Seq.empty, Seq.empty))
  }

  /** RANGE-CLUSTERED compaction as a COMMIT: the head's content
    * rewritten range-partitioned on `clusterCols` (any types — the
    * string path z-order's numeric approx-quantile key cannot serve)
    * with per-file stats recorded on every cluster column. THE
    * maintenance op that makes a streamed/converted corpus prunable
    * after the fact: ingestion lands agency-mixed files (every file's
    * agency range spans the alphabet — stats exist but select
    * nothing); one clustering commit later, each file holds one
    * contiguous (agency, postedDate) slice and the equality/range
    * reads plan only their files. Same non-destructive versioned
    * lifecycle and conflict posture as [[compact]]. */
  def compactClustered(
      spark: SparkSession, path: String,
      clusterCols: Seq[String],
      targetFiles: Int = 8): Long = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(targetFiles >= 1, s"targetFiles must be ≥ 1: $targetFiles")
    commitRewrite(spark, path, OpCompact, head => {
      val entries = entriesOf(spark, path, head)
      // stat union ∪ clusterCols: the rewrite must not silently drop
      // stats the head's files carried on OTHER columns (the same
      // no-degradation rule the scoped upsert/delete apply)
      val stats = (entries.flatMap(e => e.stats.keys ++ e.strStats.keys)
        ++ clusterCols).distinct
      (readVersion(spark, path, head)
        .repartitionByRange(targetFiles, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*),
        Seq.empty, stats, bloomColUnion(entries))
    })
  }

  /** Z-CLUSTERED compaction as a COMMIT: the head's content rewritten
    * through [[Layout.zOrdered]] (approx-quantile z-key — safe at any
    * scale, no global ranking window) into `targetFiles` files, with
    * per-file min/max over `colA` recorded in the manifest — so after
    * this commit [[readVersionWhere]] on `colA` actually skips files
    * (an unclustered layout's per-file ranges all overlap; clustering
    * is what makes the recorded stats selective). Same non-destructive
    * versioned lifecycle as [[compact]]. */
  def compactZOrdered(
      spark: SparkSession, path: String,
      colA: String, colB: String,
      targetFiles: Int = 8): Long = {
    require(targetFiles >= 1, s"targetFiles must be ≥ 1: $targetFiles")
    commitRewrite(spark, path, OpCompact, head => {
      val entries = entriesOf(spark, path, head)
      (Layout.zOrdered(readVersion(spark, path, head), colA, colB,
        targetFiles),
        Seq.empty, Seq(colA, colB), bloomColUnion(entries))
    })
  }

  /** Retire all but the newest `keepLast` versions: their manifests
    * are deleted, then every `data/batch-*` directory no RETAINED
    * version references is removed, and so is any unclaimed manifest
    * a crashed commit left; `keepLast` = every version (the CLI
    * `vacuum`) sweeps only those crash leftovers. Retention-window
    * contract: do not expire versions a long-running reader may
    * still be pinned to (readers resolve files at plan time; standard
    * table-format operations guidance). Returns (versions dropped,
    * data dirs deleted). */
  def expire(spark: SparkSession, path: String,
      keepLast: Int = 2,
      orphanMinAgeMs: Long = 3600000L,
      force: Boolean = false): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be ≥ 1: $keepLast")
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no snapshot table at $path")
    val drop = vs.dropRight(keepLast)
    val keep = vs.takeRight(keepLast)
    // replay-window guard: commit keys are the exactly-once dedup
    // record ([[commitAppend]]) — dropping a stream's NEWEST keyed
    // manifest while that stream can still replay its last batch
    // turns the replay into a silent double-apply. Keys are
    // `<streamId>_<batchId>`; the newest version per stream prefix is
    // the one a foreachBatch replay would probe. Refuse unless
    // `force` (intentional teardown of a stopped stream).
    if (drop.nonEmpty && !force) {
      val newestPerStream = allManifests(spark, path, vs)
        .filter(col("commit_key").isNotNull)
        .select("version", "commit_key").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy { case (_, k) =>
          val i = k.lastIndexOf('_'); if (i < 0) k else k.take(i)
        }
        .map { case (pfx, rows) => pfx -> rows.map(_._1).max }
      val lost = newestPerStream.filter { case (_, v) => drop.contains(v) }
      require(lost.isEmpty,
        s"expire(keepLast=$keepLast) at $path would drop the NEWEST " +
          "keyed manifest of stream(s) " +
          lost.map { case (p, v) => s"$p (v$v)" }.mkString(", ") +
          " — a replay of that batch would re-apply (exactly-once " +
          "broken). Raise keepLast above the replay window, or pass " +
          "force=true for a stopped stream.")
    }
    val f = fs(spark, path)
    // referenced batch dirs = parent dirs of every retained file
    val referenced = keep.flatMap(v => filesOf(spark, path, v))
      .map(fp => new Path(fp).getParent.toString).toSet
    drop.foreach(v => f.delete(new Path(s"$path/$SnapDir/v$v"), true))
    val dataDir = new Path(s"$path/$DataDir")
    // the age floor protects an IN-FLIGHT commit's just-written batch
    // (data landed, rename pending) from being swept as an orphan —
    // Iceberg's orphan-file cleanup makes the same time-based cut; a
    // crashed commit's batch becomes sweepable once it ages past it
    val cutoff = System.currentTimeMillis() - orphanMinAgeMs
    val orphans =
      if (!f.exists(dataDir)) Seq.empty
      else f.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch-") &&
          !referenced.contains(st.getPath.toString) &&
          st.getModificationTime <= cutoff)
    orphans.foreach(st => f.delete(st.getPath, true))
    // a commit that crashed between its manifest write and the claim
    // leaves a `.tmp-v*` manifest no listing reads; same age floor
    f.listStatus(new Path(s"$path/$SnapDir")).toSeq
      .filter(st => st.getPath.getName.startsWith(".tmp-v") &&
        st.getModificationTime <= cutoff)
      .foreach(st => f.delete(st.getPath, true))
    (drop.size, orphans.size)
  }
}
