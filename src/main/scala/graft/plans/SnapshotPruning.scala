package graft.plans

import java.time.ZoneId

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}

import graft.maintain.Snapshots

/** Optimizer rule that wires the snapshot layer's per-file manifest
  * stats ([[graft.maintain.Snapshots]], the Iceberg-manifest shape)
  * into ORDINARY filtered reads: `Snapshots.read(...).filter(col
  * between lo and hi)` plans only the files whose recorded stat range
  * can overlap — callers no longer need to know the explicit
  * `readVersionWhere` API to get manifest file-skipping. Opt-in via
  * `spark.graft.snapshotPruning=true` (the rule reads tiny manifest
  * parquet at optimization time).
  *
  * Shape: `Filter(cond, LogicalRelation(parquet))` whose root paths
  * are all LEAF FILES under one snapshot table's `data/batch-*` dirs —
  * exactly what every `Snapshots.read*` plans (explicit per-version
  * file lists, never directory globs, so the match cannot fire on a
  * non-snapshot read). Range/equality conjuncts over stat-bearing
  * columns become bounds, and `IN (literals)` conjuncts (both the
  * `In` and optimizer-converted `InSet` forms) become per-value
  * overlap probes ([[FilterBounds]]). Bound values convert to the
  * column's recorded domain: numeric/temporal to the manifest's
  * double stat domain (timestamp/date → epoch seconds, nano-exact,
  * dates at session-time-zone midnight — the same [[Snapshots]]
  * writer normalization; NaN bounds VOID the probe, because Spark SQL
  * equality matches NaN rows the writer's stats cannot see), and
  * string literals to the truncated-UTF-8 string domain compared in
  * `strCmp`'s byte order (the agency filter prunes). Files without
  * stats for a probed column always survive (unknown = candidate),
  * and the original Filter stays on top, so results are bit-identical
  * with the rule on or off and to `readVersionWhere`/
  * `readVersionWhereStr` + residual filter (pinned in
  * SnapshotPruneSpec).
  *
  * Time-zone contract: stats for DATE and TIMESTAMP_NTZ columns are
  * recorded through the WRITER's session zone (the [[Snapshots]]
  * `statNorm` cast) and bounds convert through the CURRENT session
  * zone — the rule assumes they match, which [[graft.GraftSession]]
  * guarantees by pinning every session to UTC. A deployment that
  * changes `spark.sql.session.timeZone` between writing and reading
  * a date/NTZ-stat'd table must not enable this rule for those reads
  * (TZ-aware TIMESTAMP stats are epoch-exact and zone-free).
  *
  * 100 TB posture: this is metadata-only planning — the manifests
  * consulted are O(retained versions) tiny files, and the payoff is
  * the scan planning one day's files instead of the table. A rewrite
  * only happens when at least one file is actually dropped, so the
  * fixpoint optimizer batch stabilizes (the pruned relation yields
  * the same survivor set on re-match). Any failure logs and leaves
  * the plan untouched.
  *
  * Deliberately NOT consulted here: per-file BLOOM stats
  * ([[Snapshots.readVersionWhereKeys]]). The min/max map memoizes per
  * (table, version set) because it is key-independent; a bloom
  * verdict depends on the probed key values, so the rule would pay an
  * optimization-time Spark job over the manifest for EVERY filtered
  * read (twice, under the fixpoint re-match) with nothing reusable to
  * cache. Point lookups that want bloom skipping call the explicit
  * key APIs, which probe once per actual read.
  */
case class SnapshotPruneRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!session.conf.get(SnapshotPruneRule.ConfKey, "false").toBoolean)
      plan
    else
      plan.transformDown {
        case f @ Filter(cond, l: LogicalRelation) =>
          l.relation match {
            case fsRel: HadoopFsRelation =>
              tryPrune(cond, l, fsRel)
                .map(pl => Filter(cond, pl)).getOrElse(f)
            case _ => f
          }
      }

  /** The snapshot-table root shared by EVERY root path, if the
    * relation is a snapshot-planned file list
    * (`<table>/data/batch-<hex>/<file>` for one common `<table>` that
    * has a `_snapshots` directory). */
  private def snapshotRoot(roots: Seq[Path]): Option[Path] = {
    val tables = roots.map { r =>
      val batch = r.getParent
      if (batch == null || !batch.getName.startsWith("batch-")) return None
      val data = batch.getParent
      if (data == null || data.getName != "data") return None
      data.getParent
    }
    if (tables.isEmpty || tables.exists(_ == null)) None
    else if (tables.distinct.length != 1) None
    else Some(tables.head)
  }

  /** A bound value in the manifest's double stat domain — mirrors
    * [[Snapshots]]' writer-side `statNorm` (numeric direct;
    * date/timestamp as epoch seconds via the NANO-exact Instant form —
    * `getTime/1000.0` would truncate to milliseconds and could
    * under-shoot a stat_min recorded at microsecond precision, wrongly
    * pruning its file; dates at session-tz midnight). A NaN bound
    * returns None and voids the column (Spark's SQL semantics make
    * `col >= NaN` / `col === NaN` MATCH NaN rows, but the writer
    * strips NaN from stats — a Java-domain survivor check would prune
    * every file, including ones holding matching NaN rows).
    * Unconvertible values (decimals of unexpected shape) likewise
    * return None — never a wrong prune. Strings probe their own
    * domain ([[toStrDomain]]), not this one. */
  private def toStatDomain(v: Any): Option[Double] = (v match {
    case n: java.math.BigDecimal => Some(n.doubleValue)
    case n: BigDecimal           => Some(n.doubleValue)
    case n: Number               => Some(n.doubleValue)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(i.getEpochSecond + i.getNano / 1e9)
    case i: java.time.Instant =>
      Some(i.getEpochSecond + i.getNano / 1e9)
    case d: java.sql.Date        => Some(dateSeconds(d.toLocalDate))
    case d: java.time.LocalDate  => Some(dateSeconds(d))
    // TIMESTAMP_NTZ literals externalize to LocalDateTime; the writer
    // recorded NTZ stats via cast-to-timestamp (session tz), so the
    // bound converts through the same zone
    case t: java.time.LocalDateTime =>
      Some(t.atZone(sessionZone).toEpochSecond +
        t.getNano / 1e9)
    case _                       => None
  }).filterNot(_.isNaN)

  /** A bound value in the manifest's STRING stat domain (truncated
    * UTF-8 bounds probed in [[Snapshots.strCmp]]'s byte order — the
    * order Spark's min/max recorded them in). Only genuine string
    * literals qualify. */
  private def toStrDomain(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case _         => None
  }

  private def sessionZone: ZoneId =
    ZoneId.of(session.sessionState.conf.sessionLocalTimeZone)

  /** Per-(table, version set) memo of the table's file stats: the
    * optimizer batch is a FIXPOINT, so without the memo a single
    * filtered read would re-collect every retained manifest at least
    * twice (once to prune, once on the pruned relation just to
    * conclude nothing more drops). Version manifests are immutable
    * once claimed and the version SET is in the key, so a new commit
    * or an expire changes the key and the stale entry is never
    * served; the cache is cleared wholesale past a small bound. */
  private def cachedStats(
      table: String): Map[String, Snapshots.FileStatRanges] = {
    val vs = Snapshots.versions(session, table)
    if (vs.isEmpty) return Map.empty
    val key = s"$table@${vs.length}:${vs.last}:${vs.hashCode}"
    val c = SnapshotPruneRule.statsCache
    if (c.size > 64) c.clear()
    c.computeIfAbsent(key,
      _ => Snapshots.allFileStats(session, table))
  }

  private def dateSeconds(d: java.time.LocalDate): Double =
    d.atStartOfDay(sessionZone).toEpochSecond.toDouble

  private def tryPrune(
      cond: Expression,
      l: LogicalRelation,
      fsRel: HadoopFsRelation): Option[LogicalRelation] =
    try {
      val roots = fsRel.location.rootPaths
      if (roots.isEmpty || fsRel.partitionSchema.nonEmpty) None
      else snapshotRoot(roots).flatMap { table =>
        val fs = table.getFileSystem(
          session.sparkContext.hadoopConfiguration)
        if (!fs.exists(new Path(table, "_snapshots"))) None
        else {
          val wanted = roots.map(_.toUri.getPath).toSet
          val all = cachedStats(table.toString)
          val stats = all.filter { case (f, _) => wanted.contains(f) }
          if (stats.isEmpty) None
          else {
            val statCols = stats.valuesIterator
              .flatMap(fs => fs.num.keys ++ fs.str.keys).toSet
            // every probe is a (file stats → may-overlap?) predicate;
            // a file survives only when ALL probes hold (conjuncts),
            // and a probe that cannot resolve a file's stats for its
            // column keeps the file (unknown = candidate)
            type Probe = Snapshots.FileStatRanges => Boolean
            val rangeProbes: Seq[Probe] = FilterBounds
              .boundsOf(cond, statCols.contains)
              .flatMap { case (c, lo, hi) =>
                val isStr = lo.orElse(hi).exists(_.isInstanceOf[String])
                if (isStr) {
                  val sl = lo.flatMap(toStrDomain)
                  val sh = hi.flatMap(toStrDomain)
                  if (lo.isDefined != sl.isDefined ||
                      hi.isDefined != sh.isDefined) None
                  else Some((fs: Snapshots.FileStatRanges) =>
                    fs.str.get(c) match {
                      case Some((mn, mx)) =>
                        sl.forall(Snapshots.strCmp(_, mx) <= 0) &&
                          sh.forall(Snapshots.strCmp(_, mn) >= 0)
                      case None => true
                    })
                } else {
                  val dl = lo.flatMap(toStatDomain)
                  val dh = hi.flatMap(toStatDomain)
                  // a bound present but unconvertible must VOID that
                  // side, not silently widen to ±inf on the wrong type
                  if (lo.isDefined != dl.isDefined ||
                      hi.isDefined != dh.isDefined) None
                  else if (dl.isEmpty && dh.isEmpty) None
                  else Some((fs: Snapshots.FileStatRanges) =>
                    fs.num.get(c) match {
                      case Some((mn, mx)) =>
                        dl.forall(_ <= mx) && dh.forall(_ >= mn)
                      case None => true
                    })
                }
              }
            // IN-lists prune per value: a file survives the probe when
            // AT LEAST ONE listed value can sit in its range. Any
            // unconvertible element voids the whole list (that value
            // could match rows the prune would drop).
            val inProbes: Seq[Probe] = FilterBounds
              .inListsOf(cond, statCols.contains)
              .flatMap { case (c, vs) =>
                if (vs.forall(_.isInstanceOf[String])) {
                  val ss = vs.map(_.asInstanceOf[String])
                  Some((fs: Snapshots.FileStatRanges) =>
                    fs.str.get(c) match {
                      case Some((mn, mx)) => ss.exists(v =>
                        Snapshots.strCmp(mn, v) <= 0 &&
                          Snapshots.strCmp(v, mx) <= 0)
                      case None => true
                    })
                } else {
                  val ds = vs.map(toStatDomain)
                  if (ds.exists(_.isEmpty)) None
                  else {
                    val dd = ds.flatten
                    Some((fs: Snapshots.FileStatRanges) =>
                      fs.num.get(c) match {
                        case Some((mn, mx)) =>
                          dd.exists(v => mn <= v && v <= mx)
                        case None => true
                      })
                  }
                }
              }
            val probes = rangeProbes ++ inProbes
            if (probes.isEmpty) None
            else {
              val empty = Snapshots.FileStatRanges()
              val survivors = roots.filter { r =>
                val per = stats.getOrElse(r.toUri.getPath, empty)
                probes.forall(_(per))
              }
              if (survivors.length >= roots.length) None
              else {
                logInfo(s"snapshot pruning $table: " +
                  s"${survivors.length}/${roots.length} files survive " +
                  s"${probes.length} stat probes")
                val idx = new InMemoryFileIndex(
                  session, survivors, fsRel.options,
                  Some(fsRel.dataSchema))
                Some(l.copy(relation =
                  fsRel.copy(location = idx)(session)))
              }
            }
          }
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"snapshot pruning skipped: ${e.getMessage}")
        None
    }
}

object SnapshotPruneRule {
  val ConfKey = "spark.graft.snapshotPruning"

  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, graft.maintain.Snapshots.FileStatRanges]]()
}
