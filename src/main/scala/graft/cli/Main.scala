package graft.cli

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.ProfileQueries
import graft.sources.{JsonApi, ParquetSink}

/** CLI surface mirroring the reference's entry points
  * (convert_to_iceberg.py:1294-1315 flags; demo/exploration mains):
  *
  *   convert DATA [--output-path P] [--agency A] [--compression C]
  *   query   SFDIR NAME...        run registered queries, print results
  *   sql     SFDIR "SELECT ..."   ad-hoc SQL over the registered views
  *   profile SFDIR TABLE          one-pass column profile
  *   optimize TABLE [N]           compact a snapshot table to N files
  *   vacuum  ROOT                 sweep crashed snapshot commits
  *   bench                        delegate to graft.Bench
  *
  * Errors per docket never abort the run (PERMISSIVE parse + corrupt
  * quarantine); fatal filesystem errors do — matching the reference's
  * error-isolation contract (convert_to_iceberg.py:1149-1170).
  */
object Main {

  private def arg(args: Array[String], flag: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`flag`, v) => v }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = GraftSession.get()
    try run(spark, args)
    finally spark.stop()
  }

  private def usage(): Unit =
    System.err.println(
      """usage: graft.cli.Main <convert|query|sql|lint|profile|optimize|manifest|
        |         snapshot|vacuum|curate|dedup-incremental|index-build|
        |         index-probe|index-append|bm25-index|dense-index|bm25-search|
        |         ann-index|index-compact|ann-search|hybrid-search|
        |         decontaminate-spans|cap-source|pq-encode|containment-dedup|
        |         dedup-spans-intradoc|winnow-pairs|gopher-filter|phash-dedup|
        |         nb-filter|dsir-select|semantic-decon|jl-project|decontaminate|
        |         dedup-lines|dedup-spans|semdedup|novelty|sketch-build|
        |         sketch-query|bench> ...
        |  convert DATA [--output-path P] [--agency A] [--compression C]
        |         [--snapshot [--stats c1,c2]]   each run lands as one
        |         atomic version; re-runs over grown input append only
        |         the delta rows; per-file stats recorded on agency +
        |         postedDate/modifyDate by default so filtered reads
        |         skip files (--stats overrides)
        |  query SFDIR NAME...
        |  sql SFDIR "SELECT ..."
        |  lint SFDIR <NAME|"SELECT ...">   plan audit, exit 1 on Error
        |  profile SFDIR TABLE [--approx]
        |  optimize TABLE [N] [--zorder colA,colB]   compact a snapshot
        |         table's head into N files (default 8) as a new version;
        |         --zorder z-clusters it and records colA,colB stats
        |  manifest TABLE col1[,col2...]   range-cluster a snapshot
        |         table's head and record per-file min/max on the columns
        |  snapshot TABLE <create|append|overwrite> SRC [--stats c1,c2]
        |           [--bloom c1,c2]   (--bloom: per-file key-membership
        |           sketches — key deletes/reads skip files on
        |           UNCLUSTERED layouts)
        |         | snapshot TABLE history | restore V
        |         | cluster --by c1[,c2...] [--target-files N]
        |           (range-cluster the head + re-record stats: makes a
        |           mixed-layout corpus prunable after the fact)
        |         | read [--version V | --as-of MS] [--where col:lo:hi
        |           | --where-col C --from LO --to HI]
        |           (numeric, string, or date/timestamp bounds; the
        |           long form carries colon-bearing timestamps;
        |           combines with --as-of: version resolves first)
        |         | expire [--keep N] [--force]   (--force overrides
        |           the keyed-replay-window guard for stopped streams)
        |         | compact [--target-files N]
        |         | delete --where col:lo:hi | --where-col C --from LO
        |           --to HI | --keys k1,k2 --key-col C   (range- or
        |           key-set-scoped DELETE as a version: only
        |           stat-overlapping files rewrite)
        |         | changes --from V [--to V]   (appended-rows delta)
        |         | upsert SRC --keys a,b --version-col V
        |           [--tiebreak-col T] [--scope-col C]   (MERGE as a
        |           new version; --scope-col rewrites only the files
        |           whose C-stat range the updates touch)
        |         snapshot-isolated commits + time travel (atomic
        |         rename-claimed manifests over immutable batches)
        |  vacuum ROOT   sweep crashed commits' leftovers (unreferenced
        |         data batches, unclaimed manifests) from every snapshot
        |         table directly under ROOT; drops no version
        |  curate IN OUT [--min-quality Q] [--near-jaccard J]
        |         [--min-chars N] [--langs en,de] [--compression C]
        |  dedup-incremental IN REF OUT [--min-jaccard J] [--compression C]
        |         onboard IN against frozen REF (exact + near dedup)
        |  index-build REF OUT [--shingle-k K] [--num-hashes H] [--bands B]
        |         materialize REF's LSH dedup index (build once, probe many)
        |  index-probe IN INDEX OUT [--min-jaccard J] [--compression C]
        |         dedup-incremental against a persisted index
        |  index-append IN INDEX
        |         fold newly-vetted docs into the LSH index (≡ rebuild)
        |  bm25-index DOCS OUT | bm25-index --append IN INDEX
        |         build / grow the persisted BM25 inverted index
        |  bm25-search INDEX --terms a,b,c [--k N]
        |         top-k by BM25 from the persisted index
        |  ann-index EMB OUT [--nlist N --iters I --m M --k K]
        |         | ann-index --append IN INDEX
        |         build / grow the persisted IVF-PQ serving index
        |  ann-search INDEX QUERIES --query-id N [--topk K] [--nprobe P]
        |         [--rerank EMB [--shortlist N]]
        |         IVF-PQ top-k for a query vector from the index;
        |         --rerank refines the ADC shortlist by exact distance
        |  dense-index DOCS OUT | dense-index --append IN INDEX
        |         build / grow the persisted dense vector tower
        |  hybrid-search DOCS --query "free text" [--index BM25IDX
        |         [--dense-index DENSEIDX]] [--k N] [--n-per-side N]
        |         [--diversify [--lambda L]]
        |         RRF fusion of BM25 + dense hash-embed cosine; with
        |         both towers persisted the query reads no doc text;
        |         --diversify MMR-reranks a 3k shortlist
        |  index-compact <lsh|bm25|ann|dense> INDEX [--target-files N]
        |         merge appended segments back to the canonical layout
        |         OFFLINE-MAINTENANCE CONTRACT: compaction excludes
        |         concurrent appenders within ONE JVM only; never run
        |         it while a separate appender process (a live stream
        |         arm) targets the same index — schedule it in the
        |         appender's process or while the stream is stopped
        |  decontaminate IN BENCH OUT [--shingle-k K] [--compression C]
        |         drop IN docs sharing a K-shingle with BENCH
        |  decontaminate-spans IN BENCH OUT [--window-len L] [--compression C]
        |         excise BENCH-overlapping L-token windows, keep the rest
        |  cap-source IN OUT --max-docs N [--source-col C] [--compression C]
        |         keep at most N docs per source (deterministic hash order)
        |  pq-encode IN OUT [--m M] [--k K] [--compression C]
        |         product-quantize an embeddings table to (id, codes)
        |  containment-dedup IN OUT [--min-containment C] [--max-df N]
        |         drop docs contained in a larger doc (quotation cleanup)
        |  nb-filter IN TRAIN OUT --label-col C [--vocab V]
        |         keep docs a Naive Bayes classifier (trained on TRAIN's
        |         boolean label) predicts positive
        |  dedup-spans-intradoc IN OUT [--window-len L]
        |         excise repeated windows WITHIN each document
        |  winnow-pairs IN OUT [--k K] [--w W] [--min-shared N] [--max-df D]
        |         MOSS-style copy-candidate pairs (winnowing)
        |  gopher-filter IN OUT [--min-words N] [--max-words N] [--min-stop N]
        |         keep docs passing the Gopher quality rule set
        |  phash-dedup IN OUT [--keep]
        |         perceptual (dHash) image dedup audit / keepers over
        |         (media_id, modality, payload[, source_doc])
        |  dsir-select IN TARGET OUT --n N [--buckets B]
        |         keep the N docs most distribution-similar to TARGET
        |  semantic-decon IN EVAL OUT [--min-cosine C]
        |         drop vectors within C cosine of any EVAL vector
        |  jl-project IN OUT --in-dim D [--out-dim D2]
        |         JL-compress an embeddings table (deterministic signs)
        |  dedup-lines IN OUT [--min-df N] [--compression C]
        |         remove lines occurring in >= N distinct docs, reassemble
        |  dedup-spans IN OUT [--window-len L] [--min-df N] [--compression C]
        |         remove L-token windows occurring in >= N distinct docs
        |  semdedup IN OUT [--centroids K] [--min-cosine C] [--lsh]
        |         keep semantic-dedup survivors of an embeddings table
        |  novelty IN REF [--shingle-k K] [--bloom]
        |         report corpus novelty of IN against frozen REF
        |  sketch-build IN OUT --type hll|kll|theta|hist --bucket C --key C
        |         [--lo X --hi Y --bins N]   per-bucket sketch table
        |  sketch-query PATH --type hll|kll|theta [--from B --to B]
        |         [--q 0.25,0.5] [--b-from B --b-to B]   query it""".stripMargin)

  private[graft] def run(spark: SparkSession, args: Array[String]): Unit =
    args(0) match {
      case "convert" =>
        val data = args(1)
        val out = arg(args, "--output-path").getOrElse(s"$data/derived-data")
        val agencies = arg(args, "--agency").toSeq
        val codec = arg(args, "--compression").getOrElse("snappy")
        // fail fast on unreadable input / unwritable output BEFORE any
        // discovery or job launch (reference
        // convert_to_iceberg.py:1197-1242)
        graft.sources.Preflight.check(spark, data, out)
        val t0 = System.nanoTime()
        val found = JsonApi.discover(spark, data, agencies = agencies)
        require(found.nonEmpty, s"no dockets found under $data")
        val kinds = found.map(_.kind).distinct
        var tablesWritten = 0
        var totalCorrupt = 0L
        kinds.foreach { kind =>
          val dirs = found.filter(_.kind == kind).map(_.dir)
          val raw = JsonApi.readRaw(spark, dirs)
          val (table, mk): (String, org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.DataFrame) = kind match {
            case "comments" => ("comments", graft.sources.Flatten.comments)
            case "documents" => ("documents", graft.sources.Flatten.documents)
            case "docket" => ("docket_info", graft.sources.Flatten.docketInfo)
          }
          // Corrupt records are counted by an Observation ON the write
          // job itself — the observe node sits before flatten's
          // corrupt filter, so the single write pass yields the count
          // the old code paid a second full JSON scan for. The
          // emptiness probe stays on an UNOBSERVED twin of the plan: a
          // limit-1 scan would otherwise report partial metrics.
          import org.apache.spark.sql.functions.{col, count, when}
          val obs = org.apache.spark.sql.Observation()
          val rawObs = raw.observe(obs, count(when(
            col("data").isNull && col("_corrupt_record").isNotNull, 1))
            .as("bad"))
          val (written, bad) =
            if (mk(raw).isEmpty) (false, JsonApi.corruptRecords(raw).count())
            else if (args.contains("--snapshot")) {
              // --snapshot: land each conversion run as ONE atomic,
              // time-travelable version of a snapshot table — the
              // reference's resumability story (USAGE.md:183) upgraded
              // to the table-format answer. A re-run over GROWN input
              // appends only the not-yet-converted rows (anti-join on
              // the flattened id), so downstream consumers tail the
              // delta with `snapshot TABLE changes --from V`; an
              // UNCHANGED re-run is a no-op (no junk version eating
              // the retention window). The requested codec applies via
              // the session parquet conf around the commit (snapshot
              // tables are file-list tables — the agency partition
              // layout does not apply; agency stays a column).
              import graft.maintain.Snapshots
              val path = s"$out/$table"
              val codecConf = "spark.sql.parquet.compression.codec"
              val prevCodec = spark.conf.getOption(codecConf)
              // same resolution as ParquetSink.write: case-insensitive,
              // brotli→zstd alias, unknown codecs fail loudly here
              spark.conf.set(codecConf, ParquetSink.resolveCodec(codec))
              // per-file stats recorded BY DEFAULT on the reference's
              // own hot filter columns — the agency equality filter
              // (convert_to_iceberg.py:1172-1176) and the posted-date
              // analytics (demo_optimized_data.py:105-111) — so
              // filtered reads of the snapshot-mode corpus skip files
              // from the first commit (the classic mode gets the same
              // effect from its agency partition layout). `--stats`
              // overrides; absent columns are dropped, never errors.
              val statsCols = arg(args, "--stats")
                .map(_.split(',').toSeq)
                .getOrElse(Seq("agency", "postedDate", "modifyDate"))
                .filter(mk(raw).columns.contains)
              try {
                if (!Snapshots.exists(spark, path)) {
                  val v = Snapshots.create(mk(rawObs), path,
                    statsCols = statsCols)
                  System.err.println(s"[convert] $table → snapshot v$v")
                  (true, obs.get("bad").asInstanceOf[Long])
                } else {
                  val ids = Snapshots.read(spark, path).select("id")
                  // ONE input scan: count() fully materializes the
                  // observed delta into the cache (a full pass, so the
                  // Observation completes — unlike a limit-1 isEmpty),
                  // the emptiness decision AND the append both serve
                  // from that cache
                  val delta = mk(rawObs)
                    .join(ids, Seq("id"), "left_anti").persist()
                  try {
                    if (delta.count() == 0) {
                      System.err.println(s"[convert] $table → snapshot " +
                        "unchanged (empty delta, no new version)")
                    } else {
                      val v = Snapshots.commitAppend(delta, path,
                        statsCols = statsCols)
                      System.err.println(
                        s"[convert] $table → snapshot v$v")
                    }
                    (true, obs.get("bad").asInstanceOf[Long])
                  } finally delta.unpersist()
                }
              } finally prevCodec match {
                case Some(c) => spark.conf.set(codecConf, c)
                case None    => spark.conf.unset(codecConf)
              }
            }
            else {
              ParquetSink.write(mk(rawObs), s"$out/$table", codec,
                partitionCols = Seq("agency"), skipIfEmpty = false)
              (true, obs.get("bad").asInstanceOf[Long])
            }
          if (written) tablesWritten += 1
          totalCorrupt += bad
          println(s"$table: written=$written corrupt_quarantined=$bad")
        }
        // final stats report, reference contract
        // (convert_to_iceberg.py:1275-1291): processed/errors + rate +
        // elapsed — corrupt records are quarantined counts, not aborts
        val sec = (System.nanoTime() - t0) / 1e9
        val nDockets = found.map(_.dir).distinct.size
        println(f"convert done: dockets=$nDockets tables=$tablesWritten " +
          f"corrupt_quarantined=$totalCorrupt elapsed=$sec%.1f s " +
          f"rate=${nDockets / math.max(sec, 1e-9)}%.1f dockets/sec")

      case "query" =>
        val sfDir = args(1)
        val names = if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          SparkEntry.queries.get(n) match {
            case Some(fn) =>
              println(s"== $n")
              fn(spark, sfDir).show(20, truncate = false)
            case None => System.err.println(s"unknown query: $n")
          }
        }

      case "sql" =>
        graft.queries.SqlQueries.sql(spark, args(1), args(2))
          .show(50, truncate = false)

      case "lint" =>
        // plan audit WITHOUT running the query: registered name or
        // ad-hoc SQL; exits 1 on Error-level findings (deploy gate)
        val sfDir = args(1)
        val target = args(2)
        val df = SparkEntry.queries.get(target)
          .map(_(spark, sfDir))
          .getOrElse(graft.queries.SqlQueries.sql(spark, sfDir, target))
        val findings = graft.tools.PlanLint.lint(df)
        if (findings.isEmpty) println("plan clean: no findings")
        else findings.foreach(println)
        require(!findings.exists(_.severity == graft.tools.PlanLint.Error),
          "plan has Error-level findings (see above)")

      case "profile" =>
        // --approx: HLL++ distinct counts (map-side-mergeable sketch,
        // no raw-value shuffle) — the 100 TB default; exact otherwise
        val table = Tables.load(spark, args(1), args(2))
        val profiled =
          if (args.contains("--approx")) ProfileQueries.profileApprox(table)
          else ProfileQueries.profile(table)
        profiled.show(100, truncate = false)

      case "optimize" =>
        // optimize TABLE [N] [--zorder colA,colB] — compact a snapshot
        // table's head into N files as a new version
        import graft.maintain.Snapshots
        val n = args.drop(2).find(a => a.forall(_.isDigit)).map(_.toInt)
          .getOrElse(8)
        val v = arg(args, "--zorder") match {
          case Some(zcols) =>
            val Array(a, b) = zcols.split(',')
            Snapshots.compactZOrdered(spark, args(1), a, b, n)
          case None => Snapshots.compact(spark, args(1), n)
        }
        println(s"optimized ${args(1)} into $n files as v$v")

      case "manifest" =>
        // manifest TABLE col1[,col2...] — range-cluster a snapshot
        // table's head on the columns and record their per-file
        // min/max in the new version's manifest
        val cols = args(2).split(',').toSeq
        val v = graft.maintain.Snapshots.compactClustered(
          spark, args(1), cols)
        println(s"manifest stats on ${cols.mkString(",")} as v$v")

      case "snapshot" =>
        // snapshot TABLE <create SRC | append SRC | overwrite SRC |
        //   history | describe | restore V |
        //   read [--version V | --as-of MS] |
        //   changes [--cdf --key C | --from-ts MS] |
        //   constraint [--add name:EXPR | --drop name] |
        //   expire [--keep N]>
        // — snapshot-isolated commits + time travel over immutable
        // parquet batches (maintain.Snapshots; atomic rename-claimed
        // manifests, optimistic concurrency).
        import org.apache.spark.sql.functions.{col, lit}
        import graft.maintain.Snapshots
        val table = args(1)
        // raw (col, lo, hi) from either --where form; the long form
        // (`--where-col C --from LO --to HI`) exists for bounds the
        // colon syntax cannot carry — time-of-day timestamps
        // ('2024-01-01 12:30:00') contain ':'
        def whereSpec(): Option[(String, String, String)] =
          (arg(args, "--where"), arg(args, "--where-col")) match {
            case (Some(w), None) =>
              val parts = w.split(":", 3)
              require(parts.length == 3,
                s"--where expects col:lo:hi, got '$w'")
              Some((parts(0), parts(1), parts(2)))
            case (None, Some(c)) =>
              val lo = arg(args, "--from").getOrElse(
                sys.error("--where-col requires --from LO"))
              val hi = arg(args, "--to").getOrElse(
                sys.error("--where-col requires --to HI"))
              Some((c, lo, hi))
            case (Some(_), Some(_)) =>
              sys.error("pass --where OR --where-col, not both")
            case (None, None) => None
          }
        def colIsString(c: String): Boolean =
          Snapshots.read(spark, table).schema.fields.find(_.name == c)
            .exists(_.dataType
              .isInstanceOf[org.apache.spark.sql.types.StringType])
        // bounds route by the COLUMN's type first, value shape second:
        // a STRING column always probes the truncated UTF-8 stats —
        // value-shape routing would send a numeric-LOOKING string id
        // ('100') through the decimal path, where a cast-compare
        // silently under-deletes ('1500' is inside ['100','200'] in
        // byte order but outside [100, 200] numerically). Non-string
        // columns: numeric bounds stay EXACT BigDecimals (a 2^53+ key
        // must not round through a double); anything else parses as
        // date/timestamp bounds through the epoch-seconds domain.
        sealed trait Bounds
        case class NumB(lo: BigDecimal, hi: BigDecimal) extends Bounds
        case class StrB(lo: String, hi: String) extends Bounds
        case class TimeB(lo: String, hi: String) extends Bounds
        def route(c: String, lo: String, hi: String): Bounds =
          if (colIsString(c)) StrB(lo, hi)
          else (scala.util.Try(BigDecimal(lo)).toOption,
              scala.util.Try(BigDecimal(hi)).toOption) match {
            case (Some(l), Some(h)) => NumB(l, h)
            case _                  => TimeB(lo, hi)
          }
        args(2) match {
          case "create" | "append" | "overwrite" =>
            val src = args(3)
            graft.sources.Preflight.checkInput(spark, src)
            val df = spark.read.parquet(src)
            // --stats col1,col2: record per-file min/max for these
            // columns so `read --where` can skip files; --bloom: also
            // record per-file key-membership sketches so `delete
            // --keys` / key reads skip files on UNCLUSTERED layouts
            val stats = arg(args, "--stats")
              .map(_.split(",").toSeq).getOrElse(Seq.empty)
            val blooms = arg(args, "--bloom")
              .map(_.split(",").toSeq).getOrElse(Seq.empty)
            val v = args(2) match {
              case "create"    => Snapshots.create(df, table,
                statsCols = stats, bloomCols = blooms)
              case "append"    => Snapshots.commitAppend(df, table,
                statsCols = stats, bloomCols = blooms)
              case "overwrite" =>
                require(blooms.isEmpty,
                  "snapshot overwrite does not record blooms")
                Snapshots.commitOverwrite(df, table, statsCols = stats)
            }
            System.err.println(s"[snapshot] ${args(2)} $src → $table v$v")
          case "cluster" =>
            // snapshot TABLE cluster --by c1[,c2...] [--target-files N]
            // — range-cluster the head (any column types, incl. the
            // string z-order cannot serve) and re-record stats on the
            // cluster columns, so a mixed-layout streamed/converted
            // corpus becomes prunable after the fact
            val by = arg(args, "--by").getOrElse(
              sys.error("snapshot cluster requires --by c1[,c2...]"))
              .split(',').toSeq
            val n = arg(args, "--target-files").map(_.toInt).getOrElse(8)
            val v = Snapshots.compactClustered(spark, table, by, n)
            System.err.println(
              s"[snapshot] clustered $table by ${by.mkString(",")} " +
                s"into $n files as v$v")
          case "history" =>
            Snapshots.history(spark, table).show(100, truncate = false)
          case "restore" =>
            val v = Snapshots.rollback(spark, table, args(3).toLong)
            System.err.println(
              s"[snapshot] restored $table@${args(3)} as v$v")
          case "read" =>
            // --where col:lo:hi (or the long form) — manifest-stat
            // file skipping, plus the residual exact predicate
            // (superset contract). Numeric residuals compare against
            // the EXACT decimal bounds (a double-domain compare would
            // round 2^53+ keys at the edges); string columns route to
            // the truncated-UTF-8 stat probe.
            def whereRead(v: Long, spec: (String, String, String)) = {
              val (c, lo0, hi0) = spec
              route(c, lo0, hi0) match {
                case NumB(l, h) =>
                  Snapshots.readVersionWhere(spark, table, v, c,
                      Math.nextDown(l.toDouble), Math.nextUp(h.toDouble))
                    .filter(col(c).between(lit(l), lit(h)))
                case StrB(lo, hi) =>
                  Snapshots.readVersionWhereStr(spark, table, v, c, lo, hi)
                    .filter(col(c).between(lit(lo), lit(hi)))
                case TimeB(lo, hi) =>
                  Snapshots.readVersionWhereTime(spark, table, v, c, lo, hi)
                    .filter(col(c).cast("timestamp").between(
                      lit(lo).cast("timestamp"),
                      lit(hi).cast("timestamp")))
              }
            }
            def headVersion(): Long = {
              val vs = Snapshots.versions(spark, table)
              require(vs.nonEmpty, s"no snapshot table at $table")
              vs.last
            }
            val df = (arg(args, "--version"), arg(args, "--as-of"),
                whereSpec()) match {
              case (Some(v), _, Some(w)) => whereRead(v.toLong, w)
              case (Some(v), _, None) =>
                Snapshots.readVersion(spark, table, v.toLong)
              case (None, Some(ts), Some(w)) =>
                // resolve the as-of version FIRST, then file-skip
                // within it — --where used to be silently ignored here
                whereRead(Snapshots.versionAsOf(spark, table, ts.toLong), w)
              case (None, Some(ts), None) =>
                Snapshots.readAsOf(spark, table, ts.toLong)
              case (None, None, Some(w)) => whereRead(headVersion(), w)
              case _ => Snapshots.read(spark, table)
            }
            df.show(20, truncate = false)
          case "expire" =>
            val keep = arg(args, "--keep").map(_.toInt).getOrElse(2)
            val (d, s) = Snapshots.expire(spark, table, keepLast = keep,
              force = args.contains("--force"))
            System.err.println(
              s"[snapshot] expired $d versions, swept $s orphan batches")
          case "compact" =>
            val n = arg(args, "--target-files").map(_.toInt).getOrElse(8)
            val v = Snapshots.compact(spark, table, targetFiles = n)
            System.err.println(
              s"[snapshot] compacted $table head into $n files as v$v")
          case "upsert" =>
            // snapshot TABLE upsert SRC --keys a,b --version-col V
            //   [--tiebreak-col T]: keyed MERGE committed as a new
            //   version — time-travelable, rollback-able
            val src = args(3)
            graft.sources.Preflight.checkInput(spark, src)
            val keys = arg(args, "--keys").getOrElse(
              sys.error("snapshot upsert requires --keys a,b"))
              .split(",").toSeq
            val verCol = arg(args, "--version-col").getOrElse(
              sys.error("snapshot upsert requires --version-col V"))
            val tb = arg(args, "--tiebreak-col").getOrElse(verCol)
            // --scope-col C: partition-scoped merge — rewrite only the
            // files whose recorded C-stat range the updates touch (C
            // must be key-determined; see commitUpsertScoped)
            val v = arg(args, "--scope-col") match {
              case Some(sc) => Snapshots.commitUpsertScoped(
                spark.read.parquet(src), table, keys, verCol, tb, sc)
              case None => Snapshots.commitUpsert(
                spark.read.parquet(src), table, keys, verCol, tb)
            }
            System.err.println(s"[snapshot] upserted $src → $table v$v")
          case "delete" =>
            // snapshot TABLE delete --where col:lo:hi (or the long
            // form) | --keys k1,k2 --key-col C — range- or key-set-
            // scoped DELETE committed as a new version: only files
            // whose stats overlap are rewritten (retention/GDPR
            // erasure; durable against time travel after expire)
            val before = Snapshots.versions(spark, table).lastOption
              .getOrElse(sys.error(s"no snapshot table at $table"))
            val (v, what) = (whereSpec(), arg(args, "--keys")) match {
              case (Some((c, lo0, hi0)), None) =>
                val v = route(c, lo0, hi0) match {
                  case NumB(l, h) =>
                    // exact decimal bounds straight through — the
                    // destructive path never rounds via a double
                    Snapshots.commitDeleteWhere(spark, table, c, l, h)
                  case StrB(lo, hi) =>
                    Snapshots.commitDeleteWhereStr(spark, table, c, lo, hi)
                  case TimeB(lo, hi) =>
                    Snapshots.commitDeleteWhereTime(spark, table, c, lo, hi)
                }
                (v, s"range $c")
              case (None, Some(ks)) =>
                // erasure-request shape: an id list. The column's type
                // picks the domain (a numeric-looking string id must
                // not route through decimals).
                val keyCol = arg(args, "--key-col").getOrElse(
                  sys.error("snapshot delete --keys requires --key-col C"))
                val keys = ks.split(',').toSeq
                val v =
                  if (colIsString(keyCol))
                    Snapshots.commitDeleteKeysStr(spark, table, keyCol, keys)
                  else Snapshots.commitDeleteKeys(spark, table, keyCol,
                    keys.map(k => scala.util.Try(BigDecimal(k)).getOrElse(
                      sys.error(s"non-numeric key '$k' for numeric " +
                        s"column $keyCol"))))
                (v, s"${keys.length} keys on $keyCol")
              case _ => sys.error("snapshot delete requires --where " +
                "col:lo:hi (or --where-col/--from/--to) OR " +
                "--keys k1,k2 --key-col C")
            }
            // the no-op short-circuit returns the unchanged head —
            // report it honestly, not as a landed deletion
            if (v == before)
              System.err.println(s"[snapshot] delete ($what) on $table: " +
                s"no file overlaps — no-op, head stays v$v")
            else System.err.println(
              s"[snapshot] deleted $what from $table as v$v")
          case "describe" =>
            // one-stop operational summary: retained window, head
            // commit, schema, stat coverage, active quality gates
            val vs = Snapshots.versions(spark, table)
            val hist = Snapshots.history(spark, table)
              .orderBy(col("version").desc).limit(1)
              .select("version", "operation", "ts_ms", "n_files")
              .head()
            println(s"table: $table")
            println(s"retained: v${vs.head}..v${vs.last} (${vs.length})")
            println(s"head: v${hist.getLong(0)} op=${hist.getString(1)} " +
              s"ts_ms=${hist.getLong(2)} files=${hist.getLong(3)}")
            println("schema:")
            print(Snapshots.read(spark, table).schema.treeString)
            val stats = Snapshots.allFileStats(spark, table)
            val numCols = stats.valuesIterator.flatMap(_.num.keys).toSet
            val strCols = stats.valuesIterator.flatMap(_.str.keys).toSet
            if (numCols.nonEmpty || strCols.nonEmpty)
              println("stat columns: " +
                (numCols.toSeq.sorted.map(c => s"$c(range)") ++
                  strCols.toSeq.sorted.map(c => s"$c(str)"))
                  .mkString(", "))
            val cons = Snapshots.constraints(spark, table)
            if (cons.nonEmpty)
              cons.toSeq.sortBy(_._1).foreach { case (n, e) =>
                println(s"constraint $n: CHECK ($e)") }

          case "constraint" =>
            // write-time CHECK quality gates: --add name:EXPR proves
            // the head satisfies EXPR then enforces it on every later
            // commit (violating commits refuse atomically); --drop
            // name removes it; bare form lists the active set
            (arg(args, "--add"), arg(args, "--drop")) match {
              case (Some(spec), None) =>
                val parts = spec.split(":", 2)
                require(parts.length == 2 && parts(0).nonEmpty,
                  s"--add expects name:EXPR, got '$spec'")
                Snapshots.addConstraint(spark, table, parts(0), parts(1))
                System.err.println(
                  s"[snapshot] CHECK ${parts(0)} active on $table")
              case (None, Some(name)) =>
                val dropped = Snapshots.dropConstraint(spark, table, name)
                System.err.println(if (dropped)
                  s"[snapshot] dropped CHECK $name from $table"
                else s"[snapshot] no CHECK named $name on $table")
              case (None, None) =>
                Snapshots.constraints(spark, table).toSeq.sortBy(_._1)
                  .foreach { case (n, e) => println(s"$n: $e") }
              case _ => sys.error("pass --add OR --drop, not both")
            }

          case "changes" =>
            // incremental read: rows appended in (--from, --to].
            // --tolerate-compaction crosses row-preserving compacts;
            // --cdf serves the ROW-level change feed instead (insert/
            // delete/update rows across rewrites; --key C classifies
            // same-commit delete+insert pairs as updates). The window
            // is version-addressed (--from/--to V) or wall-clock
            // (--from-ts/--to-ts epoch MILLIS, CDF only — resolved
            // through the manifest commit timestamps)
            val df = arg(args, "--from-ts").map(_.toLong) match {
              case Some(fromTs) =>
                require(arg(args, "--from").isEmpty &&
                    arg(args, "--to").isEmpty &&
                    !args.contains("--tolerate-compaction"),
                  "--from-ts windows are CDF-only: combine with " +
                    "--to-ts/--key, not --from/--to/--tolerate-compaction")
                val toTs = arg(args, "--to-ts").map(_.toLong)
                  .getOrElse(System.currentTimeMillis())
                Snapshots.readChangeFeedTime(spark, table, fromTs, toTs,
                  keyCols = arg(args, "--key").toSeq)
              case None =>
                require(arg(args, "--to-ts").isEmpty,
                  "--to-ts requires --from-ts (wall-clock windows " +
                    "cannot mix with version bounds)")
                val from = arg(args, "--from").map(_.toLong).getOrElse(
                  sys.error(
                    "snapshot changes requires --from V or --from-ts MS"))
                val to = arg(args, "--to").map(_.toLong).getOrElse(
                  Snapshots.versions(spark, table).last)
                if (args.contains("--cdf"))
                  Snapshots.readChangeFeed(spark, table, from, to,
                    keyCols = arg(args, "--key").toSeq)
                else Snapshots.readAppendedBetween(spark, table, from, to,
                  tolerateCompaction =
                    args.contains("--tolerate-compaction"))
            }
            df.show(20, truncate = false)
          case other => sys.error(s"snapshot: unknown action '$other'")
        }

      case "vacuum" =>
        // vacuum ROOT — sweep what crashed commits left (data batches
        // no version references, unclaimed manifests) from every
        // snapshot table directly under ROOT; no version is dropped
        import graft.maintain.Snapshots
        val root = new org.apache.hadoop.fs.Path(args(1))
        root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(root).filter(_.isDirectory).map(_.getPath.toString)
          .sorted.foreach { t =>
            val vs = Snapshots.versions(spark, t)
            if (vs.nonEmpty) {
              val (_, swept) = Snapshots.expire(spark, t, keepLast = vs.size)
              println(s"$t: swept $swept orphan batches")
            }
          }

      case "curate" =>
        // curate IN OUT [--min-quality Q] [--near-jaccard J]
        //   [--min-chars N] [--langs en,de] [--compression C]
        // IN: a parquet table with doc_id + text columns (e.g. the
        // documents fixture or a converted comments table re-keyed).
        val in = args(1)
        val out = args(2)
        graft.sources.Preflight.check(spark, in, out)
        val cfg = graft.llm.Curate.Config(
          nearDupJaccard =
            arg(args, "--near-jaccard").map(_.toDouble).getOrElse(0.85),
          minQuality =
            arg(args, "--min-quality").map(_.toDouble).getOrElse(0.25),
          minChars = arg(args, "--min-chars").map(_.toInt).getOrElse(20),
          langs = arg(args, "--langs").toSeq.flatMap(_.split(',').toSeq))
        val docs = spark.read.parquet(in)
        val codec = arg(args, "--compression").getOrElse("snappy")
        // partition by predicted language when gating on it (curated
        // corpora are read back per-language); otherwise flat layout
        val parts = if (cfg.langs.nonEmpty) Seq("lang_pred") else Seq.empty
        ParquetSink.write(
          graft.llm.Curate.curate(docs, cfg), out, codec,
          partitionCols = parts)
        graft.llm.Curate.auditCounts(docs, cfg)
          .orderBy(org.apache.spark.sql.functions.col("n_docs").desc)
          .show(truncate = false)

      case "dedup-incremental" =>
        // dedup-incremental IN REF OUT: keep only IN docs that are
        // neither exact nor near duplicates of the frozen REF corpus;
        // prints the phase audit (n_incoming/exact/near/kept).
        val (in, ref, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, ref)
        val minJ = arg(args, "--min-jaccard").map(_.toDouble).getOrElse(0.5)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val incoming = spark.read.parquet(in)
        val reference = spark.read.parquet(ref)
        // ONE phases pass feeds both the write and the audit (the
        // separate wrappers would run the exact anti-join and the full
        // cross-corpus LSH twice), and the combined form unpersists
        // its intermediates before returning
        val (kept, audit) = graft.llm.Dedup.incrementalDedupWithAudit(
          incoming, reference, minJaccard = minJ)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        audit.show(truncate = false)

      case "index-build" =>
        // index-build REF OUT: materialize REF's digests/bands/shingles
        // as a parquet LSH index for index-probe (build once, probe many).
        val (ref, out) = (args(1), args(2))
        graft.sources.Preflight.checkInput(spark, ref)
        val k = arg(args, "--shingle-k").map(_.toInt).getOrElse(3)
        val h = arg(args, "--num-hashes").map(_.toInt).getOrElse(64)
        val b = arg(args, "--bands").map(_.toInt).getOrElse(32)
        graft.llm.Dedup.writeLshIndex(
          spark.read.parquet(ref), out,
          shingleK = k, numHashes = h, bands = b)
        System.err.println(s"[index-build] wrote LSH index at $out " +
          s"(shingle-k $k, $h hashes, $b bands)")

      case "index-probe" =>
        // index-probe IN INDEX OUT: dedup-incremental, but the frozen
        // reference comes from a persisted index; prints the audit.
        val (in, idx, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        val minJ = arg(args, "--min-jaccard").map(_.toDouble).getOrElse(0.5)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val (kept, audit) = graft.llm.Dedup.incrementalDedupIndexedWithAudit(
          spark.read.parquet(in), idx, minJaccard = minJ)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        audit.show(truncate = false)

      case "index-append" =>
        // index-append IN INDEX: fold newly-vetted reference docs into
        // the persisted LSH dedup index (append ≡ rebuild exactly).
        val (in, idx) = (args(1), args(2))
        graft.sources.Preflight.checkInput(spark, in)
        val n = spark.read.parquet(in).count()
        graft.llm.Dedup.appendToLshIndex(spark.read.parquet(in), idx)
        System.err.println(s"[index-append] folded $n docs into $idx")

      case "bm25-index" =>
        // bm25-index DOCS OUT | bm25-index --append IN INDEX:
        // build (or grow) the persisted BM25 inverted index.
        if (args.contains("--append")) {
          val rest = args.filterNot(_ == "--append")
          val (in, idx) = (rest(1), rest(2))
          graft.sources.Preflight.checkInput(spark, in)
          graft.llm.Retrieval.appendToBm25Index(spark.read.parquet(in), idx)
          System.err.println(s"[bm25-index] appended $in into $idx")
        } else {
          val (docs, out) = (args(1), args(2))
          graft.sources.Preflight.checkInput(spark, docs)
          graft.llm.Retrieval.writeBm25Index(spark.read.parquet(docs), out)
          System.err.println(s"[bm25-index] wrote BM25 index at $out")
        }

      case "dense-index" =>
        // dense-index DOCS OUT | dense-index --append IN INDEX:
        // build (or grow) the persisted dense vector tower — the
        // fully-index-served hybrid's second side.
        if (args.contains("--append")) {
          val rest = args.filterNot(_ == "--append")
          val (in, idx) = (rest(1), rest(2))
          graft.sources.Preflight.checkInput(spark, in)
          graft.llm.Retrieval.appendToDenseIndex(
            spark.read.parquet(in), idx)
          System.err.println(s"[dense-index] appended $in into $idx")
        } else {
          val (docs, out) = (args(1), args(2))
          graft.sources.Preflight.checkInput(spark, docs)
          graft.llm.Retrieval.writeDenseIndex(
            spark.read.parquet(docs), out)
          System.err.println(s"[dense-index] wrote dense index at $out")
        }

      case "bm25-search" =>
        // bm25-search INDEX --terms a,b,c [--k N]: top-k by BM25 from
        // the persisted index; prints (doc_id, n_terms_hit, bm25).
        val idx = args(1)
        val terms = arg(args, "--terms").getOrElse(
          sys.error("bm25-search requires --terms a,b,c"))
          .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
        val k = arg(args, "--k").map(_.toInt).getOrElse(10)
        graft.llm.Retrieval.bm25TopKIndexed(spark, idx, terms, k = k)
          .show(k, truncate = false)

      case "ann-index" =>
        // ann-index EMB OUT [--nlist N --iters I --m M --k K] |
        // ann-index --append IN INDEX: build (or grow) the persisted
        // IVF-PQ serving index over an embeddings parquet.
        if (args.contains("--append")) {
          val rest = args.filterNot(_ == "--append")
          val (in, idx) = (rest(1), rest(2))
          graft.sources.Preflight.checkInput(spark, in)
          graft.llm.Quantize.appendToPqIndex(spark.read.parquet(in), idx)
          System.err.println(s"[ann-index] appended $in into $idx")
        } else {
          val (emb, out) = (args(1), args(2))
          graft.sources.Preflight.checkInput(spark, emb)
          graft.llm.Quantize.writePqIndex(spark.read.parquet(emb), out,
            nlist = arg(args, "--nlist").map(_.toInt).getOrElse(4),
            iters = arg(args, "--iters").map(_.toInt).getOrElse(2),
            m = arg(args, "--m").map(_.toInt).getOrElse(8),
            k = arg(args, "--k").map(_.toInt).getOrElse(16))
          System.err.println(s"[ann-index] wrote IVF-PQ index at $out")
        }

      case "index-compact" =>
        // index-compact KIND INDEX [--target-files N]: merge an
        // appended serving index's segments back to the canonical
        // single-segment layout a fresh build produces (crash-safe
        // swap per table; probes unchanged). KIND: lsh | bm25 | ann.
        //
        // Cross-process contract (Segments.tableLocks serializes
        // same-JVM only): a compaction racing an appender in ANOTHER
        // process can rename a just-written segment into the swap
        // backup and delete it. Run this command only when no other
        // process appends to INDEX — stop the stream, or call the
        // compact function from the appender's own JVM (where the
        // table lock makes it safe). The standard offline-compaction
        // contract; stated in README §maintenance and SegmentsSpec.
        val (kind, idx) = (args(1), args(2))
        kind match {
          case "lsh"   => graft.llm.Dedup.compactLshIndex(spark, idx)
          case "bm25"  => graft.llm.Retrieval.compactBm25Index(spark, idx)
          case "dense" => graft.llm.Retrieval.compactDenseIndex(spark, idx)
          case "ann"   => arg(args, "--target-files").map(_.toInt) match {
            case Some(n) =>
              graft.llm.Quantize.compactPqIndex(spark, idx, targetFiles = n)
            case None => graft.llm.Quantize.compactPqIndex(spark, idx)
          }
          case other   => sys.error(
            s"index-compact: unknown kind '$other' (lsh | bm25 | ann | dense)")
        }
        System.err.println(s"[index-compact] compacted $kind index at $idx")

      case "ann-search" =>
        // ann-search INDEX QUERIES --query-id N [--topk K] [--nprobe P]
        //   [--rerank EMB [--shortlist N]]:
        // IVF-PQ top-k for the vector with vec_id N in the QUERIES
        // parquet; prints (vec_id, adc_dist). With --rerank EMB, the
        // ADC shortlist (default 4·topk) re-ranks by exact squared-L2
        // against the EMB float table; prints (vec_id, exact_dist).
        val (idx, qsrc) = (args(1), args(2))
        graft.sources.Preflight.checkInput(spark, qsrc)
        val qid = arg(args, "--query-id").map(_.toLong).getOrElse(
          sys.error("ann-search requires --query-id N"))
        val topK = arg(args, "--topk").map(_.toInt).getOrElse(10)
        val nprobe = arg(args, "--nprobe").map(_.toInt).getOrElse(2)
        val qv = spark.read.parquet(qsrc)
          .filter(org.apache.spark.sql.functions.col("vec_id") === qid)
          .select("embedding").collect().headOption
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
          .getOrElse(sys.error(s"no vector with vec_id=$qid in $qsrc"))
        arg(args, "--rerank") match {
          case Some(embPath) =>
            graft.sources.Preflight.checkInput(spark, embPath)
            graft.llm.Quantize.ivfPqTopKReranked(spark, idx,
              spark.read.parquet(embPath), qv, topK = topK,
              nprobe = nprobe,
              shortlist = arg(args, "--shortlist").map(_.toInt)
                .getOrElse(topK * 4),
              excludeId = qid)
              .show(topK, truncate = false)
          case None =>
            graft.llm.Quantize.ivfPqTopKIndexed(spark, idx, qv,
              topK = topK, nprobe = nprobe, excludeId = qid)
              .show(topK, truncate = false)
        }

      case "hybrid-search" =>
        // hybrid-search DOCS --query "free text" [--index BM25IDX]
        //   [--k N] [--n-per-side N] [--diversify [--lambda L]]:
        // reciprocal-rank fusion of BM25 and dense hash-embed cosine
        // over a documents parquet; --index serves the lexical side
        // from a persisted BM25 index; --diversify re-ranks a 3k RRF
        // shortlist with MMR (rel = rrf_score) so near-duplicate hits
        // don't crowd the final k.
        import org.apache.spark.sql.functions.{col, lit}
        val docsPath = args(1)
        graft.sources.Preflight.checkInput(spark, docsPath)
        val qtext = arg(args, "--query").getOrElse(
          sys.error("hybrid-search requires --query \"free text\""))
        val k = arg(args, "--k").map(_.toInt).getOrElse(10)
        val diversify = args.contains("--diversify")
        val kFetch = if (diversify) k * 3 else k
        val n = arg(args, "--n-per-side").map(_.toInt).getOrElse(kFetch * 2)
        val docs = spark.read.parquet(docsPath)
        val qs = spark.range(1).select(
          lit(0).as("query_id"), lit(qtext).as("query_text"))
        val fused = (arg(args, "--index"), arg(args, "--dense-index")) match {
          case (Some(bm25Idx), Some(denseIdx)) =>
            // fully index-served: the query touches no document text
            graft.llm.Retrieval.hybridTopKFullyIndexed(
              spark, bm25Idx, denseIdx, qs, k = kFetch, nPerSide = n)
          case (Some(bm25Idx), None) => graft.llm.Retrieval.hybridTopKIndexed(
            spark, bm25Idx, docs, qs, k = kFetch, nPerSide = n)
          case (None, Some(_)) => sys.error(
            "hybrid-search: --dense-index requires --index (both towers " +
              "must be persisted for the fully-indexed form)")
          case (None, None) => graft.llm.Retrieval.hybridTopK(
            docs, qs, k = kFetch, nPerSide = n)
        }
        if (diversify) {
          val cands = fused
            .select(col("doc_id"), col("rrf_score").as("rel"))
            .join(docs.select(col("doc_id"),
              graft.llm.Retrieval.hashEmbed(col("text")).as("vec")),
              Seq("doc_id"))
          // cands is bounded by construction (≤ kFetch RRF rows), so
          // size the guard to it — the default 256 would wrongly
          // abort any --k above 85 (ADVICE r15)
          graft.llm.Retrieval.mmrDiversify(cands, k = k,
              lambda = arg(args, "--lambda").map(_.toDouble)
                .getOrElse(0.7),
              maxCandidates = kFetch)
            .show(k, truncate = false)
        } else {
          fused.orderBy("rank").drop("query_id").show(k, truncate = false)
        }

      case "decontaminate-spans" =>
        // decontaminate-spans IN BENCH OUT: excise every BENCH-
        // overlapping L-token window from IN docs, keep the remainder;
        // writes (doc_id, n_tokens, n_removed, kept_text).
        val (in, bench, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, bench)
        val l = arg(args, "--window-len").map(_.toInt).getOrElse(8)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val result = graft.llm.SpanDedup.decontaminateSpans(
          spark.read.parquet(in), spark.read.parquet(bench), windowLen = l)
        // same skip-if-empty / null-sum guard as dedup-lines below
        val removed =
          if (ParquetSink.write(result, out, codec, partitionCols = Seq.empty))
            spark.read.parquet(out)
              .agg(org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.sum("n_removed"),
                org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
          else 0L
        System.err.println(
          s"[decontaminate-spans] removed $removed tokens (window $l)")

      case "cap-source" =>
        // cap-source IN OUT --max-docs N: keep at most N docs per
        // source by deterministic salted-hash order.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val n = arg(args, "--max-docs").map(_.toInt).getOrElse(
          sys.error("cap-source requires --max-docs N"))
        val srcCol = arg(args, "--source-col").getOrElse("source")
        val codec = arg(args, "--compression").getOrElse("snappy")
        val df = spark.read.parquet(in)
        val kept = graft.llm.Sampling.capPerSource(df, n, sourceCol = srcCol)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        System.err.println(
          s"[cap-source] kept ${kept.count()} of ${df.count()} (cap $n/$srcCol)")

      case "pq-encode" =>
        // pq-encode IN OUT: product-quantize an embeddings table —
        // writes (vec_id, codes array<int>) at m*log2(k) bits/vector.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val m = arg(args, "--m").map(_.toInt).getOrElse(8)
        val k = arg(args, "--k").map(_.toInt).getOrElse(16)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val codes = graft.llm.Quantize.pqCodes(
          spark.read.parquet(in), m = m, k = k)
        ParquetSink.write(codes, out, codec, partitionCols = Seq.empty)
        System.err.println(s"[pq-encode] wrote PQ codes (m=$m, k=$k)")

      case "containment-dedup" =>
        // containment-dedup IN OUT: drop documents whose shingle set
        // is contained (>= --min-containment) in a LARGER document —
        // the quotation/partial-copy cleanup symmetric near-dup misses.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val minC = arg(args, "--min-containment").map(_.toDouble)
          .getOrElse(0.8)
        val maxDf = arg(args, "--max-df").map(_.toInt).getOrElse(1000)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val docs = spark.read.parquet(in)
        val kept = graft.llm.Dedup.containmentDedup(
          docs, minContainment = minC, maxShingleDf = maxDf)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (docs.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[containment-dedup] kept $nKept of $nIn (dropped ${nIn - nKept})")

      case "dedup-spans-intradoc" =>
        // dedup-spans-intradoc IN OUT [--window-len L]: excise repeat
        // occurrences of a token window WITHIN each document (the
        // in-document repetition cleanup; dedup-spans is the
        // cross-document variant).
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val winLen = arg(args, "--window-len").map(_.toInt).getOrElse(3)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val cleaned = graft.llm.SpanDedup.dedupDocSpans(
          spark.read.parquet(in), windowLen = winLen)
        ParquetSink.write(cleaned, out, codec, partitionCols = Seq.empty)
        val removed = spark.read.parquet(out)
          .agg(org.apache.spark.sql.functions
            .coalesce(org.apache.spark.sql.functions
              .sum("n_removed"), org.apache.spark.sql.functions.lit(0L)))
          .head().getLong(0)
        System.err.println(
          s"[dedup-spans-intradoc] removed $removed tokens (L=$winLen)")

      case "winnow-pairs" =>
        // winnow-pairs IN OUT [--k K] [--w W] [--min-shared N]
        //   [--max-df D]: MOSS-style copy-candidate pairs by shared
        //   winnowing fingerprints.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val k = arg(args, "--k").map(_.toInt).getOrElse(4)
        val w = arg(args, "--w").map(_.toInt).getOrElse(4)
        val minShared = arg(args, "--min-shared").map(_.toInt).getOrElse(2)
        val maxDf = arg(args, "--max-df").map(_.toInt).getOrElse(10)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val pairs = graft.llm.TextAnalysis.winnowPairs(
          spark.read.parquet(in), k = k, w = w,
          minShared = minShared, maxDf = maxDf)
        ParquetSink.write(pairs, out, codec, partitionCols = Seq.empty)
        System.err.println(
          s"[winnow-pairs] ${spark.read.parquet(out).count()} candidate " +
            s"pairs (k=$k, w=$w, minShared=$minShared, maxDf=$maxDf)")

      case "gopher-filter" =>
        // gopher-filter IN OUT [--min-words N] [--max-words N]:
        // keep only documents passing the published Gopher quality
        // rule set (word count, mean word length, symbol ratio, alpha
        // fraction, stopwords, bullet/ellipsis lines).
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val minW = arg(args, "--min-words").map(_.toInt).getOrElse(50)
        val maxW = arg(args, "--max-words").map(_.toInt).getOrElse(100000)
        val minStop = arg(args, "--min-stop").map(_.toInt).getOrElse(2)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val docs = spark.read.parquet(in)
        val kept = graft.llm.TextAnalysis.gopherKeep(
          docs, minWords = minW, maxWords = maxW, minStopwords = minStop)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (docs.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[gopher-filter] kept $nKept of $nIn (words in [$minW, $maxW])")

      case "phash-dedup" =>
        // phash-dedup IN OUT [--keep]: perceptual (dHash) image dedup
        // audit over a media parquet (media_id, modality, payload
        // [, source_doc — defaulted to media_id when absent]) —
        // writes the byte/pixel/perceptual group sizes per image, or
        // with --keep only one image per perceptual group.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val codec = arg(args, "--compression").getOrElse("snappy")
        implicit val s: org.apache.spark.sql.SparkSession = spark
        import spark.implicits._
        val raw = spark.read.parquet(in)
        val media = (if (raw.columns.contains("source_doc")) raw
          else raw.withColumn("source_doc",
            org.apache.spark.sql.functions.col("media_id")))
          .as[graft.llm.Multimodal.MediaRow]
        val groups = graft.llm.Multimodal.perceptualDedupGroups(media)
        val result =
          if (args.contains("--keep"))
            groups.filter(org.apache.spark.sql.functions
              .col("media_id") === org.apache.spark.sql.functions
              .col("keep_id"))
          else groups
        ParquetSink.write(result, out, codec, partitionCols = Seq.empty)
        System.err.println(
          s"[phash-dedup] wrote ${spark.read.parquet(out).count()} rows" +
            (if (args.contains("--keep")) " (perceptual keepers)" else ""))

      case "nb-filter" =>
        // nb-filter IN TRAIN OUT --label-col C: train a Naive Bayes
        // quality classifier on TRAIN's boolean label column, keep
        // the IN documents it predicts positive.
        val (in, train, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, train)
        val labelCol = arg(args, "--label-col").getOrElse(
          sys.error("nb-filter requires --label-col C (boolean)"))
        val vocab = arg(args, "--vocab").map(_.toInt).getOrElse(1000)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val docs = spark.read.parquet(in)
        val kept = graft.llm.Classifier.nbFilter(
          spark.read.parquet(train), org.apache.spark.sql.functions
            .col(labelCol), docs, vocabSize = vocab)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (docs.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[nb-filter] kept $nKept of $nIn (vocab $vocab)")

      case "dsir-select" =>
        // dsir-select IN TARGET OUT --n N: keep the N documents of IN
        // whose hashed-n-gram distribution is most like TARGET.
        val (in, target, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, target)
        val n = arg(args, "--n").map(_.toInt).getOrElse(
          sys.error("dsir-select requires --n N"))
        val buckets = arg(args, "--buckets").map(_.toInt).getOrElse(4096)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val kept = graft.llm.Importance.importanceSelect(
          spark.read.parquet(in), spark.read.parquet(target),
          n = n, numBuckets = buckets)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        System.err.println(
          s"[dsir-select] kept ${spark.read.parquet(out).count()} " +
            s"(top $n by importance, $buckets buckets)")

      case "semantic-decon" =>
        // semantic-decon IN EVAL OUT: drop IN vectors within
        // --min-cosine of ANY EVAL vector (embedding-space
        // decontamination; both tables are (vec_id, embedding)).
        val (in, eval, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, eval)
        val minCos = arg(args, "--min-cosine").map(_.toDouble)
          .getOrElse(0.9)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val corpus = spark.read.parquet(in)
        val kept = graft.llm.Similarity.semanticDecontaminate(
          corpus,
          spark.read.parquet(eval).select(
            org.apache.spark.sql.functions.col("vec_id").as("eval_id"),
            org.apache.spark.sql.functions.col("embedding").as("eval_vec")),
          minCosine = minCos)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (corpus.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[semantic-decon] kept $nKept of $nIn (min-cosine $minCos)")

      case "jl-project" =>
        // jl-project IN OUT --in-dim D [--out-dim D2]: compress an
        // embeddings table with the deterministic JL sign projection.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val inDim = arg(args, "--in-dim").map(_.toInt).getOrElse(
          sys.error("jl-project requires --in-dim D"))
        val outDim = arg(args, "--out-dim").map(_.toInt).getOrElse(inDim / 4)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val proj = graft.llm.Quantize.jlProject(
          spark.read.parquet(in), inDim, outDim)
        ParquetSink.write(proj, out, codec, partitionCols = Seq.empty)
        System.err.println(s"[jl-project] $inDim -> $outDim dims")

      case "decontaminate" =>
        // decontaminate IN BENCH OUT: drop IN docs sharing a k-word
        // shingle with the BENCH corpus; prints kept/dropped counts.
        val (in, bench, out) = (args(1), args(2), args(3))
        graft.sources.Preflight.check(spark, in, out)
        graft.sources.Preflight.checkInput(spark, bench)
        val k = arg(args, "--shingle-k").map(_.toInt).getOrElse(8)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val probe = spark.read.parquet(in)
        val kept = graft.llm.Dedup.decontaminate(
          probe, spark.read.parquet(bench), k = k)
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (probe.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[decontaminate] kept $nKept of $nIn (dropped ${nIn - nKept})")

      case "dedup-lines" =>
        // dedup-lines IN OUT: drop every line occurring in ≥ --min-df
        // distinct docs and reassemble; writes the audit+data frame
        // (doc_id, n_lines, n_kept, n_removed, kept_text).
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val minDf = arg(args, "--min-df").map(_.toInt).getOrElse(2)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val result = graft.llm.LineDedup.dedupCorpusLines(
          spark.read.parquet(in), minDocFreq = minDf)
        // honor the sink's skip-if-empty: on a zero-row corpus nothing
        // is written, so there is no output to re-read (the read-back
        // used to fail there; sum() over zero rows is null → coalesce)
        val removed =
          if (ParquetSink.write(result, out, codec, partitionCols = Seq.empty))
            spark.read.parquet(out)
              .agg(org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.sum("n_removed"),
                org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
          else 0L
        System.err.println(s"[dedup-lines] removed $removed lines (df >= $minDf)")

      case "dedup-spans" =>
        // dedup-spans IN OUT: remove every --window-len token window
        // occurring in ≥ --min-df distinct docs; writes
        // (doc_id, n_tokens, n_removed, kept_text).
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val l = arg(args, "--window-len").map(_.toInt).getOrElse(8)
        val minDf = arg(args, "--min-df").map(_.toInt).getOrElse(2)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val result = graft.llm.SpanDedup.dedupCorpusSpans(
          spark.read.parquet(in), windowLen = l, minDf = minDf)
        // same skip-if-empty / null-sum guard as dedup-lines above
        val removed =
          if (ParquetSink.write(result, out, codec, partitionCols = Seq.empty))
            spark.read.parquet(out)
              .agg(org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.sum("n_removed"),
                org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
          else 0L
        System.err.println(
          s"[dedup-spans] removed $removed tokens (window $l, df >= $minDf)")

      case "semdedup" =>
        // semdedup IN OUT: semantic dedup over an embeddings table
        // (vec_id + embedding); keeps rows the dominance rule marks
        // keep. --lsh switches to the cluster-scoped-LSH scale tier.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val kC = arg(args, "--centroids").map(_.toInt).getOrElse(8)
        val minCos = arg(args, "--min-cosine").map(_.toDouble).getOrElse(0.95)
        val codec = arg(args, "--compression").getOrElse("snappy")
        val emb = spark.read.parquet(in)
        val marks =
          if (args.contains("--lsh"))
            graft.llm.Similarity.semDedupMarksLsh(emb, kC, minCos)
          else graft.llm.Similarity.semDedupMarks(emb, kC, minCos)
        val kept = emb.join(
          marks.filter(org.apache.spark.sql.functions.col("keep"))
            .select("vec_id"),
          Seq("vec_id"), "left_semi")
        ParquetSink.write(kept, out, codec, partitionCols = Seq.empty)
        val (nIn, nKept) = (emb.count(), spark.read.parquet(out).count())
        System.err.println(
          s"[semdedup] kept $nKept of $nIn (dropped ${nIn - nKept})")

      case "novelty" =>
        // novelty IN REF: report-only — per-corpus novelty summary of
        // IN against the frozen REF corpus; --bloom uses the
        // sketch-pruned path (identical rows).
        val (in, ref) = (args(1), args(2))
        graft.sources.Preflight.checkInput(spark, in)
        graft.sources.Preflight.checkInput(spark, ref)
        val k = arg(args, "--shingle-k").map(_.toInt).getOrElse(3)
        val cand = spark.read.parquet(in)
        val refDf = spark.read.parquet(ref)
        val perDoc =
          if (args.contains("--bloom"))
            graft.llm.Novelty.noveltyVsReferenceBloom(cand, refDf, k)
          else graft.llm.Novelty.noveltyVsReference(cand, refDf, k)
        import org.apache.spark.sql.functions._
        perDoc.agg(
          count(lit(1)).as("n_docs"),
          coalesce(round(avg(col("novelty")), 4), lit(0.0)).as("mean_novelty"),
          sum(when(col("novelty") === 1.0, 1L).otherwise(0L)).as("n_fully_novel"),
          sum(when(col("novelty") === 0.0, 1L).otherwise(0L)).as("n_fully_seen"))
          .show(truncate = false)

      case "sketch-build" =>
        // sketch-build IN OUT --type hll|kll|theta|hist --bucket C --key C
        //   [--lo X --hi Y --bins N]   (hist only: fixed domain)
        // One per-bucket sketch row per bucket value; append new
        // buckets by re-running with a bucket filter upstream.
        val (in, out) = (args(1), args(2))
        graft.sources.Preflight.check(spark, in, out)
        val bucket = arg(args, "--bucket").getOrElse("day")
        val key = arg(args, "--key").getOrElse("user_id")
        val df = spark.read.parquet(in)
        arg(args, "--type").getOrElse("hll") match {
          case "hll" =>
            graft.operators.DistinctSketches
              .writeSketchTable(df, bucket, key, out)
          case "kll" =>
            graft.operators.QuantileSketches
              .writeSketchTable(df, bucket, key, out)
          case "theta" =>
            graft.operators.ThetaSketches
              .writeSketchTable(df, bucket, key, out)
          case "hist" =>
            graft.operators.HistogramSketch.writeHistogramTable(
              df, bucket, key,
              arg(args, "--lo").map(_.toDouble).getOrElse(0.0),
              arg(args, "--hi").map(_.toDouble).getOrElse(500.0),
              arg(args, "--bins").map(_.toInt).getOrElse(64),
              outPath = out, rangeFiles = 8)
          case t => throw new IllegalArgumentException(
            s"unknown sketch type: $t (hll|kll|theta|hist)")
        }
        System.err.println(s"[sketch-build] ${spark.read.parquet(out).count()} " +
          "bucket rows written")

      case "sketch-query" =>
        // sketch-query PATH --type hll|kll|theta [--from B --to B]
        //   [--q 0.25,0.5]             (kll: quantile ranks)
        //   [--b-from B --b-to B]      (theta: second range → overlap)
        // Answers from the sketch table alone — no raw-data scan.
        val path = args(1)
        graft.sources.Preflight.checkInput(spark, path)
        import org.apache.spark.sql.functions.{col, lit}
        def rangePred(fromFlag: String, toFlag: String) =
          (arg(args, fromFlag), arg(args, toFlag)) match {
            case (Some(a), Some(b)) => col("bucket").between(a, b)
            case (Some(a), None) => col("bucket") >= a
            case (None, Some(b)) => col("bucket") <= b
            case _ => lit(true)
          }
        arg(args, "--type").getOrElse("hll") match {
          case "hll" =>
            val est = graft.operators.DistinctSketches.estimateRange(
              spark, path, rangePred("--from", "--to"))
            println(s"""{"distinct_estimate":$est}""")
          case "kll" =>
            val qs = arg(args, "--q").getOrElse("0.5")
              .split(',').map(_.trim.toDouble).toSeq
            val rows = graft.operators.QuantileSketches
              .rangeQuantilesFromTable(
                spark, path, rangePred("--from", "--to"), qs)
              .collect()
              .map(r => s""""${r.getDouble(0)}":${r.get(1)}""")
            println(rows.mkString("{", ",", "}"))
          case "theta" =>
            val est = graft.operators.ThetaSketches.overlapFromTable(
                spark, path,
                rangePred("--from", "--to"),
                rangePred("--b-from", "--b-to"))
              .head().getDouble(0)
            println(s"""{"overlap_estimate":$est}""")
          case t => throw new IllegalArgumentException(
            s"unknown sketch type: $t (hll|kll|theta)")
        }

      case "bench" => graft.Bench.main(Array.empty)

      case other =>
        usage()
        throw new IllegalArgumentException(s"unknown command: $other")
    }
}
