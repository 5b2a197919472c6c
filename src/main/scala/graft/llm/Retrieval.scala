package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextHash}

/** BM25 retrieval scoring over a document corpus — the lexical search
  * primitive a training-data pipeline uses for targeted corpus probes
  * (find documents about X, score benchmark leakage candidates, build
  * retrieval baselines).
  *
  * Lucene-flavored BM25: `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`,
  * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
  *
  * Scale shape: two narrow scans of the corpus (one global length
  * aggregate for `N`/`avgdl`, one tokenize pass) — the `isin(query)`
  * filter drops non-matching tokens BEFORE any exchange, so only
  * `(doc, query-term)` rows ever shuffle (bounded by |query| · N, in
  * practice a sliver of the corpus). Document frequencies are |query|
  * rows, broadcast; the final top-k is a `TakeOrderedAndProject`, never
  * a global sort. No inverted index is materialized — at 100 TB the
  * index build would itself be the dominant cost, and a scan-time score
  * fuses with whatever filter/projection precedes it.
  */
object Retrieval {

  /** All documents matching ≥1 query term, scored:
    * `(idCol, n_terms_hit, bm25)` — bm25 rounded to 4 decimals so the
    * cross-engine summation-order noise in the last ulp cannot leak
    * into results. */
  def bm25Scores(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val withLen = docTokens(docs, idCol, textCol)
    val stats = corpusStats(withLen)
    val tf = withLen
      .select(col(idCol), col("dl"),
        explode(col("__graft_toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .transform(withTermScore(k1, b))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        round(sum(col("term_score")), 4).as("bm25"))
  }

  /** The Lucene-flavored BM25 arithmetic, one definition for the live,
    * batch and indexed scorers: `idf` and `term_score` columns over a
    * frame carrying `(tf, dl, df, n_docs, avgdl)`. Every scorer then
    * sums `term_score` per (query,) document and rounds to 4. */
  private def withTermScore(k1: Double, b: Double)(
      df: DataFrame): DataFrame =
    df
      .withColumn("idf",
        log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double") +
            lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl").cast("double") / col("avgdl"))))

  /** Live corpus statistics of a [[docTokens]] frame: one row
    * `(n_docs, avgdl)`. */
  private def corpusStats(withLen: DataFrame): DataFrame =
    withLen.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))

  /** Deterministic hash-bucket embedding: lowercased whitespace
    * tokens hashed into `dims` count buckets (`v[j] = #{t :
    * text_hash(t) mod dims = j}`, as doubles). This is the
    * feature-hashing ("hashing trick") text vectorizer — a real model
    * would replace it, but the Spark-side plumbing (array algebra,
    * codegen hash, broadcast query vector, cosine top-k) is exactly
    * what a learned embedding flows through, and unlike one it is
    * reproducible on any engine, so retrieval results can be
    * oracle-checked end to end. Pure column algebra (`transform` /
    * `filter` / `size`), O(dims · tokens) per row, zero UDFs. */
  def hashEmbed(text: Column, dims: Int = 16): Column =
    hashEmbedTokens(TextAnalysis.tokens(coalesce(text, lit(""))), dims)

  /** [[hashEmbed]] over an already-tokenized column — for callers that
    * hold the token array (chunking's `keepTokens`): skips the
    * join-to-text + regex re-split round-trip. Identical vectors:
    * whitespace token boundaries are case-independent, so lowercasing
    * per token ≡ tokenizing the lowercased text. */
  def hashEmbedTokens(toks: Column, dims: Int = 16): Column = {
    require(dims > 0, s"dims must be positive: $dims")
    val hashes = transform(toks,
      t => pmod(TextHash.text_hash(lower(t)), lit(dims.toLong)))
    transform(sequence(lit(0), lit(dims - 1)),
      j => size(filter(hashes, h => h === j)).cast("double"))
  }

  /** Composed RAG retrieval: chunk the corpus
    * ([[Chunking.chunk]], fixed windows) → [[hashEmbed]] each chunk →
    * cosine top-k against the embedded query string. ONE lazy plan:
    * chunking and embedding are narrow projections fused into the
    * scan, the query vector is a broadcast one-row frame, and the
    * top-k is a `TakeOrderedAndProject` — the only exchange in the
    * whole pipeline. Returns `(doc_id, chunk_idx, cos_sim)`;
    * ties break (cos_sim desc, doc_id, chunk_idx). */
  def ragRetrieve(
      docs: DataFrame,
      queryText: String,
      k: Int = 10,
      dims: Int = 16,
      chunkSize: Int = 32,
      overlap: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    val chunks = Chunking
      .chunk(docs, textCol = textCol, chunkSize = chunkSize,
        overlap = overlap, keepTokens = true)
      .select(col(idCol), col("chunk_idx"),
        hashEmbedTokens(col("chunk_tokens"), dims).as("__graft_v"))
    val query = spark.range(1)
      .select(hashEmbed(lit(queryText), dims).as("__graft_q"))
    chunks
      .crossJoin(broadcast(query))
      .select(col(idCol), col("chunk_idx"),
        round(Similarity.cosine(col("__graft_v"), col("__graft_q")), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol), col("chunk_idx"))
      .limit(k)
  }

  /** Top-k by BM25, ties broken by id — a `TakeOrderedAndProject`
    * (per-partition heap + driver merge), never a global sort. */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    bm25Scores(docs, queryTerms, k1, b, idCol, textCol)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  // ---- persisted BM25 serving index -----------------------------------

  /** Bump when the on-disk layout changes. v2: stats hold exact
    * integers (n_docs, total_dl) instead of a derived avgdl, so
    * incremental appends merge EXACTLY (long addition) and the probe
    * derives avgdl with the live path's own division. v3: every
    * appendable table becomes a directory of SEGMENTS
    * ([[graft.maintain.Segments]]) — the build writes `seg=base`, each
    * append writes exactly one new segment with overwrite-own-directory
    * semantics, so an at-least-once replay of the same batch (the
    * streaming arm's crash-between-sink-and-checkpoint window)
    * converges to the identical index instead of double-counting tf/df
    * rows. df and stats hold PER-SEGMENT exact integers summed at
    * probe time (same arithmetic as a merged table, bit-identical
    * scores); [[compactBm25Index]] restores the single-segment
    * canonical layout a fresh build produces. */
  val Bm25IndexFormat: Int = 3

  /** Does a CURRENT-format BM25 index exist at `path`? Meta-last
    * validity protocol, as in [[Dedup.lshIndexExists]] /
    * [[Quantize.pqIndexExists]]. */
  def bm25IndexExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.maintain.Segments.metaFormatIs(spark, path, Bm25IndexFormat)

  /** Materialize the BM25 inverted index at `path` — the
    * build-once/probe-many form of [[bm25Scores]]. The scan-time
    * scorer above is right for ONE-OFF corpus probes (an index build
    * would dominate a single query); a SERVING deployment answering
    * many queries over a frozen corpus amortizes exactly that build,
    * after which a query touches only its own terms' postings. Tables
    * (parquet, meta written LAST as the validity marker):
    *
    *   - `path/postings` — (token, id, tf, dl): one row per
    *     (document, term) — the corpus-sized table, each segment
    *     range-partitioned AND sorted by token so a query's
    *     `token IN (…)` pushes into the scan and prunes row groups by
    *     min/max stats: probe I/O is proportional to the query terms'
    *     postings, not the corpus
    *   - `path/df` — (token, df): PER-SEGMENT token document
    *     frequency, precomputed at build/append (the
    *     [[Dedup.writeLshIndex]] bucket-counts principle: a probe must
    *     not re-aggregate corpus statistics — it sums the query
    *     terms' ≤|terms|·segments pre-counted rows), same token-sorted
    *     pruning
    *   - `path/stats` — one (n_docs, total_dl) row per segment,
    *     summed at probe time
    *   - `path/meta` — format version
    *
    * Scoring parameters (k1, b) stay query-time — they multiply
    * stored counts, so one index serves any parameterization. */
  def writeBm25Index(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    graft.maintain.Segments.clearMeta(spark, path)
    writeBm25Tables(docs, idCol, textCol,
        graft.maintain.Segments.shardCount) { (table, df) =>
      graft.maintain.Segments.writeBase(df, s"$path/$table")
    }
    graft.maintain.Segments.writeMeta(spark, path,
      lit(Bm25IndexFormat).as("format"))
  }

  /** Incremental index maintenance: fold a batch of NEW documents
    * into the persisted index. BM25's stored state is all corpus
    * AGGREGATES — per-(doc, term) tf/dl rows, per-token df, (n_docs,
    * total_dl) — every one of them associative, so unlike the IVF-PQ
    * append (whose quantizer stays frozen) the appended index SCORES
    * exactly as a full rebuild over the grown corpus would (summing
    * per-segment exact integers is the same arithmetic as pre-merged
    * ones), and [[compactBm25Index]] reduces the appended layout to
    * the rebuild's bit for bit.
    *
    * The append writes ONE new segment per table ([[graft.maintain
    * .Segments.writeSegment]]: overwrite-own-directory), which makes
    * it IDEMPOTENT per `segId` — the at-least-once replay of the
    * streaming arm (crash after the sink work, before the checkpoint
    * commit) re-runs with the same batch-derived segId and converges
    * to the identical index instead of double-counting tf/df rows. A
    * crash MID-append leaves at most a valid index whose tables are
    * one batch apart (momentarily stale-scored, no corruption); the
    * replay overwrites every partial segment. Batch callers without a
    * replay story omit `segId` and get a fresh unique segment. */
  def appendToBm25Index(
      newDocs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      segId: String = graft.maintain.Segments.freshSegId()): Unit = {
    val spark = newDocs.sparkSession
    require(bm25IndexExists(spark, path),
      s"no BM25 index at $path — writeBm25Index first")
    writeBm25Tables(newDocs, idCol, textCol,
        graft.maintain.Segments.appendWriteTasks) { (table, df) =>
      graft.maintain.Segments.writeSegment(df, s"$path/$table", segId)
    }
  }

  /** The BM25 index's three segment tables derived from `docs`, each
    * handed to `write(table, frame)` in a fixed order — postings, df,
    * stats — the ONE derivation the build ([[writeBm25Index]],
    * `writeBase`) and the append ([[appendToBm25Index]],
    * `writeSegment`) share. The token frame is tokenized once and the
    * postings aggregated once: both are checkpointed, since postings
    * feed their own write AND the df table, and the token frame feeds
    * postings AND stats. Write tasks: the postings range-write takes
    * `postingsTasks(sized)` — [[graft.maintain.Segments.shardCount]]
    * for a build, [[graft.maintain.Segments.appendWriteTasks]] (the
    * parallel-encode floor; at one shard the append's postings write
    * was a single task) for an append — and the df table a sixteenth
    * of the shard count. Both are sized from the scan-backed input
    * (postings bytes ≈ the tokenized text bytes) BEFORE the
    * checkpoints, whose estimates are not scan-derived. */
  private def writeBm25Tables(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      postingsTasks: DataFrame => Int)(
      write: (String, DataFrame) => Unit): Unit = {
    val sized = docs.select(col(idCol), col(textCol))
    val nShards = graft.maintain.Segments.shardCount(sized)
    val nPostings = postingsTasks(sized)
    val withLen = docTokens(docs, idCol, textCol)
      .withColumnRenamed(idCol, "id")
      .localCheckpoint(true)
    val postings = withLen
      .select(col("id"), col("dl"),
        explode(col("__graft_toks")).as("token"))
      .groupBy(col("token"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    write("postings",
      postings.repartitionByRange(nPostings, col("token"))
        .sortWithinPartitions("token"))
    write("df",
      postings.groupBy("token").agg(count(lit(1)).as("df"))
        .repartitionByRange(math.max(1, nShards / 16), col("token"))
        .sortWithinPartitions("token"))
    write("stats",
      withLen.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl")))
  }

  /** Compact an appended index back to the canonical single-segment
    * layout a fresh build produces — postings re-range-partitioned and
    * re-sorted by token (so row-group pruning keeps its build-time
    * selectivity after many appends fragment the token ranges), df and
    * stats summed to their merged form. Each table replaces under the
    * crash-safe [[graft.maintain.Swap]] protocol: a concurrent probe
    * sees the old table or the new one, never halves, and probe
    * results are unchanged by construction (the sums the probe
    * computes are just precomputed). */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    require(bm25IndexExists(spark, path),
      s"no BM25 index at $path — writeBm25Index first")
    graft.maintain.Segments.replaceTable(spark, s"$path/postings")(t =>
      t.repartitionByRange(graft.maintain.Segments.shardCount(t),
        col("token")).sortWithinPartitions("token"))
    graft.maintain.Segments.replaceTable(spark, s"$path/df")(t =>
      t.groupBy("token").agg(sum(col("df")).as("df"))
        .repartitionByRange(graft.maintain.Segments.shardCount(t),
          col("token")).sortWithinPartitions("token"))
    graft.maintain.Segments.replaceTable(spark, s"$path/stats")(
      _.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("total_dl")), lit(0L)).as("total_dl")))
  }

  /** [[bm25TopK]] against the PERSISTED index: same Lucene-flavored
    * arithmetic, same `(bm25 DESC, id ASC)` output — but tokenize,
    * postings, document frequencies and corpus stats are amortized
    * into [[writeBm25Index]]. The probe folds the index's small
    * tables on the driver: the per-segment stats rows
    * ([[indexStatsLiterals]]) and the query terms' df ([[queryDf]])
    * enter the plan as literals, the df as ONE map literal, which
    * generated code receives as an object, so a fresh query reuses
    * the compiled classes. The postings scan reads only the terms the
    * index holds, through a pushed-down `token IN` on the token-sorted
    * table. The plan is that scan, the per-id aggregate and the
    * bounded `TakeOrderedAndProject`; no df aggregate, no broadcast. */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queryTerms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive: $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    require(bm25IndexExists(spark, indexPath),
      s"no BM25 index at $indexPath — writeBm25Index first")
    val stats = indexStatsLiterals(spark, indexPath)
    val dfreq = queryDf(spark, indexPath, queryTerms)
    graft.maintain.Segments.read(spark, s"$indexPath/postings")
      .filter(
        if (dfreq.isEmpty) lit(false)
        else col("token").isin(dfreq.keys.toSeq: _*))
      .withColumn("df", element_at(typedLit(dfreq), col("token")))
      .withColumn("n_docs", stats._1)
      .withColumn("avgdl", stats._2)
      .transform(withTermScore(k1, b))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        round(sum(col("term_score")), 4).as("bm25"))
      .select(col("id").as(idCol), col("n_terms_hit"), col("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** The query terms' global document frequencies: their per-segment
    * df rows (≤ |terms|·segments, read through the pushed `token IN`
    * on the token-sorted table) collected and summed on the driver —
    * exact long sums, the df counterpart of [[indexStatsLiterals]].
    * A term the index does not hold has no entry. */
  private def queryDf(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      terms: Seq[String]): Map[String, Long] =
    graft.maintain.Segments.read(spark, s"$indexPath/df")
      .filter(col("token").isin(terms.distinct: _*))
      .select("token", "df")
      .collect()
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)

  // ---- hybrid retrieval: RRF fusion of BM25 + dense cosine -----------

  /** The distinct `(query_id, token)` term set of a query batch —
    * the same whitespace/lowercase tokenization the corpus side uses,
    * so a query term matches exactly the postings its text would
    * generate. */
  private def queryTermsOf(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol),
        explode(TextAnalysis.tokens(
          lower(coalesce(col(queryTextCol), lit(""))))).as("token"))
      .distinct()

  /** The shared per-doc token frame every corpus-side path derives
    * from — the scan-time scorer, the BM25 index tables and both
    * hybrid sides: `(idCol, __graft_toks, dl)`. One tokenize
    * DEFINITION — the lexical branch explodes it, the dense branch
    * hashes it — though
    * physically each branch plans its own column-pruned (id, text)
    * scan with the tokenizer fused in: at corpus scale two pruned
    * scans beat materializing the token arrays. */
  private def docTokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(lower(coalesce(col(textCol), lit(""))))
    docs
      .select(col(idCol), toks.as("__graft_toks"))
      .select(col(idCol), col("__graft_toks"),
        size(col("__graft_toks")).cast("long").as("dl"))
  }

  /** Batch BM25 over a [[docTokens]] frame: `(queryIdCol, idCol,
    * bm25)` for every (query, doc) pair with ≥1 term hit. tf/df/idf
    * are computed ONCE per (doc, token) over the UNION of all
    * queries' terms, then fanned out to queries through a broadcast
    * `(query_id, token)` join — so a 10k-query backfill pays one
    * tf/df pass, not 10k. Same arithmetic as [[bm25Scores]] (round-4
    * after the per-query term sum). */
  private def bm25ScoresBatch(
      withLen: DataFrame,
      qTerms: DataFrame,
      k1: Double,
      b: Double,
      idCol: String,
      queryIdCol: String): DataFrame = {
    val stats = corpusStats(withLen)
    val terms = qTerms.select("token").distinct()
    val tf = withLen
      .select(col(idCol), col("dl"),
        explode(col("__graft_toks")).as("token"))
      .join(broadcast(terms), Seq("token"), "left_semi")
      .groupBy(col(idCol), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .transform(withTermScore(k1, b))
      .join(broadcast(qTerms), Seq("token"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("term_score")), 4).as("bm25"))
  }

  /** The stored corpus statistics as LITERAL columns: per-segment
    * (n_docs, total_dl) rows are metadata-class (one row per segment,
    * bounded by appends since the last compaction — the same class
    * [[graft.maintain.Segments.localRows]] memoizes for meta/
    * centroids/codebook), so the probe folds them on the driver
    * instead of planning a read + aggregate + broadcast-exchange per
    * query — with AQE on, that was 2–3 extra query stages of pure
    * latency on every indexed probe (measured: the bm25 side of the
    * x100 fully-indexed hybrid spent ~1.9 s against a 0.43 s postings
    * scan, mostly stage round-trips). Identical values by
    * construction: exact long sums and the same double division the
    * in-plan aggregate produced (null avgdl on an empty index — ANSI
    * guard preserved). */
  private def indexStatsLiterals(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Column, Column) = {
    val rows = graft.maintain.Segments
      .localRows(spark, s"$indexPath/stats")
      .getOrElse(Seq.empty)
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val totalDl = rows.map(_.getAs[Long]("total_dl")).sum
    val avgdl =
      if (nDocs == 0L) lit(null).cast("double")
      else lit(totalDl.toDouble / nDocs.toDouble)
    (lit(nDocs), avgdl)
  }

  /** Below this many DISTINCT batch terms, the indexed batch path
    * collects them (a bounded, threshold-gated collect — the
    * request-sized term set, not corpus data) and filters postings/df
    * with a pushed literal `token IN`, keeping [[bm25TopKIndexed]]'s
    * row-group pruning; above it, a broadcast semi-join trades
    * per-term pruning for one un-pruned postings scan serving the
    * whole batch (the backfill regime, where the union of terms
    * covers most row groups anyway). */
  val Bm25BatchPushdownMaxTerms = 128

  /** [[bm25ScoresBatch]] against the PERSISTED index. Term filtering
    * is adaptive (see [[Bm25BatchPushdownMaxTerms]]): interactive-
    * sized batches keep the single-query probe's pushed `token IN`
    * pruning; backfill-sized batches semi-join so the term list never
    * rides the driver. Stats/df sum across segments exactly as the
    * single-query probe does. */
  private def bm25ScoresIndexedBatch(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      qTerms: DataFrame,
      k1: Double,
      b: Double,
      idCol: String,
      queryIdCol: String): DataFrame = {
    require(bm25IndexExists(spark, indexPath),
      s"no BM25 index at $indexPath — writeBm25Index first")
    val stats = indexStatsLiterals(spark, indexPath)
    val terms = qTerms.select("token").distinct()
    // threshold-gated: collect at most max+1 terms to decide; only a
    // request-bounded term set ever reaches the driver
    val pushable = terms.limit(Bm25BatchPushdownMaxTerms + 1)
      .collect().map(_.getString(0))
    val termFilter: DataFrame => DataFrame =
      if (pushable.length <= Bm25BatchPushdownMaxTerms)
        df => df.filter(col("token").isin(pushable.toIndexedSeq: _*))
      else
        df => df.join(broadcast(terms), Seq("token"), "left_semi")
    val dfreq = termFilter(
        graft.maintain.Segments.read(spark, s"$indexPath/df"))
      .groupBy("token").agg(sum(col("df")).as("df"))
    termFilter(graft.maintain.Segments.read(spark, s"$indexPath/postings"))
      .join(broadcast(dfreq), Seq("token"))
      .withColumn("n_docs", stats._1)
      .withColumn("avgdl", stats._2)
      .transform(withTermScore(k1, b))
      .join(broadcast(qTerms), Seq("token"))
      .groupBy(col(queryIdCol), col("id"))
      .agg(round(sum(col("term_score")), 4).as("bm25"))
      .select(col(queryIdCol), col("id").as(idCol), col("bm25"))
  }

  /** Batch dense scores over a [[docTokens]] frame: round-4 cosine
    * between each doc's [[hashEmbedTokens]] vector and each query's
    * [[hashEmbed]] — the brute-force dense side (the IVF-PQ serving
    * index is the scale path for LEARNED embeddings; hash vectors are
    * cheap enough to score in-plan). One corpus scan; the query
    * vectors broadcast. */
  private def denseScores(
      withLen: DataFrame,
      queries: DataFrame,
      dims: Int,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String): DataFrame = {
    val dv = withLen.select(col(idCol),
      hashEmbedTokens(col("__graft_toks"), dims).as("__graft_v"))
    val qv = queries.select(col(queryIdCol),
      hashEmbed(col(queryTextCol), dims).as("__graft_q"))
    dv.crossJoin(broadcast(qv))
      .select(col(queryIdCol), col(idCol),
        round(Similarity.cosine(col("__graft_v"), col("__graft_q")), 4)
          .as("cos_sim"))
  }

  // ---- persisted dense-vector serving index ---------------------------

  /** Bump when the on-disk layout changes. v1: one segmented table
    * `vectors` (id, v) + meta (format, dims), the
    * [[graft.maintain.Segments]] layout shared with the BM25/LSH/PQ
    * families. */
  val DenseIndexFormat: Int = 1

  /** Does a CURRENT-format dense index exist at `path`? Meta-last
    * validity protocol, as in [[bm25IndexExists]]. */
  def denseIndexExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.maintain.Segments.metaFormatIs(spark, path, DenseIndexFormat)

  /** Materialize the dense retrieval tower at `path`: each document's
    * [[hashEmbedTokens]] vector over the SAME tokenization the live
    * dense side uses — so a probe against the stored vectors is
    * bit-identical to the live computation and the live oracles apply
    * verbatim. The point at corpus scale: the live dense side
    * re-tokenizes and re-hashes the WHOLE corpus per query batch
    * (measured 7.4 s warm at the x100 tier inside
    * `text_hybrid_indexed`); the stored tower turns that into a scan
    * of |corpus|·dims doubles — the hash-embedding analog of what
    * [[graft.llm.Quantize.writePqIndex]] does for learned embeddings,
    * minus quantization (hash vectors are already tiny).
    *
    * Layout (meta written LAST as the validity marker):
    *   - `path/vectors` — (id, v): segmented
    *     ([[graft.maintain.Segments]]), each segment range-partitioned
    *     and sorted by id so id-pushdown reads prune row groups;
    *   - `path/meta` — (format, dims). */
  def writeDenseIndex(
      docs: DataFrame,
      path: String,
      dims: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(dims > 0, s"dims must be positive: $dims")
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    graft.maintain.Segments.clearMeta(spark, path)
    // one frame for both the shard sizing and the write: building the
    // projection twice cost a second full analysis/optimization pass
    // (planning-only, but not free once the corpus plan is large)
    val vecs = denseVectors(docs, dims, idCol, textCol)
    graft.maintain.Segments.writeBase(
      vecs
        .repartitionByRange(
          graft.maintain.Segments.shardCount(vecs), col("id"))
        .sortWithinPartitions("id"),
      s"$path/vectors")
    graft.maintain.Segments.writeMeta(spark, path,
      lit(DenseIndexFormat).as("format"), lit(dims).as("dims"))
  }

  /** The one vector definition the build, append and live paths
    * share: `(id, v)` with v = [[hashEmbedTokens]] over [[docTokens]]'
    * tokenization. */
  private def denseVectors(
      docs: DataFrame, dims: Int, idCol: String,
      textCol: String): DataFrame =
    docTokens(docs, idCol, textCol)
      .select(col(idCol).as("id"),
        hashEmbedTokens(col("__graft_toks"), dims).as("v"))

  /** Fold NEW documents into the dense index — one segment per call
    * ([[graft.maintain.Segments.writeSegment]]): idempotent per
    * `segId`, so the streaming arm's at-least-once replay converges.
    * Vectors are COMPUTED here from text at the STORED dims, so a
    * dimension mismatch is impossible by construction (unlike the PQ
    * append, which ingests caller-supplied vectors and must gate). */
  def appendToDenseIndex(
      newDocs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      segId: String = graft.maintain.Segments.freshSegId()): Unit = {
    val spark = newDocs.sparkSession
    require(denseIndexExists(spark, path),
      s"no dense index at $path — writeDenseIndex first")
    GraftFunctions.register(spark)
    val dims = graft.maintain.Segments.metaRow(spark, path)
      .get.getAs[Int]("dims")
    val vecs0 = denseVectors(newDocs, dims, idCol, textCol)
    // size from the logical plan, THEN materialize: the parallel
    // range write's sampling pass would otherwise re-evaluate the
    // whole embed a second time (measured: append 5.1 → 7.6 s at
    // x100 when the floor raised the task count over an un-staged
    // embed; staged, the embed runs once and the write runs wide)
    val nWrite = graft.maintain.Segments.appendWriteTasks(vecs0)
    val vecs = vecs0.localCheckpoint(true)
    graft.maintain.Segments.writeSegment(
      vecs
        .repartitionByRange(nWrite, col("id"))
        .sortWithinPartitions("id"),
      s"$path/vectors", segId)
  }

  /** Merge appended segments back to the canonical single-segment
    * layout a fresh build produces (crash-safe swap; probes see
    * old-or-new, never halves — [[graft.maintain.Segments]]). */
  def compactDenseIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    require(denseIndexExists(spark, path),
      s"no dense index at $path — writeDenseIndex first")
    graft.maintain.Segments.replaceTable(spark, s"$path/vectors")(t =>
      t.repartitionByRange(graft.maintain.Segments.shardCount(t),
        col("id")).sortWithinPartitions("id"))
  }

  /** Batch dense scores from the PERSISTED vector tower: one scan of
    * (id, v) against the broadcast query vectors — no tokenize, no
    * hash, no text read. Query vectors are computed at the stored
    * dims, so stored and query spaces cannot diverge. */
  private def denseScoresIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String): DataFrame = {
    require(denseIndexExists(spark, indexPath),
      s"no dense index at $indexPath — writeDenseIndex first")
    val dims = graft.maintain.Segments.metaRow(spark, indexPath)
      .get.getAs[Int]("dims")
    val qv = queries.select(col(queryIdCol),
      hashEmbed(col(queryTextCol), dims).as("__graft_q"))
    graft.maintain.Segments.read(spark, s"$indexPath/vectors")
      .crossJoin(broadcast(qv))
      .select(col(queryIdCol), col("id").as(idCol),
        round(Similarity.cosine(col("v"), col("__graft_q")), 4)
          .as("cos_sim"))
  }

  /** Reciprocal-rank fusion of two scored sides. Each side keeps its
    * per-query top `nPerSide`, ranked, through
    * [[Similarity.perQueryTopK]]'s bounded heap (≤ nPerSide rows per
    * (query, map task) cross the exchange — never the scored frame);
    * the sides then
    * full-outer join on (query, doc) and fuse as
    * `Σ 1/(rrfK + rank)` (a side that missed a doc contributes 0) —
    * rank-based, so no score normalization across heterogeneous
    * scales is needed. Output: `(queryIdCol, idCol, lex_rank,
    * dense_rank, rrf_score, rank)`, rank by `(rrf DESC, id ASC)`,
    * ≤ k rows per query. */
  private def fuseRrf(
      lex: DataFrame,
      dense: DataFrame,
      k: Int,
      nPerSide: Int,
      rrfK: Int,
      queryIdCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sideRanks(scored: DataFrame, scoreCol: String,
        rankName: String): DataFrame =
      Similarity.perQueryTopK(scored, queryIdCol, idCol, scoreCol,
          nPerSide, descending = true)
        .select(col(queryIdCol), col(idCol), col("rank").as(rankName))
    val lexR = sideRanks(lex, "bm25", "lex_rank")
    val denR = sideRanks(dense, "cos_sim", "dense_rank")
    // fuse by UNION + one aggregate instead of a full-outer join: a
    // (query, doc) appears at most once per side, so max() recovers
    // each side's rank (null when absent — exactly the outer join's
    // null) — same rows, same values, fewer exchanges. The explicit
    // repartition on the query id is the ONE exchange of the fusion:
    // hashpartitioning(q) satisfies the aggregate's (q, id) clustered
    // distribution AND the rank window's partitioning, so aggregate
    // and window both reuse it where the join shape paid an exchange
    // per join side plus one more for the window — with AQE on, each
    // exchange is a whole query-stage round trip of latency on a
    // ≤ nPerSide·|queries|-row frame (guide §2.4: remove shuffles
    // outright). Skew-safe: the fused frame is rank-bounded tiny by
    // construction.
    lexR.unionByName(denR, allowMissingColumns = true)
      .repartition(col(queryIdCol))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(
        max(col("lex_rank")).as("lex_rank"),
        max(col("dense_rank")).as("dense_rank"))
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)),
        6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(queryIdCol)
          .orderBy(col("rrf_score").desc, col(idCol))))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("lex_rank"),
        col("dense_rank"), col("rrf_score"), col("rank"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion (RRF, the standard
    * score-free combiner) of lexical BM25 and dense hash-embedding
    * cosine, for a BATCH of queries in one plan: the shape behind
    * every two-tower RAG/retrieval corpus build, where neither side
    * alone ranks well (BM25 misses paraphrase, dense misses rare
    * exact terms). Per query: top `nPerSide` from each side →
    * `rrf = Σ_sides 1/(rrfK + rank)` → top `k` by `(rrf DESC, id)`.
    *
    * Scale shape: both sides derive from ONE token-frame definition
    * ([[docTokens]] — physically two column-pruned (id, text) scans
    * with the tokenizer fused in, cheaper at corpus scale than
    * materializing token arrays); tf/df compute once per (doc, token)
    * over the union of query terms and fan out to queries via a
    * broadcast join; both sides' per-query top-n ride
    * [[Similarity.perQueryTopK]]'s bounded heap; every join that
    * isn't corpus-sized broadcasts. Windows only over per-query
    * frames bounded by nPerSide. */
  def hybridTopK(
      docs: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nPerSide: Int = 20,
      rrfK: Int = 60,
      dims: Int = 16,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nPerSide >= k, s"nPerSide ($nPerSide) must be ≥ k ($k)")
    require(rrfK >= 1, s"rrfK must be ≥ 1: $rrfK")
    GraftFunctions.register(docs.sparkSession)
    val qt = queryTermsOf(queries, queryIdCol, queryTextCol)
    val withLen = docTokens(docs, idCol, textCol)
    fuseRrf(
      bm25ScoresBatch(withLen, qt, k1, b, idCol, queryIdCol),
      denseScores(withLen, queries, dims, idCol, queryIdCol,
        queryTextCol),
      k, nPerSide, rrfK, queryIdCol, idCol)
  }

  /** [[hybridTopK]] with the lexical side served from the PERSISTED
    * BM25 index ([[bm25ScoresIndexedBatch]]) — tokenize/df/stats
    * amortized into the build; postings read once for the whole query
    * batch, with pushed `token IN` row-group pruning when the batch's
    * distinct terms fit [[Bm25BatchPushdownMaxTerms]]. Same
    * arithmetic and ranking as the live path on the same
    * corpus, so its oracle applies verbatim — a live↔indexed drift
    * surfaces as a hash mismatch. The dense side stays in-plan (hash
    * vectors are a projection; a learned-embedding deployment swaps
    * in [[Quantize.ivfPqKnnJoinIndexedReranked]] for it). */
  def hybridTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      docs: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nPerSide: Int = 20,
      rrfK: Int = 60,
      dims: Int = 16,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nPerSide >= k, s"nPerSide ($nPerSide) must be ≥ k ($k)")
    require(rrfK >= 1, s"rrfK must be ≥ 1: $rrfK")
    GraftFunctions.register(spark)
    val qt = queryTermsOf(queries, queryIdCol, queryTextCol)
    fuseRrf(
      bm25ScoresIndexedBatch(spark, indexPath, qt, k1, b, idCol,
        queryIdCol),
      denseScores(docTokens(docs, idCol, textCol), queries, dims,
        idCol, queryIdCol, queryTextCol),
      k, nPerSide, rrfK, queryIdCol, idCol)
  }

  /** FULLY index-served hybrid retrieval: the lexical side reads the
    * persisted BM25 index, the dense side reads the persisted vector
    * tower ([[writeDenseIndex]]) — a query batch touches NO document
    * text at all. Same arithmetic and ranking as [[hybridTopK]] on
    * the same corpus (both towers store exactly what the live paths
    * compute), so the live oracle applies verbatim: any
    * live↔fully-indexed drift surfaces as a hash mismatch.
    *
    * This is the steady-state serving shape at corpus scale: the live
    * dense side re-tokenizes + re-hashes the whole corpus per batch
    * (measured 7.4 s warm inside `text_hybrid_indexed` at the x100
    * tier), while this form scans |corpus|·dims stored doubles —
    * corpus text is out of the query path entirely. Per-query cost
    * still amortizes across the batch exactly as
    * [[hybridTopKIndexed]]'s probe records. */
  def hybridTopKFullyIndexed(
      spark: org.apache.spark.sql.SparkSession,
      bm25IndexPath: String,
      denseIndexPath: String,
      queries: DataFrame,
      k: Int = 10,
      nPerSide: Int = 20,
      rrfK: Int = 60,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(nPerSide >= k, s"nPerSide ($nPerSide) must be ≥ k ($k)")
    require(rrfK >= 1, s"rrfK must be ≥ 1: $rrfK")
    GraftFunctions.register(spark)
    val qt = queryTermsOf(queries, queryIdCol, queryTextCol)
    fuseRrf(
      bm25ScoresIndexedBatch(spark, bm25IndexPath, qt, k1, b, idCol,
        queryIdCol),
      denseScoresIndexed(spark, denseIndexPath, queries, idCol,
        queryIdCol, queryTextCol),
      k, nPerSide, rrfK, queryIdCol, idCol)
  }

  // ---- MMR diversification --------------------------------------------

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) of a BOUNDED retrieval candidate set — the dedup-aware
    * serving stage: plain top-k returns near-duplicate hits, MMR
    * greedily picks `argmax λ·rel(c) − (1−λ)·max_{s∈selected}
    * sim(c, s)`, trading relevance against redundancy. A RAG corpus
    * build runs this between retrieval and prompt assembly.
    *
    * MMR is inherently sequential (each pick conditions on the
    * previous ones), so it runs as a driver-side greedy over the
    * candidate frame — which is BOUNDED BY CONSTRUCTION (it is the
    * upstream top-n; a hard `maxCandidates` cap makes an unbounded
    * caller fail loudly instead of collecting a corpus). Same
    * lifecycle as the other threshold-gated driver passes
    * (`Sampling.mixturePlan`, dedup's union-find).
    *
    * Determinism contract (oracle-shared): pairwise similarity is
    * round-4 cosine (left-to-right fold, the column expression's
    * order), the MMR score is `round(λ·rel − (1−λ)·maxSim, 6)` with
    * λ-literals written identically on both engines, ties break
    * `(mmr DESC, id ASC)`, and the first pick sees `maxSim = 0`.
    * Output: `(idCol, rank, mmr_score)` in pick order; fewer than `k`
    * rows when the candidate set exhausts. */
  def mmrDiversify(
      candidates: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      idCol: String = "doc_id",
      relCol: String = "rel",
      vecCol: String = "vec",
      maxCandidates: Int = 256): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("long"), col(relCol).cast("double"),
        transform(col(vecCol), x => x.cast("double")))
      .limit(maxCandidates + 1)
      .collect()
    require(rows.length <= maxCandidates,
      s"mmrDiversify candidates must be bounded (> $maxCandidates " +
        "rows reached the greedy stage — pass the upstream top-n, " +
        "not a corpus)")
    val cands = rows.map(r =>
      (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    cands.foreach { case (id, rel, _) =>
      require(!rel.isNaN, s"NaN relevance for candidate $id") }
    def round(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // round-4 cosine, left-to-right folds — the column expression's
    // own summation order, so the oracle's list_cosine_similarity
    // lands on the same rounded value; a zero vector is maximally
    // diverse (sim 0), never a NaN that would abort the greedy
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else round(dot / (math.sqrt(na) * math.sqrt(nb)), 4)
    }
    val byId = cands.map(c => c._1 -> c).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Int, Double)]
    val remaining = scala.collection.mutable.TreeSet.from(
      cands.map(_._1))
    // incremental MMR: each candidate's max similarity to the
    // selected set only grows by comparison against the NEWEST pick,
    // so the loop is O(n·k) cosines, not O(n·k²)
    val maxSim = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    val oneMinus = 1.0 - lambda
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { id =>
        (round(lambda * byId(id)._2 - oneMinus * maxSim(id), 6), id)
      }
      val (best, bestId) = scored.minBy { case (m, id) => (-m, id) }
      selected += ((bestId, selected.size + 1, best))
      remaining.remove(bestId)
      remaining.foreach { id =>
        val s = cos(byId(id)._3, byId(bestId)._3)
        if (s > maxSim(id)) maxSim(id) = s
      }
    }
    selected.toSeq.toDF(idCol, "rank", "mmr_score")
  }
}
