package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental ingest via Structured Streaming (SURVEY §2.9 ST1/ST4).
  *
  * The reference SIMULATES increments by hand-writing small delta
  * parquet files and relying on coarse per-docket restartability
  * (simple_iceberg_exploration.py:188-247; USAGE.md:183). Spark-first,
  * the same semantics are the file streaming source: new files under
  * the watched directory are discovered per micro-batch, the
  * checkpoint records exactly which files were consumed (exactly-once
  * on restart — ST4 for free), and `Trigger.AvailableNow` gives the
  * reference's batch-drain behavior: process everything present, then
  * stop.
  */
object Incremental {

  /** Drain all currently-available JSON files into an append-mode
    * parquet table, then stop. Re-running after new files arrive
    * appends only the new ones (checkpoint-tracked).
    * `maxFilesPerTrigger` bounds each micro-batch (back-pressure for
    * a large backlog: N files' worth of state/memory per batch instead
    * of the whole directory at once — AvailableNow still drains
    * everything, just in more, smaller batches). */
  def drainJsonToParquet(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      destDir: String,
      checkpointDir: String,
      transform: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    transform {
      val r = spark.readStream
        .schema(schema)
        .option("multiLine", "false")
        .option("mode", "PERMISSIVE")
      maxFilesPerTrigger
        .fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
        .json(srcDir)
    }
      .writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming form of StreamQueries.hourlyCounts with a watermark:
    * event-time tumbling windows, late data beyond 1 hour dropped,
    * state bounded (the watermark is what makes unbounded streams
    * feasible — without it window state grows forever). Sink: named
    * in-memory table (complete mode) for tests/demo. */
  def windowedCounts(
      events: DataFrame,
      queryName: String): StreamingQuery =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"), col("cnt"))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()

  /** Stream-static model scoring: score an incoming document stream
    * against a FROZEN unigram LM (vocab learned offline from
    * `trainDocs` — batch actions are fine at stream-setup time; the
    * model never changes while the stream runs, which is exactly the
    * deployment shape of a quality filter in an ingest pipeline).
    *
    * The plan is a stream-static broadcast join (the model is a
    * bounded top-K cut) + a per-document aggregate — no stream-stream
    * state, no watermark needed for correctness (complete mode here;
    * a production sink would use foreachBatch + append). Semantics
    * are identical to [[graft.llm.LanguageModel.scoreUnigram]] with
    * the model frozen at train time: same OOV floor (0.5/total),
    * same train-corpus total — pinned by StreamingSpec parity. */
  def scoreStream(
      docs: DataFrame,
      trainDocs: DataFrame,
      queryName: String,
      vocabSize: Int = 1000): StreamingQuery = {
    import graft.llm.{LanguageModel, TextAnalysis}
    // bounded (≤vocabSize rows) and computed once at stream setup:
    // eager localCheckpoint instead of persist, so the model's blocks
    // are freed with the stream instead of pinning a CacheManager
    // entry for the session's lifetime
    val vocab = LanguageModel.vocab(trainDocs, vocabSize = vocabSize)
      .localCheckpoint(true)
    val total = trainDocs
      .select(explode(TextAnalysis.tokens(
        lower(coalesce(col("text"), lit(""))))).as("t"))
      .count()
    docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(
        lower(coalesce(col("text"), lit(""))))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(log(coalesce(col("cnt").cast("double"), lit(0.5)) /
          lit(total.toDouble))).as("avg_logprob"))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()
  }

  /** Shared batch/stream transformation of the incremental-dedup
    * exact phase: incoming docs minus those whose content digest
    * already exists in the frozen reference corpus. Only DISTINCT
    * reference digests participate (32 B/doc — the reference text
    * never moves), and the anti-join is a plain equi-join Structured
    * Streaming supports stream-static in append mode. */
  def dedupVsCorpus(docs: DataFrame, reference: DataFrame): DataFrame = {
    val refDigests = reference
      .select(graft.llm.Dedup.contentHash(col("text")).as("__digest"))
      .distinct()
    docs
      .withColumn("__digest", graft.llm.Dedup.contentHash(col("text")))
      .join(refDigests, Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  /** Shared batch/stream transformation of corpus line dedup's ACT
    * phase against a FROZEN hot-line set: every trimmed non-blank
    * line of each incoming document that appears in `hotLines`
    * (one `line` column — e.g. `LineDedup.lineFrequencies(reference)
    * .filter(n_docs >= N)`) is removed and the document reassembled.
    * Output: `(original doc columns minus textCol) + (n_lines,
    * n_kept, n_removed, kept_text)`.
    *
    * Deployment shape: [[graft.llm.LineDedup.dedupCorpusLines]]
    * derives the hot set from the corpus itself (two corpus-keyed
    * shuffles — inherently batch); at ingest time the hot set is a
    * FROZEN model learned from the existing corpus, so cleaning is
    * pure per-row column algebra against the broadcast line set —
    * one HOF filter inside the scan's codegen, no aggregation, no
    * per-doc shuffle — which is exactly what Structured Streaming
    * supports unchanged in append mode (like [[scoreStream]]'s
    * frozen vocab). The hot set must be broadcast-bounded; a hot set
    * too large to broadcast belongs in the batch anti-join path. */
  def cleanLinesVsHotSet(
      docs: DataFrame,
      hotLines: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // The hot set is probed once per LINE of every incoming document,
    // so probe cost is the operator's inner loop. A collect_list array
    // + array_contains is O(|hot|) per line (ArrayContains scans);
    // packing the set into a single-row MAP makes each probe an O(1)
    // hash lookup (GetMapValue), which is the difference between a
    // boilerplate model of 10⁵ hot lines costing 10⁵ comparisons per
    // line and costing one. Same broadcast shape, still pure codegen
    // column algebra — stream ≡ batch parity unchanged (StreamingSpec).
    val hotMap = hotLines.select(col("line")).distinct()
      .agg(collect_list(col("line")).as("__k"))
      .select(map_from_arrays(
        col("__k"), array_repeat(lit(true), size(col("__k")))).as("__hot"))
    val keepCols = docs.columns.filterNot(_ == textCol).map(col).toSeq
    docs
      .crossJoin(broadcast(hotMap))
      .withColumn("__lines",
        filter(transform(split(coalesce(col(textCol), lit("")), "\n"),
          l => trim(l)), l => l =!= ""))
      .withColumn("__kept",
        filter(col("__lines"), l => element_at(col("__hot"), l).isNull))
      .select(keepCols ++ Seq(
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        array_join(col("__kept"), "\n").as("kept_text")): _*)
  }

  /** Streaming arm of [[cleanLinesVsHotSet]] — the boilerplate strip
    * at ingest, frozen hot set, append mode, memory sink for test
    * observability; stream ≡ batch pinned in StreamingSpec. */
  def cleanLinesStream(
      docs: DataFrame,
      hotLines: DataFrame,
      queryName: String): StreamingQuery =
    cleanLinesVsHotSet(docs, hotLines)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** Streaming incremental dedup (exact phase): drop incoming streamed
    * docs already present in the frozen reference — the continuous
    * arm of [[graft.llm.Dedup.incrementalDedup]]; the near-dup phase
    * stays batch (its two-sided LSH shuffle is not stream-static).
    * Memory sink for test observability; parity with the batch
    * transformation pinned by StreamingSpec. */
  def dedupStream(
      docs: DataFrame,
      reference: DataFrame,
      queryName: String): StreamingQuery =
    dedupVsCorpus(docs, reference)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** [[dedupVsCorpus]] with the static side served by a PERSISTED LSH
    * index ([[graft.llm.Dedup.writeLshIndex]]): the anti-join probes
    * the index's stored digest table read straight from parquet — the
    * streaming deployment never re-reads or re-digests the reference
    * corpus at setup, which is the point of having built the index.
    * Works unchanged on batch or streaming `docs` (stream-static
    * anti-join, append mode). */
  def dedupVsIndex(docs: DataFrame, indexPath: String): DataFrame = {
    val spark = docs.sparkSession
    require(graft.llm.Dedup.lshIndexExists(spark, indexPath),
      s"no LSH index at $indexPath — writeLshIndex first")
    val refDigests = graft.maintain.Segments.read(spark, s"$indexPath/digests")
      .withColumnRenamed("digest", "__digest")
    docs
      .withColumn("__digest", graft.llm.Dedup.contentHash(col("text")))
      .join(refDigests, Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  /** Streaming arm of [[dedupVsIndex]] (memory sink for test
    * observability; parity with the corpus-served transformation
    * pinned by StreamingSpec). */
  def dedupIndexStream(
      docs: DataFrame,
      indexPath: String,
      queryName: String): StreamingQuery =
    dedupVsIndex(docs, indexPath)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** Streaming upsert sink: apply each micro-batch as a MERGE into a
    * snapshot table — the CDC pattern (a stream of keyed updates
    * continuously folded into a queryable table, latest version
    * winning). The first batch creates the table (the batch itself
    * deduplicated by [[graft.maintain.Upsert.mergeFrames]]); every
    * later batch is one [[graft.maintain.Snapshots.commitUpsert]]
    * version. Each commit is one atomic manifest rename, so a crash
    * mid-batch leaves the previous version intact (its unreferenced
    * data batch is swept by `expire`/`vacuum`), and a batch replayed
    * after its commit but before the checkpoint's converges: the
    * merge is latest-wins, so folding the same rows in again changes
    * nothing. Read the table with `Snapshots.read`. */
  def upsertStream(
      updates: DataFrame,
      destDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      versionCol: String,
      tiebreakCol: String): StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.maintain.{Snapshots, Upsert}
        if (!Snapshots.exists(batch.sparkSession, destDir))
          Snapshots.create(Upsert.mergeFrames(batch.limit(0), batch,
            keyCols, versionCol, tiebreakCol), destDir)
        else
          Snapshots.commitUpsert(batch, destDir, keyCols, versionCol,
            tiebreakCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming cluster router: every incoming vector is assigned to
    * its nearest FROZEN Lloyd-trained centroid — the deployment shape
    * for routing fresh documents to per-domain pipelines (or experts)
    * with a model trained ONCE on a reference corpus. Training
    * happens at stream setup ([[graft.llm.Similarity.frozenAssigner]]);
    * the per-row assignment is a stateless codegen projection against
    * plan-literal centroids, so the stream runs append-mode with no
    * state store, no stream-static join, and per-batch cost linear in
    * the batch alone. Batch ≡ stream by construction: the SAME
    * function body serves both (pinned by StreamingSpec). */
  def routeStream(
      vecs: DataFrame,
      reference: DataFrame,
      queryName: String,
      k: Int = 4,
      iters: Int = 2): StreamingQuery =
    graft.llm.Similarity.frozenAssigner(reference, k = k, iters = iters)(vecs)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** Segment-id namespace for the index-append stream arms: the batch
    * id alone is CHECKPOINT-scoped — a second stream with its own
    * checkpoint, or one whose checkpoint was recreated, restarts at
    * batch 0 and would OVERWRITE the first stream's `b0` segment
    * (writeSegment's replay idempotency turned into silent deletion
    * of previously indexed rows). Hashing the checkpoint path into
    * the id keeps a replay of the SAME checkpoint idempotent while
    * distinct checkpoints write disjoint segments. The prefix is the
    * first 16 hex chars of SHA-256(checkpointDir) — deterministic
    * across JVM restarts (so replay stays idempotent) and
    * collision-resistant, unlike the 32-bit String.hashCode it
    * replaces, where two colliding checkpoint paths would silently
    * overwrite each other's `b…_0` segments (ADVICE r15). */
  private def indexSegId(checkpointDir: String, batchId: Long): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointDir.getBytes("UTF-8"))
    val hex = sha.take(8).map(b => f"${b & 0xff}%02x").mkString
    s"b${hex}_$batchId"
  }

  /** The r15-era segment id the SHA-256 scheme replaced (32-bit
    * `String.hashCode` prefix). A checkpoint that crashed UNDER the
    * old scheme and resumes under the new one replays its last batch
    * under the NEW id — beside the legacy-id segment, duplicating
    * that batch's rows (ADVICE r16). [[dropLegacySegments]] deletes
    * the legacy sibling for the same (checkpoint, batch) before the
    * new-id append, making the upgrade replay converge instead. */
  private def legacyIndexSegId(
      checkpointDir: String, batchId: Long): String =
    s"b${Integer.toHexString(checkpointDir.hashCode)}_$batchId"

  /** Remove the legacy-scheme segment directories for this
    * (checkpoint, batch) across an index table and its sub-tables
    * (`<index>/seg=<legacy>` and `<index>/<sub>/seg=<legacy>` — the
    * two layouts the four index families use). No-op when none exist
    * (every post-upgrade batch); one cheap glob when they might. */
  private def dropLegacySegments(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, checkpointDir: String, batchId: Long): Unit = {
    val legacy = legacyIndexSegId(checkpointDir, batchId)
    // distinct: flat and nested globs can't overlap, but stay safe
    val pats = Seq(s"$indexPath/seg=$legacy", s"$indexPath/*/seg=$legacy")
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    pats.foreach { pat =>
      val hits = fs.globStatus(new org.apache.hadoop.fs.Path(pat))
      if (hits != null) hits.foreach { st =>
        System.err.println(s"[graft] dropping legacy-id segment " +
          s"${st.getPath} (superseded by the new-scheme segment for " +
          s"batch $batchId)")
        fs.delete(st.getPath, true)
      }
    }
  }

  /** The one `foreachBatch` behind the four serving-index stream arms
    * below: each micro-batch goes to `append(batch, segId)` with the
    * checkpoint-namespaced batch id as the segment id, so
    * foreachBatch's at-least-once replay of a batch overwrites its
    * own segment instead of appending beside it — exactly-once per
    * batch. Segments a pre-namespacing build wrote for the same batch
    * are dropped first ([[dropLegacySegments]]). AvailableNow: the
    * stream drains what is there and stops. */
  private def indexAppendStream(
      rows: DataFrame,
      indexPath: String,
      checkpointDir: String)(
      append: (DataFrame, String) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        dropLegacySegments(batch.sparkSession, indexPath,
          checkpointDir, id)
        append(batch, indexSegId(checkpointDir, id))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming ANN-index maintenance: every micro-batch of fresh
    * vectors is appended to a persisted IVF-PQ serving index
    * ([[graft.llm.Quantize.appendToPqIndex]] — assign to the FROZEN
    * coarse quantizer, encode with the FROZEN codebook, append the
    * codes as the batch's own segment). foreachBatch because the sink
    * is the index layout, not a row stream; foreachBatch is
    * at-least-once, so the append is made EXACTLY-ONCE by passing the
    * checkpoint's batch id as the segment id — a replayed batch
    * (crash after the codes write, before the checkpoint commit)
    * overwrites its own segment instead of duplicating code rows
    * (which would return duplicate ids from top-k). Per-batch cost is
    * one scan of the batch (centroids + codebook broadcast, zero
    * shuffles, existing codes never read), so the stream's cost is
    * linear in arrivals and probes stay consistent throughout (the
    * tables a probe ranks with are immutable under append). Batch ≡
    * stream by construction: the SAME appendToPqIndex body serves
    * both (pinned in StreamingSpec — streamed-in index probe ≡
    * batch-appended index probe, and a replayed batch ≡ applied
    * once), and the `st_ann_index_append` row pins appended-index
    * search against a DuckDB re-derivation of frozen-train +
    * full-corpus scoring. */
  def annIndexAppendStream(
      vecs: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    indexAppendStream(vecs, indexPath, checkpointDir)(
      (batch, segId) =>
        graft.llm.Quantize.appendToPqIndex(batch, indexPath, segId = segId))

  /** Streaming BM25-index maintenance: every micro-batch of fresh
    * documents folds into the persisted inverted index
    * ([[graft.llm.Retrieval.appendToBm25Index]] — postings/df/stats
    * land as the batch's own segment; the probe sums the per-segment
    * exact integers, so scoring is bit-identical to a rebuild over
    * the grown corpus and the serving index never degrades as the
    * stream runs). The checkpoint's batch id is the segment id, which
    * turns foreachBatch's at-least-once replay into an exactly-once
    * append: a replayed batch overwrites its own segments instead of
    * double-counting tf/df rows. Batch ≡ stream by construction (the
    * SAME appendToBm25Index body; pinned in StreamingSpec, including
    * replay ≡ applied-once). */
  def bm25IndexAppendStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    indexAppendStream(docs, indexPath, checkpointDir)(
      (batch, segId) =>
        graft.llm.Retrieval.appendToBm25Index(batch, indexPath, segId = segId))

  /** Streaming ingestion into a SNAPSHOT table — every micro-batch
    * lands as one atomic, time-travelable version
    * ([[graft.maintain.Snapshots.commitAppend]]) with the
    * checkpoint-namespaced batch id as the COMMIT KEY, so
    * foreachBatch's at-least-once replay converges to exactly-once
    * (a replayed batch's key already sits in a retained manifest and
    * returns that version instead of appending twice — the Delta
    * txnAppId/txnVersion pattern). Downstream consumers tail the
    * table with `readAppendedBetween` (manifest-diff CDC) or pin any
    * version; `expire` retention must outlast the replay window (one
    * batch for AvailableNow). */
  def snapshotAppendStream(
      rows: DataFrame,
      tablePath: String,
      checkpointDir: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val key = Some(indexSegId(checkpointDir, id))
        // statsCols: per-file min/max recorded on every streamed
        // batch (commit-local scan), so time-scoped reads / scoped
        // deletes over the streamed table prune from day one;
        // bloomCols likewise for key lookups/erasure on the streamed
        // (hash-mixed, unclustered) layout
        if (!graft.maintain.Snapshots.exists(spark, tablePath)) {
          // bootstrap batch carries its key too: a replay of batch 0
          // (crash between create and checkpoint) converges through
          // the keyed-append path instead of double-applying
          graft.maintain.Snapshots.create(batch, tablePath,
            commitKey = key, statsCols = statsCols,
            bloomCols = bloomCols)
        } else {
          graft.maintain.Snapshots.commitAppend(batch, tablePath,
            commitKey = key, statsCols = statsCols,
            bloomCols = bloomCols)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming dense-tower maintenance: every micro-batch of fresh
    * documents folds into the persisted dense vector index
    * ([[graft.llm.Retrieval.appendToDenseIndex]] — each batch's
    * hash-embedding vectors land as the batch's own segment, computed
    * at the STORED dims so the vector space cannot drift), making the
    * fully-index-served hybrid path
    * ([[graft.llm.Retrieval.hybridTopKFullyIndexed]]) maintainable by
    * the same stream that grows the BM25 side. The checkpoint's batch
    * id is the segment id — exactly-once under foreachBatch replay,
    * as with the other three families. */
  def denseIndexAppendStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    indexAppendStream(docs, indexPath, checkpointDir)(
      (batch, segId) =>
        graft.llm.Retrieval.appendToDenseIndex(batch, indexPath, segId = segId))

  /** Streaming LSH-dedup-index maintenance: every micro-batch of
    * newly-vetted reference documents folds into the persisted dedup
    * index ([[graft.llm.Dedup.appendToLshIndex]] — digests/bands/
    * shingles/bucket-counts land as the batch's own segment),
    * completing the serving-index triad's stream arms (ANN codes,
    * BM25 postings, dedup bands). The checkpoint's batch id is the
    * segment id — a replayed batch overwrites its own segment, so the
    * at-least-once foreachBatch applies each batch exactly once — and
    * probes over the appended index match a rebuild over the grown
    * reference, so the onboarding loop's reference never needs a
    * rebuild as accepted docs flow in. Batch ≡ stream by construction
    * (same appendToLshIndex body; pinned in StreamingSpec). */
  def lshIndexAppendStream(
      docs: DataFrame,
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    indexAppendStream(docs, indexPath, checkpointDir)(
      (batch, segId) =>
        graft.llm.Dedup.appendToLshIndex(batch, indexPath, segId = segId))

  /** Frozen-recipe temperature sampling as a shared batch/stream
    * transformation: the per-source keep thresholds are derived ONCE
    * from a reference corpus ([[graft.llm.Sampling
    * .temperatureThresholds]], ≤ one bounded row per source, eagerly
    * localCheckpoint'd so setup cost is paid exactly once and no
    * session-cache entry outlives the stream), then every micro-batch
    * pays only the stream-static broadcast probe + narrow filter —
    * append mode, stateless, per-batch cost linear in the batch. This
    * is the deployment shape of a mixture sampler: the recipe freezes
    * when the training run is provisioned; fresh documents flow
    * through it. Batch ≡ stream by construction (the SAME
    * `applyTemperatureThresholds` body serves both). */
  def sampleVsFrozen(
      docs: DataFrame,
      reference: DataFrame,
      totalBudgetTokens: Long): DataFrame = {
    val thr = graft.llm.Sampling
      .temperatureThresholds(reference, totalBudgetTokens)
      .localCheckpoint(true)
    graft.llm.Sampling.applyTemperatureThresholds(docs, thr)
  }

  /** DSIR importance filtering on a stream: the bounded hashed-n-gram
    * importance model is learned ONCE at setup from frozen raw/target
    * reference corpora ([[graft.llm.Importance.frozenScorer]] — the
    * model collapses to a ≤numBuckets-entry map literal), then every
    * micro-batch is scored and threshold-filtered as a STATELESS
    * row-local projection: no explode, no aggregation, no state store,
    * append mode. Batch ≡ stream because the same scorer body serves
    * both (StreamingSpec pins it). */
  def dsirStream(
      docs: DataFrame,
      rawRef: DataFrame,
      target: DataFrame,
      minAvgLogRatio: Double,
      queryName: String,
      numBuckets: Int = 4096): StreamingQuery =
    graft.llm.Importance.frozenScorer(
      rawRef, target, minAvgLogRatio, numBuckets)(docs)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** Streaming Gopher quality filter: the published rule set
    * ([[graft.llm.TextAnalysis.gopherKeep]]) applied to every
    * micro-batch — the rules are STATIC column algebra (no trained
    * state at all), so the ingest-time deployment is the pure
    * stateless-append case: no frozen model, no stream-static join,
    * no state store; batch ≡ stream because the identical filter
    * expression serves both. */
  def gopherStream(
      docs: DataFrame,
      queryName: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minStopwords: Int = 2): StreamingQuery =
    graft.llm.TextAnalysis.gopherKeep(docs, minWords, maxWords, minStopwords)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** [[sampleVsFrozen]] wired to a memory sink (append mode). */
  def sampleStream(
      docs: DataFrame,
      reference: DataFrame,
      totalBudgetTokens: Long,
      queryName: String): StreamingQuery =
    sampleVsFrozen(docs, reference, totalBudgetTokens)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** Streaming drift monitor: every micro-batch of a document stream
    * is scored against a FROZEN reference distribution
    * ([[graft.llm.Drift.driftAgainstFrozen]] over
    * [[graft.llm.Drift.referenceVocab]]), and one
    * `(batch_id, n_vocab, tokens_batch, js_divergence,
    * top_drift_token, top_drift_abs)` row is appended to a parquet
    * drift log — the deployment shape of the corpus-drift check: the
    * yardstick never moves, each batch costs one bounded aggregate
    * against a broadcast vocab, and the log is itself queryable for
    * alerting/trending. The log write is IDEMPOTENT per batch id:
    * each batch overwrites only its own `batch_id=` partition
    * (dynamic partition overwrite), so a replay of a batch that
    * crashed mid-write replaces its partial output instead of
    * appending duplicate rows — exactly-once in the log even though
    * foreachBatch itself only guarantees at-least-once execution.
    * No stream-stream state anywhere. */
  def driftStream(
      docs: DataFrame,
      refDocs: DataFrame,
      destDir: String,
      checkpointDir: String,
      vocabSize: Int = 500): StreamingQuery = {
    import graft.llm.Drift
    // ≤vocabSize rows, computed once at stream setup: eager
    // localCheckpoint (not persist) so the blocks live exactly as
    // long as the stream holds this frame and are freed by the
    // ContextCleaner afterwards — no CacheManager entry to leak
    val refVocab = Drift
      .referenceVocab(refDocs, vocabSize = vocabSize)
      .localCheckpoint(true)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Drift.driftAgainstFrozen(batch, refVocab)
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(destDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming quantile-sketch log: per micro-batch, ONE KLL sketch
    * row of `valueCol` appended to a queryable parquet sketch log —
    * the streaming arm of [[graft.operators.QuantileSketches]].
    * Because KLL merge is associative/commutative, any range of
    * logged batches answers quantile queries by merging its ~KB
    * sketch rows (`QuantileSketches.rangeQuantilesFromTable` with a
    * batch_id predicate) — no raw-event retention, no reprocessing.
    * Same idempotent-sink contract as [[driftStream]]: each batch
    * overwrites its own `batch_id=` partition, so a replay after a
    * mid-write crash cannot duplicate a sketch row; per-batch cost is
    * one map-side-partial sketch aggregate over the batch. */
  def quantileSketchStream(
      events: DataFrame,
      valueCol: String,
      destDir: String,
      checkpointDir: String): StreamingQuery = {
    events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch
          .filter(col(valueCol).isNotNull)
          .agg(call_function("kll_sketch_agg_double",
            col(valueCol).cast("double"),
            lit(graft.operators.QuantileSketches.DefaultK)).as("sketch"))
          .select(lit(id).as("bucket"), col("sketch"))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(destDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming numeric-PSI monitor: per micro-batch, the total PSI of
    * the batch's `valueCol` distribution against a FROZEN reference
    * (same fixed-yardstick rationale as [[driftStream]] — batches
    * stay comparable on one axis), one row per batch in a queryable
    * parquet drift log. The reference really does collapse ONCE, at
    * stream setup, to its ≤nBins `(lo, hi, bin, n_ref)` rows
    * ([[graft.llm.Drift.referenceBins]], eagerly materialized) — a
    * micro-batch never re-scans or re-aggregates the reference; its
    * cost is one bounded aggregate over the batch via
    * [[graft.llm.Drift.psiFromBins]]. Same idempotent-sink contract
    * as [[driftStream]]: each batch overwrites its own `batch_id=`
    * partition, so replays after a mid-write crash cannot duplicate
    * log rows. */
  def psiStream(
      rows: DataFrame,
      reference: DataFrame,
      valueCol: String,
      destDir: String,
      checkpointDir: String,
      nBins: Int = 10): StreamingQuery = {
    import graft.llm.Drift
    val refBins = Drift.referenceBins(reference, valueCol, nBins)
      .localCheckpoint(true)
    rows.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Drift.psiFromBins(refBins, batch, valueCol, nBins)
          .agg(
            sum(col("n_cur")).as("n_rows"),
            round(sum(col("psi_term")), 6).as("psi"))
          .withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(destDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
