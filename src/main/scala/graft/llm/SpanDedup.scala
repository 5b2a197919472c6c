package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Substring-level exact deduplication — remove every token span that
  * some OTHER document also contains verbatim (the "deduplicating
  * training data" recipe: corpus-duplicated substrings are memorized
  * disproportionately, and boilerplate/quoted spans recur across
  * otherwise-distinct pages). Complements [[Dedup]] (whole-document),
  * [[LineDedup]] (line-granular, needs newline structure) and
  * [[TextAnalysis.boilerplateScores]] (signal only): this REMOVES the
  * duplicated text inside each surviving document, at token-window
  * granularity, with no reliance on line breaks.
  *
  * Rule (deterministic, total): tokens are the `\s+` split of the
  * lowercased trimmed text (blank/null text is one empty token — the
  * same convention as the novelty oracle's tokenizer). Every
  * length-`windowLen` token window whose text occurs in ≥ `minDf`
  * DISTINCT documents is "hot"; every token covered by ≥1 hot window
  * is removed; survivors re-join with single spaces in original
  * order (single-space normalization is part of the contract).
  * Documents shorter than `windowLen` tokens have no windows and
  * survive untouched (modulo normalization).
  *
  * Scale shape: the only unbounded shuffles are keyed on the WINDOW
  * — and the window key that actually crosses the wire is its
  * `xxhash64`, 8 bytes, never the L-token string (collision odds
  * ~2⁻⁶⁴ per pair; a collision can only over-remove one window, and
  * the oracle query verifies end-to-end output equality against a
  * string-keyed recomputation). Covered-position expansion is a
  * per-row `sequence` explode (≤ windowLen rows per hit), and
  * reassembly is one doc-keyed aggregate with order restored by
  * position-in-struct sort — the [[LineDedup]] pattern. Never
  * doc×doc; a pathologically hot window (site-wide boilerplate in
  * half the corpus) is the planted-banner shape the retired
  * LineSkewProbe main recorded in SCALE_PROBES.md: two-phase
  * (window, doc) partial aggregation on the count side, AQE
  * skew-split on the probe join.
  */
object SpanDedup {

  /** `(idCol, ts)` — the token array per document. */
  private def tokenized(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      split(lower(trim(coalesce(col(textCol), lit("")))), "\\s+").as("ts"))

  /** One row per token window: `(idCol, pos, wh)` where `pos` is the
    * 1-based position of the window's first token and `wh` the
    * xxhash64 of its space-joined text. */
  private def windows(
      toks: DataFrame, windowLen: Int, idCol: String): DataFrame =
    toks
      .select(
        col(idCol),
        // sequence(1, n) DESCENDS when n < 1 — guard the short-doc
        // case to an empty window list instead
        explode(when(size(col("ts")) >= windowLen,
          transform(
            sequence(lit(1), size(col("ts")) - windowLen + 1),
            i => struct(
              i.as("pos"),
              xxhash64(array_join(
                slice(col("ts"), i, lit(windowLen)), " ")).as("wh"))))
          .otherwise(array().cast("array<struct<pos:int,wh:bigint>>")))
          .as("w"))
      .select(col(idCol), col("w.pos").as("pos"), col("w.wh").as("wh"))

  /** Corpus window inventory at a threshold: `(wh, n_docs)` for hot
    * windows only — the audit of what [[dedupCorpusSpans]] removes. */
  def hotWindows(
      docs: DataFrame,
      windowLen: Int = 8,
      minDf: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowLen >= 1, s"windowLen must be ≥ 1: $windowLen")
    require(minDf >= 2, s"minDf must be ≥ 2: $minDf")
    windows(tokenized(docs, idCol, textCol), windowLen, idCol)
      .groupBy("wh")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDf)
  }

  /** Remove every token covered by a corpus-duplicated window and
    * reassemble: `(idCol, n_tokens, n_removed, kept_text)`. */
  def dedupCorpusSpans(
      docs: DataFrame,
      windowLen: Int = 8,
      minDf: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowLen >= 1, s"windowLen must be ≥ 1: $windowLen")
    require(minDf >= 2, s"minDf must be ≥ 2: $minDf")
    val toks = tokenized(docs, idCol, textCol)
    // ONE window construction serves both the hot-set derivation and
    // the coverage join (the LineDedup r10 fix, mirrored): the earlier
    // formulation called hotWindows(docs,…), which re-tokenized and
    // re-windowed the corpus from scratch — three tokenize+explode
    // passes where two suffice (this frame's two consumers + the
    // token reassembly below).
    val w = windows(toks, windowLen, idCol)
    val hot = w
      .groupBy("wh")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDf)
      .select("wh")
    // hit windows → covered token positions (≤ windowLen per hit;
    // distinct because overlapping hot windows cover shared tokens)
    val covered = w
      .join(hot, Seq("wh"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + windowLen - 1))
          .as("tp"))
      .distinct()
    reassembleWithout(docs, toks, covered, idCol)
  }

  /** Shared removal+reassembly tail: drop every `(idCol, tp)` token
    * position in `covered`, rejoin survivors with single spaces in
    * original order, and restore rows for documents with no windows —
    * `(idCol, n_tokens, n_removed, kept_text)`. */
  private def reassembleWithout(
      docs: DataFrame,
      toks: DataFrame,
      covered: DataFrame,
      idCol: String): DataFrame = {
    val tokenRows = toks.select(
      col(idCol),
      posexplode(col("ts")).as(Seq("tp0", "tok")))
      .select(col(idCol), (col("tp0") + 1).as("tp"), col("tok"))
    val kept = tokenRows
      .join(covered.withColumn("_rm", lit(true)), Seq(idCol, "tp"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("_rm").isNotNull, 1)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_rm").isNull, struct(col("tp"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("kept_text"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** INTRA-document span dedup — remove every token covered by a
    * REPEAT occurrence of a window within the SAME document (the
    * RefinedWeb-style in-document repetition cleanup: generator loops,
    * copy-paste stutter, chorus spam — [[TextAnalysis.dupNgramFraction]]
    * is the signal, this is the act). An occurrence at position `p`
    * is a repeat iff the same window text occurs earlier in the same
    * document (`p > min pos`); the FIRST occurrence's span is kept
    * (except where a repeat overlaps it — greedy covered-position
    * semantics, same as [[dedupCorpusSpans]]). Same tokenizer and
    * reassembly contract; documents shorter than `windowLen` survive
    * untouched (modulo normalization).
    *
    * Scale shape: windows shuffle keyed `(doc, window-hash)` — 8-byte
    * hashes, never window text — for the min-pos aggregate; the
    * repeat join lands on the SAME key, so it co-partitions with no
    * extra exchange; reassembly is the shared doc-keyed aggregate.
    * Never doc×doc, and unlike the corpus-wide variants there is no
    * hot-key risk at all: every shuffle key is scoped to one
    * document. */
  def dedupDocSpans(
      docs: DataFrame,
      windowLen: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowLen >= 1, s"windowLen must be ≥ 1: $windowLen")
    val toks = tokenized(docs, idCol, textCol)
    val w = windows(toks, windowLen, idCol)
    val firstPos = w.groupBy(col(idCol), col("wh"))
      .agg(min(col("pos")).as("fp"))
    val covered = w
      .join(firstPos, Seq(idCol, "wh"))
      .filter(col("pos") > col("fp"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + windowLen - 1))
          .as("tp"))
      .distinct()
    reassembleWithout(docs, toks, covered, idCol)
  }

  /** Span-level decontamination: remove every probe token covered by a
    * `windowLen`-token window that occurs VERBATIM anywhere in the
    * benchmark corpus, and reassemble — the exact-substring
    * decontamination recipe. [[Dedup.decontaminate]] drops whole
    * documents on any shingle overlap; this keeps the document and
    * excises only the leaked span, so a page that merely quotes one
    * benchmark sentence still contributes its clean remainder to
    * training. Same tokenizer/reassembly contract as
    * [[dedupCorpusSpans]] (lowercased `\s+` tokens, single-space
    * rejoin); probe documents shorter than `windowLen` tokens have no
    * windows and survive untouched (a bench string can only match a
    * FULL-length probe window, so sub-window overlaps are out of
    * scope by construction — that granularity is
    * [[Dedup.decontaminate]]'s k-shingle drop). Returns
    * `(idCol, n_tokens, n_removed, kept_text)` for every probe row.
    *
    * Scale shape: eval suites are tiny next to a training corpus, so
    * the bench window-hash set (`distinct wh`, 8 bytes each) is
    * BROADCAST — the probe corpus flows through one codegen window
    * explode and a broadcast semi-join, never a shuffle keyed on
    * corpus data. Only documents with ≥1 bench hit (≪ corpus in the
    * common mostly-clean case) pay the doc-keyed reassembly
    * aggregate; clean documents take a row-local normalize-only
    * projection. The covered-position frame is eagerly materialized
    * (`localCheckpoint`), so this call runs the corpus window pass
    * exactly once and is EAGER, like [[Dedup.incrementalDedup]]; the
    * hit-doc id set it yields is broadcast on both paths — bounded by
    * the contaminated-doc count, which in any corpus worth shipping
    * is ≪ corpus (a corpus where it isn't needs
    * [[Dedup.decontaminate]]'s drop-everything answer, not span
    * surgery). Never doc×doc. */
  def decontaminateSpans(
      probe: DataFrame,
      bench: DataFrame,
      windowLen: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowLen >= 1, s"windowLen must be ≥ 1: $windowLen")
    val toks = tokenized(probe, idCol, textCol)
    val w = windows(toks, windowLen, idCol)
    val benchWh = windows(tokenized(bench, idCol, textCol),
        windowLen, idCol)
      .select("wh").distinct()
    // windows hit by the bench set → covered token positions. This is
    // the one product of the corpus-wide window pass and it is small
    // (≤ windowLen rows per hit), but THREE consumers read it below
    // (hit-doc broadcasts on both paths + the coverage join) — eagerly
    // materialize it once so the corpus window explode runs exactly
    // once and the hit-doc set has a known (small) size to broadcast.
    val covered = w.join(broadcast(benchWh), Seq("wh"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + windowLen - 1))
          .as("tp"))
      .distinct()
      .localCheckpoint(true)
    val hitDocs = covered.select(col(idCol)).distinct()
    // dirty path: token explode + coverage tag + in-order reassembly,
    // for hit documents only
    val dirtyToks = toks.join(broadcast(hitDocs), Seq(idCol), "left_semi")
    val dirty = dirtyToks
      .select(col(idCol), posexplode(col("ts")).as(Seq("tp0", "tok")))
      .select(col(idCol), (col("tp0") + 1).as("tp"), col("tok"))
      .join(covered.withColumn("_rm", lit(true)), Seq(idCol, "tp"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("_rm").isNotNull, 1)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_rm").isNull, struct(col("tp"), col("tok"))))),
            s => s.getField("tok")),
          " ").as("kept_text"))
    // clean path: row-local — normalize and count, no shuffle
    val clean = toks.join(broadcast(hitDocs), Seq(idCol), "left_anti")
      .select(col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        lit(0L).as("n_removed"),
        array_join(col("ts"), " ").as("kept_text"))
    clean.unionByName(dirty)
  }

  /** Deep-clean composition: span dedup, then EXACT dedup over the
    * cleaned text (span removal makes boilerplate-differing documents
    * collapse to identical remainders — running exact dedup before
    * span removal would miss them), keep-lowest-id per digest, rolled
    * up per `sourceCol`: `(source, n_docs, n_emptied, n_exact_dropped,
    * n_kept, tokens_in, tokens_kept)`. One lazy plan; the span stage's
    * shuffles are window-hash-keyed, the exact stage is one digest
    * window, the roll-up is a ≤|sources|-key aggregate. `n_emptied`
    * (documents whose every token was corpus-duplicated) stays in
    * `n_kept` accounting only if their empty remainder survives the
    * digest dedup — all empties share one digest, so at most ONE
    * empty doc survives per corpus, the usual curation gate drops it
    * downstream. */
  def deepCleanStats(
      docs: DataFrame,
      windowLen: Int = 8,
      minDf: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // digest computed BEFORE the window so the exchange carries
    // (id, source, counts, 32-B digest), never the cleaned text
    val cleaned = dedupCorpusSpans(docs, windowLen, minDf, idCol, textCol)
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        col("n_removed"),
        Dedup.contentHash(col("kept_text")).as("__digest"))
    val ranked = cleaned.withColumn("rk",
      row_number().over(
        Window.partitionBy(col("__digest")).orderBy(col(idCol))))
    ranked
      .groupBy(sourceCol)
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("n_removed") === col("n_tokens") &&
          col("n_tokens") > 0, 1)).as("n_emptied"),
        count(when(col("rk") > 1, 1)).as("n_exact_dropped"),
        count(when(col("rk") === 1, 1)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_in"),
        sum(when(col("rk") === 1, col("n_tokens") - col("n_removed"))
          .otherwise(lit(0L))).as("tokens_kept"))
  }
}
