package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-size token chunking with overlap: cut each document's token
  * sequence into windows of `chunkSize` tokens starting every
  * `chunkSize - overlap` tokens — the step a RAG / pretraining pipeline
  * runs between curation and packing (the reference pipeline stores
  * whole documents and stops; chunking is the natural next stage, like
  * [[Packing]]).
  *
  * Chunk rule (deterministic, total): starts are `0, stride, 2·stride,
  * …` for every start `< n_tokens`, so every token appears in at least
  * one chunk, consecutive chunks share exactly `overlap` tokens, and
  * the final chunk may be shorter than `chunkSize`. Duplication factor
  * is `chunkSize / stride` by construction.
  *
  * Scale: pure per-row column algebra — `sequence` → `posexplode` →
  * `slice`, zero UDFs, zero shuffles, WholeStageCodegen end to end.
  * Output cardinality is `Σ ceil(n_tokens / stride)`, decided row by
  * row; at 100 TB the plan is scan → generate → project and
  * parallelism is the scan's. Chunk membership is a pure function of
  * the document text, so re-processing can never re-chunk differently
  * (same determinism argument as [[Sampling.assignSplit]]).
  */
object Chunking {

  /** One row per (document, chunk): `(…all non-text columns…,
    * chunk_idx, start_tok, n_chunk_tokens, chunk_text)`. Every column
    * of `docs` other than `textCol` passes through unchanged
    * (replicated onto each of the document's chunks), so id/lang/
    * source/split metadata survives chunking without a join-back.
    * `start_tok` is the 0-based token offset of the chunk;
    * `chunk_idx = start_tok / stride`. Null text is treated as empty
    * (one empty chunk, matching the tokenizer's `['']` on empty
    * input). Internal working columns are `__graft_`-prefixed so a
    * metadata column named `pos`/`col`/`toks` cannot collide.
    *
    * `keepTokens = true` additionally emits the chunk's token slice as
    * `chunk_tokens` — for consumers that immediately re-tokenize
    * `chunk_text` (hash embedding, token counting): handing them the
    * array skips a per-chunk `array_join` + regex re-split round-trip
    * (`chunk_text ≡ array_join(chunk_tokens, " ")` by construction). */
  def chunk(
      docs: DataFrame,
      textCol: String = "text",
      chunkSize: Int = 64,
      overlap: Int = 16,
      keepTokens: Boolean = false): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize): $overlap vs $chunkSize")
    val stride = chunkSize - overlap
    val toks = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    val pass = docs.columns.filterNot(_ == textCol).map(col).toSeq
    docs
      .select(pass :+ toks.as("__graft_toks"): _*)
      // starts 0, stride, … ≤ n-1 — i.e. every start < n (n ≥ 1: the
      // tokenizer yields [''] on empty text, so sequence() is total)
      .select(pass ++ Seq(col("__graft_toks"),
        posexplode(
          sequence(lit(0), size(col("__graft_toks")) - 1, lit(stride)))
          .as(Seq("__graft_pos", "__graft_start"))): _*)
      .select(pass ++ Seq(
        col("__graft_pos").cast("long").as("chunk_idx"),
        col("__graft_start").cast("long").as("start_tok"),
        slice(col("__graft_toks"), col("__graft_start") + 1, lit(chunkSize))
          .as("__graft_chunk")): _*)
      .select(pass ++ Seq(
        col("chunk_idx"), col("start_tok"),
        size(col("__graft_chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("__graft_chunk"), " ").as("chunk_text")) ++
        (if (keepTokens) Seq(col("__graft_chunk").as("chunk_tokens"))
         else Seq.empty): _*)
  }
}
