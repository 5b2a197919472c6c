package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level line deduplication — the C4-style rule "drop any line
  * that occurs in ≥ N distinct documents" (boilerplate navigation,
  * cookie banners, license headers), applied across the WHOLE corpus
  * rather than within a document. The reference stores whole documents
  * and never looks inside them (demo_optimized_data.py's queries stop
  * at LENGTH/LIKE); this is the standard next curation stage for
  * pretraining data, complementing [[Dedup]] (whole-doc) and
  * [[TextAnalysis.boilerplateScores]] (shingle-level signal): here the
  * offending text is actually REMOVED and the document reassembled.
  *
  * Line rule (deterministic, total): lines are `split(text, '\n')`,
  * each `trim`med, blank lines discarded. A line's document frequency
  * is the number of DISTINCT documents containing it (repeats inside
  * one document count once). Lines with df ≥ `minDocFreq` are removed
  * from every document; survivors are re-joined with '\n' in their
  * original order.
  *
  * Scale: the only shuffles are keyed on the LINE (distinct + count
  * partial-aggregate, then the removed-line probe join) and one keyed
  * on the doc id for reassembly — never doc×doc, and the text of a
  * document never joins against another document's text. A
  * pathologically hot line (one banner in billions of docs)
  * concentrates its copies in the probe join's reducer; that is
  * exactly the shape AQE skew-join splitting handles (enabled in
  * [[graft.GraftSession]], measured by the retired LineSkewProbe
  * main, recorded in SCALE_PROBES.md), and the count side is two-phase (line,doc)
  * partial aggregation so no reducer ever sees more than one row per
  * (line, doc).
  */
object LineDedup {

  /** Non-blank trimmed lines of `textCol` with their 0-based position
    * among kept lines: `(…idCol…, line_pos, line)`. */
  def explodeLines(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      posexplode(
        filter(transform(split(coalesce(col(textCol), lit("")), "\n"),
          l => trim(l)), l => l =!= ""))
        .as(Seq("line_pos", "line")))

  /** Corpus line inventory: `(line, n_docs, n_occurrences)` — the
    * audit of what [[dedupCorpusLines]] would remove at a given
    * threshold. One shuffle keyed on (line, doc) then line. */
  def lineFrequencies(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    explodeLines(docs, idCol, textCol)
      .groupBy("line")
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))

  /** Remove every line whose document frequency is ≥ `minDocFreq` and
    * reassemble each document: `(idCol, n_lines, n_kept, n_removed,
    * kept_text)`. Documents whose lines are ALL removed (or that had
    * no non-blank lines) survive with `kept_text = ''` — the caller
    * decides whether an emptied document is dropped (cf.
    * [[Curate]]'s gates), the operator never loses rows. */
  def dedupCorpusLines(
      docs: DataFrame,
      minDocFreq: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be ≥ 2: $minDocFreq")
    val exploded = explodeLines(docs, idCol, textCol)
    val common = lineFrequencies(docs, idCol, textCol)
      .filter(col("n_docs") >= minDocFreq)
      .select(col("line"), lit(true).as("_rm"))
    // ONE pass over the exploded lines: tag removed lines with a left
    // join instead of dropping them with an anti join, so totals and
    // the kept-line reassembly come out of the same per-doc aggregate
    // (two text scans total — the frequency count and this one — where
    // the anti-join formulation re-derived the explode a third time).
    val kept = exploded
      .join(common, Seq("line"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("_rm").isNull, 1)).as("n_kept"),
        // sort by position, then re-join: original order survives the
        // shuffle because the position rides inside the struct;
        // collect_list skips the nulls `when` leaves on removed lines
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_rm").isNull, struct(col("line_pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("kept_text"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_lines"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
