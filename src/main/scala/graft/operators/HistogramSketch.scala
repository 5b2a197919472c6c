package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental range quantiles via persisted equal-width histogram
  * tables — the quantile twin of [[DistinctSketches]] (distinct counts
  * from per-bucket HLL sketches).
  *
  * `percentile(value, q)` over an arbitrary time range rescans (and
  * sorts/aggregates) every raw row in the range. The histogram table
  * materializes per bucket (e.g. per day) the counts of `nBins`
  * equal-width bins over a FIXED `[lo, hi)` domain: at most `nBins`
  * small integer rows per bucket regardless of row count. Because the
  * bin edges are fixed a priori (like [[graft.llm.Drift]]'s
  * reference-anchored PSI bins), bucket histograms are mergeable by
  * plain per-bin addition — associative and commutative, so the
  * per-bucket build is map-side partial and new buckets append
  * without touching history. Any range quantile is then a cumulative
  * walk over ≤ `nBins` summed rows — metadata-sized input, never a
  * raw rescan — with error bounded by one bin width for in-domain
  * data (the target order statistic and the interpolated estimate lie
  * in the same bin). Values outside `[lo, hi)` clamp into the edge
  * bins; the bound then degrades for quantiles landing in those bins,
  * which is the standard histogram-sketch contract (size the domain
  * from the schema, not the sample).
  *
  * The final walk runs as pure array algebra on ONE collected row
  * (`collect_list` of ≤ nBins structs) — no global window, so the
  * plan stays clean under `tools/PlanLint`'s unpartitioned-window
  * rule, and the only exchange after the partial aggregate is the
  * ≤ nBins-row merge.
  */
object HistogramSketch {

  /** 0-based bin index of `value` in the fixed domain (clamped). */
  def binOf(value: Column, lo: Double, hi: Double, nBins: Int): Column = {
    require(nBins >= 1 && hi > lo, s"bad histogram domain [$lo,$hi)/$nBins")
    val w = (hi - lo) / nBins
    least(greatest(floor((value - lit(lo)) / lit(w)).cast("int"), lit(0)),
      lit(nBins - 1))
  }

  /** One histogram per `bucketCol` value: `(bucket, bin, n)`. Only
    * occupied bins are stored (sparse). */
  def histogramPerBucket(
      df: DataFrame,
      bucketCol: String,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int = 64): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(
        col(bucketCol).as("bucket"),
        binOf(col(valueCol), lo, hi, nBins).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Materialize the histogram table (append new buckets with mode
    * Append and a bucket filter upstream — same contract as
    * [[DistinctSketches.writeSketchTable]]).
    *
    * `rangeFiles > 0` range-partitions the rows by bucket into that
    * many files before writing, so each file covers a DISJOINT bucket
    * range and parquet's footer min/max can skip row groups on a
    * bucket-range read; 0 leaves the layout to the planner (fine when
    * readers always scan the whole table). For FILE skipping planned
    * from metadata alone, commit the same range-partitioned
    * [[histogramPerBucket]] frame as a snapshot table with bucket
    * stats (`Snapshots.create(…, statsCols = Seq("bucket"))`) and read
    * it through `Snapshots.readVersionWhereTime` — the a22x layout. */
  def writeHistogramTable(
      df: DataFrame,
      bucketCol: String,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int = 64,
      outPath: String,
      mode: String = "overwrite",
      rangeFiles: Int = 0): Unit = {
    val hist = histogramPerBucket(df, bucketCol, valueCol, lo, hi, nBins)
    val laidOut =
      if (rangeFiles > 0) hist.repartitionByRange(rangeFiles, col("bucket"))
      else hist
    laidOut.write.mode(mode).parquet(outPath)
  }

  /** Quantile estimates from (already bucket-filtered) histogram rows
    * `(…, bin, n)`: one output row per requested quantile —
    * `(q, n_range, est)`. `est` interpolates within the bin holding
    * the `ceil(q·n)`-th order statistic, so `|est − that order
    * statistic| ≤ (hi−lo)/nBins` for in-domain data. An empty range
    * yields `n_range = 0, est = NULL`. */
  def rangeQuantiles(
      hist: DataFrame,
      lo: Double,
      hi: Double,
      nBins: Int,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1]: $qs")
    val w = (hi - lo) / nBins
    val merged = hist.groupBy(col("bin")).agg(sum(col("n")).as("n"))
    val packed = merged.groupBy()
      .agg(array_sort(collect_list(struct(col("bin"), col("n")))).as("bins"))
    packed
      .select(
        explode(array(qs.map(lit(_)): _*)).as("q"),
        col("bins"),
        aggregate(col("bins"), lit(0L),
          (a, x) => a + x.getField("n")).as("n_range"))
      .select(
        col("q"), col("bins"), col("n_range"),
        greatest(lit(1L), ceil(col("q") * col("n_range")).cast("long"))
          .as("target"))
      .select(
        col("q"), col("n_range"), col("target"),
        // running (bin, cum, n) triples — array fold, ≤ nBins² steps
        // on ONE row, no window. The empty-range guard must wrap the
        // whole walk (CASE branches evaluate lazily): sequence(1, 0)
        // would count DOWN and index an empty array.
        when(size(col("bins")) === 0, lit(null))
          .otherwise(try_element_at(
            filter(
              transform(sequence(lit(1), size(col("bins"))), i =>
                struct(
                  element_at(col("bins"), i).getField("bin").as("bin"),
                  aggregate(slice(col("bins"), lit(1), i), lit(0L),
                    (a, x) => a + x.getField("n")).as("cum"),
                  element_at(col("bins"), i).getField("n").as("n"))),
              c => c.getField("cum") >= col("target")),
            lit(1))).as("hit"))
      .select(
        col("q"), col("n_range"),
        when(col("n_range") === 0L, lit(null).cast("double"))
          .otherwise(
            lit(lo) + lit(w) * (col("hit").getField("bin").cast("double") +
              (col("target") - (col("hit").getField("cum") -
                col("hit").getField("n"))).cast("double") /
                col("hit").getField("n").cast("double")))
          .as("est"))
  }
}
