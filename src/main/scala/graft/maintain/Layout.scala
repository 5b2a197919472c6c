package graft.maintain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout (Z-order-ish clustering) for
  * file-level skipping.
  *
  * A linear `sortBy(a)` gives parquet tight per-file min/max ranges on
  * `a` and useless ones on `b`; interleaving the bits of the columns'
  * rank percentiles gives every clustered column moderately tight
  * ranges, so predicates on ANY of them prune files/row-groups. This
  * is the layout half of what table formats call OPTIMIZE ZORDER BY —
  * expressed with plain Spark: quantile-bucket ranks → bit interleave →
  * repartitionByRange + sortWithinPartitions on the derived key.
  *
  * Scale: the default write path ranks via approxQuantile cutpoints
  * ([[zKeyApprox]]) — one stats pass plus one range exchange on the
  * z-key, no global ordering stage anywhere — so `optimize --zorder`
  * ([[Snapshots.compactZOrdered]]) is safe to point at a 100 TB table
  * (still best run per partition, e.g. per day, to bound the
  * rewrite's blast radius).
  */
object Layout {

  private val Bits = 16

  /** Interleave the low `Bits` bits of two bucket ids (Morton code). */
  private[graft] def interleave(a: Column, b: Column): Column = {
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Exact z-key column: rank-normalize each column to 2^Bits buckets
    * (via ntile over its own ordering — value-distribution free), then
    * Morton-interleave.
    *
    * NOTE the empty-partitionBy windows funnel the ranking through ONE
    * task — only ever appropriate for a small per-partition batch (a
    * day/agency slice). The write/rewrite entry points below do NOT
    * use this form; they go through [[zKeyApprox]], which has no
    * single-task stage. This exact variant is kept as the quality
    * yardstick LayoutSpec measures the approx path against. */
  def zKey(df: DataFrame, colA: String, colB: String): DataFrame = {
    val nt = math.pow(2, Bits).toInt
    val ra = ntile(nt).over(Window.orderBy(col(colA))).cast("long") - 1
    val rb = ntile(nt).over(Window.orderBy(col(colB))).cast("long") - 1
    df.withColumn("__graft_z", interleave(ra, rb))
  }

  /** The z-clustered frame the writers below materialize: approx z-key
    * → range exchange on it → in-partition sort. Exposed for plan
    * assertions (LayoutSpec pins "no Window / single-task ranking
    * stage anywhere in the optimize path"). */
  private[graft] def zOrdered(
      df: DataFrame,
      colA: String,
      colB: String,
      nFiles: Int): DataFrame =
    zKeyApprox(df, colA, colB)
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")

  /** Rewrite `df` into `nFiles` z-clustered parquet files at `path`.
    * Always uses the approx-quantile z-key: the quality delta vs the
    * exact ntile ranking is marginal (LayoutSpec measures both), and
    * this form is safe at any scale — no global ranking window. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      nFiles: Int): Unit =
    zOrdered(df, colA, colB, nFiles)
      .write.mode("overwrite").parquet(path)

  /** Scale-path z-key: bucket each column by APPROXIMATE quantile
    * cutpoints (one driver-side `approxQuantile` pass for BOTH columns,
    * ~2×255 doubles broadcast as literal arrays) instead of an exact
    * global ntile window — no single-task ranking stage, so this form
    * z-orders a 100 TB table. Bucket = number of cutpoints ≤ value,
    * computed with a higher-order filter over the literal array
    * (row-local; the array is 2^`bits` entries, keep `bits` ≤ 10).
    *
    * Approximate ranks only blur bucket BOUNDARIES — clustering
    * quality degrades smoothly with quantile error (LayoutSpec
    * measures it against the exact path). */
  def zKeyApprox(
      df: DataFrame,
      colA: String,
      colB: String,
      bits: Int = 8,
      relErr: Double = 0.001): DataFrame = {
    require(bits >= 2 && bits <= 10, s"bits must be in [2,10]: $bits")
    val n = math.pow(2, bits).toInt
    val probs = (1 until n).map(_.toDouble / n).toArray
    // one aggregation pass computes both columns' cutpoints
    val allCuts = df.stat.approxQuantile(Array(colA, colB), probs, relErr)
    def bucket(cuts: Array[Double], c: String): Column = {
      val arr = lit(cuts)
      size(filter(arr, x => x <= col(c).cast("double"))).cast("long")
    }
    // re-interleave at the low `bits` (buckets are < 2^bits, so the
    // shared 16-bit interleave covers them)
    df.withColumn("__graft_z",
      interleave(bucket(allCuts(0), colA), bucket(allCuts(1), colB)))
  }
}
