package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Layout

/** Z-order layout: the point is file-level skipping on BOTH clustered
  * columns. The spec writes the same data linearly-sorted and
  * z-ordered, then measures per-file min/max width of the SECOND
  * column: linear sort leaves it near the full domain (no skipping
  * possible); z-order must shrink it materially. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("morton interleave is monotone in both inputs' buckets") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Layout.interleave(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(rows(0) == 0L)
    assert(rows(1) == 1L)      // a bit 0 -> z bit 0
    assert(rows(2) == 2L)      // b bit 0 -> z bit 1
    assert(rows(3) == 15L)     // both low 2 bits set
    assert(rows(4) == (1L << 32) - 1)  // all 32 interleaved bits set
  }

  test("z-order tightens per-file ranges on the second column") {
    val n = 20000
    // two independent uniform dims — worst case for a linear sort
    val df = spark.range(n.toLong).select(
      (hash(col("id")).cast("long") % 10000).as("a"),
      (hash(col("id"), lit(1)).cast("long") % 10000).as("b"))
    val linDir = TestSpark.tmpDir("layout-linear") + "/t"
    val zDir = TestSpark.tmpDir("layout-z") + "/t"
    df.repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(linDir)
    // exact-ntile yardstick (library-only path; the write/CLI entry
    // points never use it — see the plan assertion below)
    Layout.zKey(df, "a", "b")
      .repartitionByRange(8, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(zDir)

    def avgWidth(dir: String, c: String): Double =
      avgWidthOf(new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath), c)
    def avgWidthOf(files: Seq[String], c: String): Double = {
      assert(files.length >= 4, s"expected several files: $files")
      val widths = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
          .as[(Double, Double)].collect().head
        r._2 - r._1
      }
      widths.sum / widths.length
    }
    val linB = avgWidth(linDir, "b")
    val zB = avgWidth(zDir, "b")
    val zA = avgWidth(zDir, "a")

    // scale path — what writeZOrdered and compactZOrdered (and thus
    // the CLI) actually execute: approx-quantile z-key, no global ranking
    // window. Pin that property in the physical plan: no Window node
    // and no single-partition global Sort/Exchange anywhere.
    val zaPlan = Layout.zOrdered(df, "a", "b", 8)
      .queryExecution.executedPlan.toString
    assert(!zaPlan.contains("Window"),
      s"optimize path must not rank via a Window:\n$zaPlan")
    assert(!zaPlan.contains("SinglePartition"),
      s"optimize path must not funnel through one partition:\n$zaPlan")
    val zaDir = TestSpark.tmpDir("layout-za") + "/t"
    Layout.writeZOrdered(df, zaDir, "a", "b", 8)
    assert(spark.read.parquet(zaDir).count() == n)
    val zaB = avgWidth(zaDir, "b")
    assert(zaB < linB * 0.7,
      s"approx z-order did not tighten b: $zaB vs linear $linB")

    // CLI round-trip: z-order compaction of a snapshot table holding
    // the linear layout must produce the same z-clustering as a new
    // version (and keep every row)
    import graft.maintain.Snapshots
    val snap = TestSpark.tmpDir("layout-snap") + "/t"
    Snapshots.create(spark.read.parquet(linDir), snap)
    graft.cli.Main.run(spark,
      Array("optimize", snap, "8", "--zorder", "a,b"))
    assert(Snapshots.versions(spark, snap) == Seq(1L, 2L))
    val head = Snapshots.read(spark, snap)
    assert(head.count() == n)
    assert(avgWidthOf(head.inputFiles.toSeq, "b") < linB * 0.6,
      "CLI z-order rewrite did not tighten b")
    // linear: b spans ~the whole domain per file; z-order: both dims
    // must be materially tighter than the full domain
    assert(linB > 15000, s"linear-sorted b unexpectedly tight: $linB")
    assert(zB < linB * 0.6, s"z-order did not tighten b: $zB vs $linB")
    assert(zA < 15000, s"z-order lost all clustering on a: $zA")
  }
}
