package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HistogramSketch

class HistogramSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 1..100 over two buckets, domain [0,100)/10 bins → bin width 10
  private def data = (1 to 100).map(i =>
    (if (i <= 50) "b1" else "b2", i.toDouble)).toDF("bucket_src", "v")

  private def hist = HistogramSketch.histogramPerBucket(
    data, "bucket_src", "v", lo = 0.0, hi = 100.0, nBins = 10)

  test("histogram bins partition the data; counts conserve rows") {
    val rows = hist.collect()
    assert(rows.map(_.getLong(2)).sum == 100L)
    // value 100 clamps into the top bin
    val top = hist.filter(col("bin") === 9).agg(sum("n")).head().getLong(0)
    assert(top == 11L) // 91..100
  }

  test("merging bucket histograms = histogram of the union (mergeability)") {
    val merged = hist.groupBy("bin").agg(sum("n").as("n"))
      .orderBy("bin").as[(Int, Long)].collect().toSeq
    val direct = HistogramSketch.histogramPerBucket(
      data.withColumn("one", lit("all")), "one", "v", 0.0, 100.0, 10)
      .select("bin", "n").orderBy("bin").as[(Int, Long)].collect().toSeq
    assert(merged == direct)
  }

  test("quantile estimates land within one bin width of the exact value") {
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val est = HistogramSketch.rangeQuantiles(hist, 0.0, 100.0, 10, qs)
      .orderBy("q").as[(Double, Long, Double)].collect().toSeq
    val exact = Map(0.25 -> 25.75, 0.5 -> 50.5, 0.75 -> 75.25, 0.9 -> 90.1)
    est.foreach { case (q, n, e) =>
      assert(n == 100L)
      assert(math.abs(e - exact(q)) <= 10.0, s"q=$q est=$e")
    }
  }

  test("range filter before the walk answers a sub-range quantile") {
    // only bucket b1 (values 1..50): p50 should be ≈25
    val est = HistogramSketch.rangeQuantiles(
      hist.filter(col("bucket") === "b1"), 0.0, 100.0, 10, Seq(0.5))
      .as[(Double, Long, Double)].head()
    assert(est._2 == 50L)
    assert(math.abs(est._3 - 25.5) <= 10.0)
  }

  test("empty range yields n_range 0 and NULL estimate") {
    val est = HistogramSketch.rangeQuantiles(
      hist.filter(col("bucket") === "nope"), 0.0, 100.0, 10, Seq(0.5))
      .select(col("n_range"), col("est").isNull)
      .as[(Long, Boolean)].head()
    assert(est == ((0L, true)))
  }

  test("out-of-domain values clamp into edge bins") {
    val wild = Seq(("b", -50.0), ("b", 1e6), ("b", 5.0)).toDF("k", "v")
    val h = HistogramSketch.histogramPerBucket(wild, "k", "v", 0.0, 100.0, 10)
      .select("bin", "n").as[(Int, Long)].collect().toSet
    assert(h == Set((0, 2L), (9, 1L)))
  }

  test("write + read round-trip (append-style maintenance)") {
    val dir = java.nio.file.Files.createTempDirectory("histsk").toString
    HistogramSketch.writeHistogramTable(
      data, "bucket_src", "v", 0.0, 100.0, 10, outPath = dir)
    val back = spark.read.parquet(dir)
    val est = HistogramSketch.rangeQuantiles(back, 0.0, 100.0, 10, Seq(0.5))
      .as[(Double, Long, Double)].head()
    assert(est._2 == 100L && math.abs(est._3 - 50.5) <= 10.0)
  }

  test("range-partitioned table + manifest skips files for a bucket range") {
    // the a22x layout: a snapshot table range-partitioned on the
    // bucket into 8 files, per-file bucket stats in its manifest — a
    // narrow bucket-range read must plan a strict subset of the head's
    // files and still return exactly the filtered full read's rows
    import graft.maintain.Snapshots
    import graft.queries.ProfileQueries
    import org.apache.spark.sql.functions.col
    val dir = ProfileQueries.histTable(spark, TestSpark.sf0001)
    assert(Snapshots.versions(spark, dir) == Seq(1L))
    val head = Snapshots.read(spark, dir)
    val all = head.inputFiles.toSet
    val range = col("bucket").between("2024-01-02", "2024-01-09")
    val planned = Snapshots.readVersionWhereTime(
      spark, dir, 1L, "bucket", "2024-01-02", "2024-01-09")
    val cand = planned.inputFiles.toSet
    assert(all.size == 8, s"expected 8 range files, head has ${all.size}")
    assert(cand.nonEmpty && cand.subsetOf(all) && cand.size < all.size,
      s"range read should skip files: ${cand.size} of ${all.size}")
    val pruned = planned.filter(range)
      .orderBy("bucket", "bin").collect().toSeq
    val full = head.filter(range).orderBy("bucket", "bin").collect().toSeq
    assert(full.nonEmpty && pruned == full)
    // a22x itself plans exactly that pruned subset of the table and
    // answers what a22 does
    val a22x = ProfileQueries.a22x.run(spark, TestSpark.sf0001)
    assert(a22x.inputFiles.toSet.intersect(all) == cand)
    assert(a22x.collect().toSeq ==
      ProfileQueries.a22.run(spark, TestSpark.sf0001).collect().toSeq)
  }

  test("plan: the quantile walk contains no window operator") {
    val plan = HistogramSketch.rangeQuantiles(hist, 0.0, 100.0, 10, Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}
