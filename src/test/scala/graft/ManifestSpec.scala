package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots

/** File-level min/max in snapshot commit manifests over the orders
  * fixture: a range read planned from the manifest (explicitly through
  * `readVersionWhere`, or by the `spark.graft.snapshotPruning`
  * optimizer rule) opens fewer files and returns exactly the filtered
  * full read. Synthetic edge cases of the rule live in
  * SnapshotPruneSpec. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ConfKey = "spark.graft.snapshotPruning"
  private val inRange = $"o_totalprice".between(100000, 150000)

  /** Orders in 8 files range-clustered on `o_totalprice`, per-file
    * stats on `statsCols`, as snapshot v1. */
  private def rangeClustered(
      statsCols: Seq[String] = Seq("o_totalprice")): String = {
    val t = TestSpark.tmpDir("manifest-table") + "/t"
    Snapshots.create(Tables.orders(spark, TestSpark.sf0001)
      .repartitionByRange(8, $"o_totalprice")
      .sortWithinPartitions($"o_totalprice"), t, statsCols = statsCols)
    t
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("o_orderkey").as[Long].collect().toSet

  private def headFiles(t: String): Int =
    Snapshots.read(spark, t).inputFiles.length

  /** Appends one stat-less order with key 999999 inside `inRange`. */
  private def appendUnknown(t: String): Unit =
    Snapshots.commitAppend(Tables.orders(spark, TestSpark.sf0001).limit(1)
      .withColumn("o_orderkey", lit(999999L))
      .withColumn("o_totalprice", lit(125000.0)), t)

  private def scanFileCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum

  private def withRule[T](body: => T): T = {
    spark.conf.set(ConfKey, "true")
    try body finally spark.conf.set(ConfKey, "false")
  }

  test("pruned read ≡ full read + filter (range-clustered table)") {
    val t = rangeClustered(Seq("o_totalprice", "o_orderkey"))
    val full = keys(Snapshots.read(spark, t).filter(inRange))
    val pruned = keys(Snapshots.readVersionWhere(
      spark, t, 1L, "o_totalprice", 100000, 150000).filter(inRange))
    assert(full.nonEmpty && pruned == full)
  }

  test("manifest actually prunes files on a clustered column") {
    val t = rangeClustered()
    val total = headFiles(t)
    val cands = Snapshots.readVersionWhere(
      spark, t, 1L, "o_totalprice", 100000, 150000).inputFiles.length
    assert(total >= 8)
    assert(cands < total, s"no pruning: $cands of $total files selected")
  }

  test("all-null stats files are kept (conservative pruning)") {
    val t = TestSpark.tmpDir("manifest-nulls") + "/t"
    // one file holds v = 0..49, the other only NULLs (no recorded stat)
    Snapshots.create(spark.range(0, 100).toDF("k")
      .withColumn("v", when($"k" < 50, $"k").otherwise(lit(null)))
      .repartition(2, when($"k" < 50, 0).otherwise(1)), t,
      statsCols = Seq("v"))
    val full = Snapshots.read(spark, t).filter($"v".between(10, 20))
      .select("k").as[Long].collect().toSet
    val pruned = Snapshots.readVersionWhere(spark, t, 1L, "v", 10, 20)
      .filter($"v".between(10, 20)).select("k").as[Long].collect().toSet
    assert(pruned == full)
    assert(full == (10L to 20L).toSet)
  }

  test("empty overlap returns an empty, correctly-typed frame") {
    val t = rangeClustered()
    val none = Snapshots.readVersionWhere(
      spark, t, 1L, "o_totalprice", 100000000, 200000000)
    assert(none.count() == 0)
    assert(none.columns.contains("o_orderkey"))
  }

  test("rows appended after the manifest build are still read (pruned)") {
    val t = rangeClustered()
    appendUnknown(t)
    val pruned = keys(Snapshots.readVersionWhere(
      spark, t, 2L, "o_totalprice", 100000, 150000).filter(inRange))
    assert(pruned.contains(999999L),
      "appended rows silently dropped by the stat-less file")
    assert(pruned == keys(Snapshots.read(spark, t).filter(inRange)))
  }

  test("compaction and z-order refresh an existing manifest") {
    val t = rangeClustered()
    val expected = keys(Snapshots.read(spark, t).filter(inRange))
    val v1Files = Snapshots.read(spark, t).inputFiles.toSet
    // z-order (new files, stats re-recorded on both columns), then a
    // range-clustering compaction back onto o_totalprice
    Snapshots.compactZOrdered(spark, t, "o_totalprice", "o_orderkey", 3)
    Snapshots.compactClustered(spark, t, Seq("o_totalprice"))
    for (v <- Seq(2L, 3L)) {
      val planned = Snapshots.readVersionWhere(
        spark, t, v, "o_totalprice", 100000, 150000)
      assert((planned.inputFiles.toSet intersect v1Files).isEmpty,
        s"v$v still plans pre-compaction files")
      assert(keys(planned.filter(inRange)) == expected)
    }
    assert(Snapshots.readVersionWhere(spark, t, 3L, "o_totalprice",
      100000, 150000).inputFiles.length < headFiles(t))
  }

  test("optimizer rule prunes a plain filter query when the flag is on") {
    val t = rangeClustered()
    def q() = Snapshots.read(spark, t).filter(inRange)
    val total = headFiles(t)
    val expected = keys(q())
    assert(scanFileCount(q()) == total, "flag off → no pruning")
    withRule {
      assert(scanFileCount(q()) < total,
        s"rule did not prune: ${scanFileCount(q())} of $total files")
      assert(keys(q()) == expected, "pruned result must be bit-identical")
      // one-sided bound prunes too (top range partition only)
      val oneSided = Snapshots.read(spark, t)
        .filter($"o_totalprice" >= 500000)
      assert(scanFileCount(oneSided) < total)
      assert(oneSided.count() == Tables.orders(spark, TestSpark.sf0001)
        .filter($"o_totalprice" >= 500000).count())
    }
  }

  test("optimizer rule is conservative: appended files still read") {
    val t = rangeClustered()
    appendUnknown(t)
    withRule {
      assert(keys(Snapshots.read(spark, t).filter(inRange))
        .contains(999999L),
        "file appended without stats was pruned away")
    }
  }

  test("optimizer rule leaves unprunable plans untouched") {
    val t = rangeClustered()
    val total = headFiles(t)
    withRule {
      // predicate on a column without stats → no bounds → no rewrite
      assert(scanFileCount(Snapshots.read(spark, t)
        .filter($"o_orderkey" >= 10)) == total)
      // non-range predicate → no rewrite
      assert(scanFileCount(Snapshots.read(spark, t)
        .filter($"o_orderstatus".startsWith("O"))) == total)
    }
  }

  test("optimizer rule prunes IN-lists per value (P6 isin vocabulary)") {
    val t = TestSpark.tmpDir("manifest-in") + "/t"
    // id-clustered: each of 8 files holds one contiguous key range
    Snapshots.create(Tables.orders(spark, TestSpark.sf0001)
      .repartitionByRange(8, $"o_orderkey"), t,
      statsCols = Seq("o_orderkey"))
    val total = headFiles(t)
    // a docket-id-style IN-list landing in few files; 13 elements also
    // exercises the optimizer's In→InSet conversion past 10
    val few = Seq(2L, 5L, 7L)
    val many = (100L to 112L).toSeq
    def q(keys: Seq[Any]) =
      Snapshots.read(spark, t).filter($"o_orderkey".isin(keys: _*))
    val (fewExp, manyExp) = (q(few).count(), q(many).count())
    withRule {
      assert(scanFileCount(q(few)) < total,
        s"IN did not prune: ${scanFileCount(q(few))} of $total")
      assert(q(few).count() == fewExp)
      assert(scanFileCount(q(many)) < total,
        s"InSet did not prune: ${scanFileCount(q(many))} of $total")
      assert(q(many).count() == manyExp)
      // a NULL element adds no matchable value (IN returns null, never
      // true, for it) — dropped from the probe: still prunes, same rows
      val withNull = q(few :+ null)
      assert(scanFileCount(withNull) < total)
      assert(withNull.count() == fewExp)
    }
  }
}
