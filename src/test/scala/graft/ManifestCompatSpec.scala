package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots

/** Manifests written by the driver and manifests written through a
  * one-partition Spark write (the earlier commit path, in its current
  * and older column shapes) read the same, side by side in one table;
  * and the entries a commit memoises equal a cold parse of its
  * manifest. */
class ManifestCompatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def manifestDir(t: String, v: Long) = s"$t/_snapshots/v$v"

  /** Replaces version `v`'s manifest with a one-partition Spark write of
    * its rows, keeping only `cols`: the earlier Spark commit path, in
    * the column shape of the manifest version it stands for. */
  private def sparkRewrite(t: String, v: Long, cols: Seq[String]): Unit = {
    val dir = manifestDir(t, v)
    val tmp = s"$t/_snapshots/.rewrite-v$v"
    spark.read.parquet(dir).select(cols.map(col): _*)
      .coalesce(1).write.parquet(tmp)
    assert(fs.delete(new Path(dir), true))
    assert(fs.rename(new Path(tmp), new Path(dir)))
    Snapshots.clearEntriesMemo()
  }

  private val full = Snapshots.ManifestSchema.fieldNames.toSeq
  /** Before commit keys and blooms. */
  private val noKeyNoBloom = full.filterNot(c =>
    c == "commit_key" || c.startsWith("stat_bloom"))
  /** Before per-file stats. */
  private val bare = Seq("file", "version", "ts_ms", "operation", "parent")

  private def rows(from: Int, n: Int): DataFrame =
    spark.range(from, from + n, 1, 2).select(
      col("id").as("k"),
      format_string("s-%03d", col("id") % 40).as("s"),
      (col("id") * 2).as("x"))

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("old- and new-written manifests read alike in one table") {
    val t = TestSpark.tmpDir("manifest-compat") + "/t"
    val stats = Seq("k", "s")
    Snapshots.create(rows(0, 40), t, statsCols = stats)
    Snapshots.commitAppend(rows(40, 20), t, commitKey = Some("s1_0"),
      statsCols = stats)
    Snapshots.commitAppend(rows(60, 20), t, commitKey = Some("s1_1"),
      statsCols = stats)
    Snapshots.commitDeleteWhere(spark, t, "k", 10, 19)
    Snapshots.commitAppend(rows(80, 10), t, statsCols = stats)
    val vs = Snapshots.versions(spark, t)
    assert(vs == (1L to 5L))

    def snapshot() = (
      vs.map(v => sorted(Snapshots.readVersion(spark, t, v))),
      sorted(Snapshots.history(spark, t)),
      Snapshots.allFileStats(spark, t),
      sorted(Snapshots.readChangeFeed(spark, t, 1L, 5L, Seq("k"))))
    val before = snapshot()

    // v1 as the oldest shape, v2 before keys and blooms, v4 as the
    // Spark path wrote it last; v3 and v5 stay driver-written
    sparkRewrite(t, 1, bare)
    sparkRewrite(t, 2, noKeyNoBloom)
    sparkRewrite(t, 4, full)
    val after = snapshot()
    assert(after._1 == before._1, "readVersion differs")
    assert(after._2 == before._2, "history differs")
    assert(after._3 == before._3, "allFileStats differs")
    assert(after._4 == before._4, "readChangeFeed differs")
    assert(sorted(Snapshots.read(spark, t)) == before._1.last)

    // the replay guard still finds the stream's newest key (v3, driver
    // written) past manifests that have no commit_key column at all
    val e = intercept[IllegalArgumentException](
      Snapshots.expire(spark, t, keepLast = 2))
    assert(e.getMessage.contains("s1 (v3)"), e.getMessage)
    assert(Snapshots.commitAppend(rows(60, 20), t,
      commitKey = Some("s1_1"), statsCols = stats) == 3L)

    // a new commit on top of the mix parents on the Spark-written head
    sparkRewrite(t, 5, full)
    val v6 = Snapshots.commitAppend(rows(90, 5), t, statsCols = stats)
    assert(v6 == 6L)
    assert(Snapshots.read(spark, t).count() == before._1.last.size + 5)
    val pruned = Snapshots.readVersionWhere(spark, t, v6, "k", 90, 94)
    assert(pruned.inputFiles.length <
      Snapshots.readVersion(spark, t, v6).inputFiles.length)
    assert(Snapshots.expire(spark, t, keepLast = 4)._1 == 2)
    assert(Snapshots.read(spark, t).count() == before._1.last.size + 5)
  }

  test("a driver-written manifest has the Spark-written schema") {
    val t = TestSpark.tmpDir("manifest-schema") + "/t"
    Snapshots.create(rows(0, 40), t, statsCols = Seq("k", "s"),
      bloomCols = Seq("k"))
    Snapshots.commitAppend(rows(40, 10), t, commitKey = Some("a_0"),
      statsCols = Seq("k"))
    val driver = manifestDir(t, 2)
    val viaSpark = s"$t/spark-v2"
    spark.read.parquet(driver).coalesce(1).write.parquet(viaSpark)
    val d = spark.read.parquet(driver)
    val s = spark.read.parquet(viaSpark)
    assert(d.schema == s.schema)
    assert(d.schema == Snapshots.ManifestSchema)
    assert(sorted(d) == sorted(s))
    // the Parquet schema of a Spark write of the same rows too: every
    // column optional, strings annotated STRING
    def parquetSchemas(dir: String) =
      fs.listStatus(new Path(dir)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).map { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              st.getPath, spark.sparkContext.hadoopConfiguration))
          try r.getFooter.getFileMetaData.getSchema finally r.close()
        }.distinct
    val sparkSchema = parquetSchemas(viaSpark)
    assert(sparkSchema.size == 1)
    assert(parquetSchemas(manifestDir(t, 1)) == sparkSchema)
    // v2's second part file is the Spark-written bloom carry
    assert(parquetSchemas(driver).contains(sparkSchema.head))
    // the carried bloom rows ride a second part file, bytes intact
    def blooms(df: DataFrame) = df.filter($"stat_bloom".isNotNull)
      .select("file", "stat_col", "stat_bloom").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      .toSet
    assert(blooms(d).nonEmpty &&
      blooms(d) == blooms(spark.read.parquet(manifestDir(t, 1))))
  }

  test("a commit's memoised entries equal a cold parse, blooms included") {
    val t = TestSpark.tmpDir("manifest-memo") + "/t"
    def same(v: Long): Unit = {
      val seeded = Snapshots.entriesOf(spark, t, v)
      Snapshots.clearEntriesMemo()
      val cold = Snapshots.entriesOf(spark, t, v)
      assert(seeded == cold, s"v$v: seeded entries differ from a cold parse")
      assert(seeded.forall(_.blooms.isEmpty))
    }
    Snapshots.create(rows(0, 60), t, statsCols = Seq("k", "s"),
      bloomCols = Seq("k"))
    same(1)
    assert(Snapshots.entriesOf(spark, t, 1).forall(_.bloomColsRecorded ==
      Set("k")))
    same(Snapshots.commitAppend(rows(60, 20), t, statsCols = Seq("s")))
    same(Snapshots.commitAppend(rows(80, 20), t, statsCols = Seq("k"),
      bloomCols = Seq("s")))
    same(Snapshots.commitDeleteKeys(spark, t, "k", Seq(BigDecimal(3))))
    same(Snapshots.commitUpsert(rows(5, 3).withColumn("x", lit(-1L)), t,
      Seq("k"), "x", "s"))
    same(Snapshots.rollback(spark, t, 2))
    same(Snapshots.compact(spark, t, 2))
  }
}
