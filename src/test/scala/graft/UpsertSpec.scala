package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Upsert

/** MERGE-like upsert: update/insert/keep semantics, deterministic
  * tie-breaks, schema drift, and the streaming sink over a crashed
  * first batch. */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def target = Seq(
    (1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver")

  test("update, insert, and keep in one merge") {
    val updates = Seq((2L, "B", 2L), (4L, "d", 1L)).toDF("id", "v", "ver")
    val out = Upsert.mergeFrames(target, updates, Seq("id"), "ver", "ver")
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L),
      (4L, "d", 1L)))
  }

  test("ties resolve by the tiebreak arg-max, deterministically") {
    val updates = Seq((1L, "x", 1L), (1L, "y", 1L)).toDF("id", "v", "ver")
    val withTb = updates.withColumn("tb", when($"v" === "y", 9L).otherwise(0L))
    val out = Upsert.mergeFrames(
        target.withColumn("tb", lit(5L)), withTb, Seq("id"), "ver", "tb")
      .filter($"id" === 1).select("v").as[String].collect().toSeq
    assert(out == Seq("y"), s"max tiebreak must win: $out")
  }

  test("schema drift: update columns absent from target become NULL rows") {
    val updates = Seq((5L, 2L, "extra")).toDF("id", "ver", "note")
    val out = Upsert.mergeFrames(target, updates, Seq("id"), "ver", "ver")
    assert(out.columns.toSet == Set("id", "v", "ver", "note"))
    val r5 = out.filter($"id" === 5).select("v", "note")
      .as[(Option[String], Option[String])].collect().head
    assert(r5 == (None, Some("extra")))
  }

  test("random equivalence with a brute-force reference") {
    val rnd = new scala.util.Random(11)
    for (round <- 1 to 4) {
      // small domains force key overlap and (key, version) ties
      val tRows = Seq.tabulate(40)(i =>
        (rnd.nextInt(15).toLong, s"t$i", rnd.nextInt(5).toLong, i.toLong))
      val uRows = Seq.tabulate(30)(i =>
        (rnd.nextInt(15).toLong, s"u$i", rnd.nextInt(5).toLong,
          (100 + i).toLong))
      val out = Upsert.mergeFrames(
          tRows.toDF("id", "v", "ver", "tb"),
          uRows.toDF("id", "v", "ver", "tb"),
          Seq("id"), "ver", "tb")
        .select("id", "v").as[(Long, String)].collect().toMap
      val expect = (tRows ++ uRows).groupBy(_._1).map { case (k, rows) =>
        val best = rows.maxBy(r => (r._3, r._4))
        k -> best._2
      }
      assert(out == expect, s"merge diverged in round $round")
    }
  }

  test("streaming upsert recovers a table half-created by a crashed batch") {
    import graft.maintain.Snapshots
    import graft.streaming.Incremental
    val root = TestSpark.tmpDir("upsert_stream_halfcreate")
    val (src, dest, ckpt) = (s"$root/src", s"$root/dest", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    // simulate a crash during the very first batch's create: its data
    // batch landed under dest but no version was ever committed
    Seq((1L, "STALE", 9L)).toDF("id", "v", "ver")
      .write.parquet(s"$dest/data/batch-crashedcreate0")
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver")
      .coalesce(1).write.json(s"$src/b1")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, v STRING, ver LONG")
    Incremental.upsertStream(
      spark.readStream.schema(schema).json(s"$src/*"),
      dest, ckpt, Seq("id"), "ver", "ver").awaitTermination()
    assert(Snapshots.versions(spark, dest) == Seq(1L))
    val back = Snapshots.read(spark, dest).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(back == Seq((1L, "a", 1L), (2L, "b", 1L)),
      s"the crashed create's batch must stay invisible: $back")
  }
}
