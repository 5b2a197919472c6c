package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins [[Similarity.perQueryTopK]], the bounded-heap per-query top-k
  * that the k-NN joins, hard negatives, the indexed IVF-PQ join and
  * RRF fusion share, against the plain `row_number` window it stands
  * in for: same rows, same ranks, in both score orders, with ties at
  * the k boundary, a payload column, groups smaller than k and empty
  * input.
  */
class PerQueryTopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // query 1 ties at 0.9 (interior for k = 2) and at 0.5 (the boundary
  // for k = 3 descending and k = 2 ascending); query 2 and 3 are
  // smaller than most k
  private lazy val scored = Seq(
    (1, 10L, 0.5, "a"), (1, 11L, 0.9, "b"), (1, 12L, 0.9, "c"),
    (1, 13L, 0.1, "d"), (1, 14L, 0.5, "e"),
    (2, 20L, 0.3, "f"), (2, 21L, 0.7, "g"),
    (3, 30L, -0.2, "h")).toDF("q", "id", "score", "lbl")

  private def topK(df: DataFrame, k: Int, descending: Boolean): DataFrame =
    Similarity.perQueryTopK(df, "q", "id", "score", k, descending,
      payload = Seq("lbl"))

  private def reference(df: DataFrame, k: Int, descending: Boolean) =
    df.withColumn("rank", row_number().over(
        Window.partitionBy("q").orderBy(
          if (descending) col("score").desc else col("score"), col("id"))))
      .filter(col("rank") <= k)
      .select("q", "id", "lbl", "score", "rank")

  private def rows(df: DataFrame): Set[(Int, Long, String, Double, Int)] =
    df.as[(Int, Long, String, Double, Int)].collect().toSet

  test("perQueryTopK equals the row_number reference in both orders") {
    for (descending <- Seq(true, false); k <- Seq(1, 2, 3, 10)) {
      val got = topK(scored, k, descending)
      assert(got.columns.toSeq == Seq("q", "id", "lbl", "score", "rank"))
      assert(rows(got) == rows(reference(scored, k, descending)),
        s"descending=$descending k=$k")
    }
    // the boundary ties resolve to the lower id
    def ids(k: Int, descending: Boolean): Set[Long] =
      rows(topK(scored, k, descending)).filter(_._1 == 1).map(_._2)
    assert(ids(3, descending = true) == Set(11L, 12L, 10L))
    assert(ids(2, descending = false) == Set(13L, 10L))
    // k larger than every group keeps every row, payload intact
    assert(rows(topK(scored, 10, descending = true)).map(r => (r._2, r._3)) ==
      scored.select("id", "lbl").as[(Long, String)].collect().toSet)
  }

  test("perQueryTopK of an empty input is empty") {
    val empty = scored.filter(col("q") < 0)
    assert(topK(empty, 3, descending = true).count() == 0L)
    assert(topK(empty, 3, descending = false).count() == 0L)
  }
}
