package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Quantize, Retrieval}
import graft.maintain.Segments

/** Spark jobs per warm index probe, on indexes shaped like the served
  * ones: a build plus one appended segment. A probe needs the jobs
  * that read its own rows; its bookkeeping costs none: index tables
  * plan with their footer schema ([[Segments.read]]), the query terms'
  * df and the stored centroids enter the plan as literals. The bounds
  * stop those jobs from creeping back. */
class IndexProbeJobsSpec extends AnyFunSuite with SparkJobCounting {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
  private lazy val embs = Tables.embeddings(spark, TestSpark.sf0001)

  private lazy val bm25Idx: String = {
    val p = TestSpark.tmpDir("probe-jobs-bm25")
    Retrieval.writeBm25Index(docs.filter($"doc_id" % 5 =!= 0), p)
    Retrieval.appendToBm25Index(docs.filter($"doc_id" % 5 === 0), p)
    p
  }

  private lazy val annIdx: String = {
    val p = TestSpark.tmpDir("probe-jobs-ann")
    Quantize.writePqIndex(embs.filter($"vec_id" % 5 =!= 0), p)
    Quantize.appendToPqIndex(embs.filter($"vec_id" % 5 === 0), p)
    p
  }

  /** Every indexed term, in token order. */
  private lazy val vocab: IndexedSeq[String] =
    Segments.read(spark, s"$bm25Idx/df").select("token").distinct()
      .orderBy("token").as[String].collect().toIndexedSeq

  /** Three indexed terms no other `i` draws. */
  private def terms(i: Int): Seq[String] =
    (0 until 3).map(j => vocab((i * 3 + j) * 7 % vocab.size))

  private def queryVec(id: Long): Array[Double] =
    embs.filter($"vec_id" === id).select("embedding")
      .as[Seq[Float]].head().map(_.toDouble).toArray

  /** Jobs of a schema inference: `DataFrameReader.parquet` runs them. */
  private def inferenceJobs(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(_.names.exists(_.startsWith("parquet at")))

  private def check(name: String, bound: Int, jobs: Seq[Job]): Unit = {
    assert(jobs.size <= bound,
      s"$name ran ${jobs.size} jobs, bound $bound:${describe(jobs)}")
    val inf = inferenceJobs(jobs)
    assert(inf.isEmpty,
      s"$name ran ${inf.size} schema inference job(s):${describe(inf)}")
  }

  test("a warm bm25TopKIndexed probe with fresh terms runs at most 3 jobs, none inferring a schema") {
    Retrieval.bm25TopKIndexed(spark, bm25Idx, terms(0)).collect()
    val (rows, jobs) = jobsOf(
      Retrieval.bm25TopKIndexed(spark, bm25Idx, terms(1)).collect())
    check("bm25TopKIndexed", 3, jobs)
    assert(rows.nonEmpty)
  }

  test("a warm ivfPqTopKIndexed probe with a fresh vector runs at most 3 jobs, none inferring a schema") {
    Quantize.ivfPqTopKIndexed(spark, annIdx, queryVec(1L)).collect()
    val q = queryVec(2L)
    val (rows, jobs) = jobsOf(
      Quantize.ivfPqTopKIndexed(spark, annIdx, q).collect())
    check("ivfPqTopKIndexed", 3, jobs)
    assert(rows.length == 10)
  }

  test("a cold localRows read runs at most 1 job, none inferring a schema") {
    val t = TestSpark.tmpDir("probe-jobs-rows") + "/t"
    spark.range(3).toDF("x").write.parquet(t)
    val (rows, jobs) = jobsOf(Segments.localRows(spark, t))
    check("localRows", 1, jobs)
    assert(rows.map(_.map(_.getLong(0)).sorted) == Some(Seq(0L, 1L, 2L)))
  }

  test("probes with fresh terms and fresh vectors compile no new classes") {
    def compiles[T](body: => T): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val (t2, t3) = (terms(2), terms(3))
    Retrieval.bm25TopKIndexed(spark, bm25Idx, t2).collect()
    assert(compiles(
      Retrieval.bm25TopKIndexed(spark, bm25Idx, t3).collect()) == 0)
    val (q3, q4) = (queryVec(3L), queryVec(4L))
    Quantize.ivfPqTopKIndexed(spark, annIdx, q3).collect()
    assert(compiles(
      Quantize.ivfPqTopKIndexed(spark, annIdx, q4).collect()) == 0)
  }
}
