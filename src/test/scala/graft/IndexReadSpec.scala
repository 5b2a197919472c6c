package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Quantize, Retrieval}
import graft.maintain.Segments
import graft.streaming.Incremental

/** [[Segments.read]] plans an index table with the schema in one data
  * file's footer instead of inferring it. It must give what the
  * inferred read gives — the same schema, `seg` included, and the same
  * rows — for every table of the four index families, in every state
  * an index reaches: built, batch-appended, stream-appended (segment
  * ids `b<hex>_<n>`), compacted, and built empty; with int, long and
  * string ids. The probe edge cases of the folded df and centroid
  * literals are pinned here too. */
class IndexReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val idTypes = Seq("int", "long", "string")

  /** `n` documents from `from` on, ids of type `idType`. */
  private def docs(idType: String, from: Int, n: Int): DataFrame =
    spark.range(from, from + n, 1, 2).select(
      col("id").cast(idType).as("doc_id"),
      format_string("w%d v%d shared words of doc %d",
        col("id") % 7, col("id") % 5, col("id")).as("text"))

  /** `n` 8-dim vectors from `from` on, ids of type `idType`. */
  private def vecs(idType: String, from: Int, n: Int): DataFrame =
    spark.range(from, from + n, 1, 2).select(
      col("id").cast(idType).as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        j => sin((col("id") + 1) * (j + 1)).cast("float")).as("embedding"))

  /** Every table of the index at `idx` reads alike both ways. */
  private def readsAlike(idx: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val p = s"$idx/$t"
      val inferred = spark.read.parquet(p)
      val read = Segments.read(spark, p)
      assert(read.schema == inferred.schema,
        s"$p:\n${read.schema.treeString}\nvs inferred\n" +
          inferred.schema.treeString)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(read) == rows(inferred), p)
    }

  /** Appends `rows` through a streaming arm: one micro-batch per file. */
  private def streamIn(rows: DataFrame, prefix: String)(
      arm: (DataFrame, String) => org.apache.spark.sql.streaming
        .StreamingQuery): Unit = {
    val src = TestSpark.tmpDir(s"$prefix-src")
    rows.repartition(2).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    arm(stream, TestSpark.tmpDir(s"$prefix-ck")).awaitTermination()
  }

  /** Build, batch append, stream append, compact — checking every
    * table after each step — then an empty build. */
  private def lifecycle(tables: Seq[String], prefix: String,
      rows: (Int, Int) => DataFrame)(
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      arm: (DataFrame, String, String) => org.apache.spark.sql.streaming
        .StreamingQuery,
      compact: String => Unit): Unit = {
    val idx = TestSpark.tmpDir(prefix)
    build(rows(0, 60), idx)
    readsAlike(idx, tables)
    append(rows(60, 20), idx)
    readsAlike(idx, tables)
    streamIn(rows(80, 20), prefix)((s, ck) => arm(s, idx, ck))
    val segs = new java.io.File(s"$idx/${tables.head}").list()
      .filter(_.startsWith("seg=b")).toSeq
    assert(segs.exists(_.matches("seg=b[0-9a-f]+_1")), segs)
    readsAlike(idx, tables)
    compact(idx)
    readsAlike(idx, tables)
    val empty = TestSpark.tmpDir(s"$prefix-empty")
    build(rows(0, 0), empty)
    readsAlike(empty, tables)
  }

  for (t <- idTypes)
    test(s"BM25 index tables read alike through Segments.read ($t ids)") {
      lifecycle(Seq("postings", "df", "stats", "meta"), s"read-bm25-$t",
          docs(t, _, _))(
        Retrieval.writeBm25Index(_, _),
        Retrieval.appendToBm25Index(_, _),
        Incremental.bm25IndexAppendStream,
        Retrieval.compactBm25Index(spark, _))
    }

  for (t <- idTypes)
    test(s"IVF-PQ index tables read alike through Segments.read ($t ids)") {
      lifecycle(Seq("codes", "centroids", "codebook", "meta"),
          s"read-pq-$t", vecs(t, _, _))(
        Quantize.writePqIndex(_, _, nlist = 2, iters = 1, m = 4, k = 4),
        Quantize.appendToPqIndex(_, _),
        Incremental.annIndexAppendStream,
        Quantize.compactPqIndex(spark, _))
    }

  for (t <- idTypes)
    test(s"dense index tables read alike through Segments.read ($t ids)") {
      lifecycle(Seq("vectors", "meta"), s"read-dense-$t", docs(t, _, _))(
        Retrieval.writeDenseIndex(_, _, dims = 8),
        Retrieval.appendToDenseIndex(_, _),
        Incremental.denseIndexAppendStream,
        Retrieval.compactDenseIndex(spark, _))
    }

  for (t <- idTypes)
    test(s"LSH index tables read alike through Segments.read ($t ids)") {
      lifecycle(Seq("digests", "bands", "bucket_counts", "shingles", "meta"),
          s"read-lsh-$t", docs(t, _, _))(
        Dedup.writeLshIndex(_, _),
        Dedup.appendToLshIndex(_, _),
        Incremental.lshIndexAppendStream,
        Dedup.compactLshIndex(spark, _))
    }

  private lazy val bm25Idx: String = {
    val p = TestSpark.tmpDir("read-bm25-probe")
    Retrieval.writeBm25Index(docs("long", 0, 60), p)
    Retrieval.appendToBm25Index(docs("long", 60, 20), p)
    p
  }

  private def indexed(terms: Seq[String]): Seq[(Long, Long, Double)] =
    Retrieval.bm25TopKIndexed(spark, bm25Idx, terms, k = 100)
      .as[(Long, Long, Double)].collect().toSeq

  private def live(terms: Seq[String]): Seq[(Long, Long, Double)] =
    Retrieval.bm25TopK(docs("long", 0, 80), terms, k = 100)
      .as[(Long, Long, Double)].collect().toSeq

  test("an indexed BM25 probe ignores a query term the index lacks") {
    val got = indexed(Seq("w3", "nosuchterm", "v2"))
    assert(got.nonEmpty)
    assert(got == indexed(Seq("w3", "v2")))
    assert(got == live(Seq("w3", "nosuchterm", "v2")))
  }

  test("an indexed BM25 probe with no term in the index is empty and typed") {
    val probe = Retrieval.bm25TopKIndexed(spark, bm25Idx,
      Seq("nosuchterm", "norme"))
    assert(probe.isEmpty)
    assert(probe.schema ==
      Retrieval.bm25TopKIndexed(spark, bm25Idx, Seq("w3")).schema)
    assert(probe.schema.map(f => f.name -> f.dataType) == Seq(
      "doc_id" -> LongType, "n_terms_hit" -> LongType,
      "bm25" -> DoubleType))
  }

  test("duplicate query terms score like the live scorer") {
    val got = indexed(Seq("w3", "w3", "v2"))
    assert(got.nonEmpty)
    assert(got == live(Seq("w3", "w3", "v2")))
  }

  test("a probe of an empty IVF-PQ index returns no rows") {
    val idx = TestSpark.tmpDir("read-pq-empty-probe")
    Quantize.writePqIndex(vecs("long", 0, 0), idx, nlist = 2, iters = 1,
      m = 4, k = 4)
    val q = Array.tabulate(8)(j => math.sin(j + 1.0))
    val probe = Quantize.ivfPqTopKIndexed(spark, idx, q)
    assert(probe.isEmpty)
    assert(probe.schema.map(f => f.name -> f.dataType) == Seq(
      "vec_id" -> LongType, "adc_dist" -> DoubleType))
    assert(Quantize.pqTopKIndexed(spark, idx, q).isEmpty)
    val batch = Quantize.ivfPqKnnJoinIndexed(spark, idx,
      Seq((1L, q.toSeq)).toDF("q_id", "q_vec"))
    assert(batch.isEmpty)
    assert(batch.columns.toSeq == Seq("q_id", "vec_id", "adc_dist", "rank"))
  }
}
