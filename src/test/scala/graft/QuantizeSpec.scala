package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Quantize

class QuantizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hand-computed quantization: codes, scale, and errors") {
    val embs = Seq((1L, Array(1.0f, -0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val q = Quantize.int8Quantize(embs)
      .select("vec_id", "scale", "q")
      .as[(Long, Double, Seq[Byte])].head()
    assert(q._1 == 1L)
    assert(math.abs(q._2 - 1.0 / 127.0) < 1e-15)
    // round(-63.5) ties away from zero -> -64; round(31.75) -> 32
    assert(q._3 == Seq[Byte](127, -64, 32))

    val p = Quantize.int8Profile(embs)
      .as[(Long, Double, Double, Double)].head()
    // worst element is -0.5: |(-0.5) - (-64/127)| = 0.5/127
    assert(math.abs(p._3 - 0.5 / 127.0) < 1e-9)
  }

  test("reconstruction error is bounded by scale/2 on real vectors") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bad = Quantize.int8Profile(embs)
      .filter(col("max_abs_err") > col("scale") / 2 + lit(1e-9))
    assert(bad.isEmpty)
  }

  test("an all-zero vector quantizes to zeros with scale 0, no NaN") {
    val embs = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Quantize.int8Quantize(embs)
      .select("scale", "q").as[(Double, Seq[Byte])].head()
    assert(q._1 == 0.0 && q._2 == Seq[Byte](0, 0))
    val p = Quantize.int8Profile(embs)
      .as[(Long, Double, Double, Double)].head()
    assert(p._2 == 0.0 && p._3 == 0.0 && p._4 == 0.0)
  }

  test("metadata columns pass through int8Quantize") {
    val embs = Seq((1L, Array(1.0f), "news"))
      .toDF("vec_id", "embedding", "label")
    val cols = Quantize.int8Quantize(embs).columns.toSet
    assert(cols == Set("vec_id", "label", "scale", "q"))
  }

  test("dequantize round-trips the quantized codes exactly") {
    val embs = Seq((1L, Array(1.0f, -0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val dv = Quantize.int8Dequantize(embs)
      .select("dv").as[Seq[Double]].head()
    val s = 1.0 / 127.0
    assert(dv == Seq(127 * s, -64 * s, 32 * s))
  }

  test("quantized ANN keeps most of the float top-10 on real vectors") {
    import graft.llm.Similarity
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val fq = embs.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
    val floatTop = Similarity.bruteForceTopK(embs, fq, k = 10,
      excludeId = 0L).select("vec_id").as[Long].collect().toSet
    val dq = Quantize.int8Dequantize(embs)
    val qq = dq.filter(col("vec_id") === 0).select(col("dv").as("q_vec"))
    val quantTop = dq.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qq))
      .select(col("vec_id"),
        Similarity.cosine(col("dv"), col("q_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    assert((floatTop intersect quantTop).size >= 7,
      s"float $floatTop vs quantized $quantTop")
  }

  test("PQ codes: hand case, codebook self-encoding, bounds") {
    // 4-dim, m=2 subspaces of 2, k=2 codebook = vectors 0 and 1
    val embs = Seq(
      (0L, Array(0.0f, 0.0f, 1.0f, 1.0f)),   // codebook entry 0
      (1L, Array(1.0f, 1.0f, 0.0f, 0.0f)),   // codebook entry 1
      (2L, Array(0.1f, 0.1f, 0.9f, 0.9f)),   // near entry 0 in both
      (3L, Array(0.9f, 0.9f, 0.9f, 0.9f)))   // sub0→1, sub1→0
      .toDF("vec_id", "embedding")
    val got = Quantize.pqCodes(embs, m = 2, k = 2)
      .orderBy("vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    assert(got == Seq(
      (0L, Seq(0, 0)), (1L, Seq(1, 1)), (2L, Seq(0, 0)), (3L, Seq(1, 0))))

    // real vectors: every code in [0, k), length m
    val real = Quantize.pqCodes(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), m = 8, k = 16)
      .as[(Long, Seq[Int])].collect()
    assert(real.forall(_._2.length == 8))
    assert(real.forall(_._2.forall(c => c >= 0 && c < 16)))
  }

  test("PQ ADC top-k retrieves a planted exact duplicate of the query") {
    val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qRow = base.filter($"vec_id" === 42L)
      .as[(Long, Seq[Float])].head()
    // plant an exact duplicate of vector 42 under a fresh id
    val planted = base.unionByName(
      Seq((999999L, qRow._2.toArray)).toDF("vec_id", "embedding"))
    val qVec = qRow._2.map(_.toDouble).toArray
    val top = Quantize.pqTopK(planted, qVec, topK = 5)
      .as[(Long, Double)].collect().toSeq
    // 42 and its duplicate share codes → identical ADC distance; both
    // must appear, ranked by id among equals
    val ids = top.map(_._1)
    assert(ids.contains(42L) && ids.contains(999999L), s"got $top")
    assert(top.map(_._2).sorted == top.map(_._2),
      "ADC distances must be ascending")
  }

  test("IVF-PQ with nprobe = nlist degrades to exact PQ ADC search") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qVec = embs.filter($"vec_id" === 42L)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].head()._2.map(_.toDouble).toArray
    // probing every list removes the IVF pruning entirely, so the
    // result must be pqTopK's ranking minus the excluded query row
    val full = Quantize.pqTopK(embs, qVec, topK = 11)
      .as[(Long, Double)].collect().toSeq
      .filter(_._1 != 42L).take(10)
    val ivf = Quantize.ivfPqTopK(embs, qVec, topK = 10, nlist = 4,
      iters = 2, nprobe = 4, excludeId = 42L)
      .as[(Long, Double)].collect().toSeq
    assert(ivf == full, s"ivf=$ivf\nfull=$full")
  }

  test("IVF-PQ finds a planted duplicate through the probe pruning") {
    val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qRow = base.filter($"vec_id" === 42L)
      .as[(Long, Seq[Float])].head()
    val planted = base.unionByName(
      Seq((999999L, qRow._2.toArray)).toDF("vec_id", "embedding"))
    val qVec = qRow._2.map(_.toDouble).toArray
    // the duplicate assigns to the query's own nearest list, which is
    // always probe rank 1 — so nprobe=2 of 4 lists must still find it
    val top = Quantize.ivfPqTopK(planted, qVec, topK = 5, nlist = 4,
      iters = 2, nprobe = 2, excludeId = 42L)
      .as[(Long, Double)].collect().toSeq
    assert(top.map(_._1).contains(999999L), s"got $top")
    assert(top.map(_._2).sorted == top.map(_._2),
      "ADC distances must be ascending")
  }

  test("persisted PQ index: indexed probe ≡ live composed call") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qVec = embs.filter($"vec_id" === 7L)
      .select("embedding")
      .as[Seq[Float]].head().map(_.toDouble).toArray
    val path = java.nio.file.Files
      .createTempDirectory("pq_index").toString
    assert(!Quantize.pqIndexExists(spark, path), "no index yet")
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    assert(Quantize.pqIndexExists(spark, path), "index is valid after build")
    // IVF-PQ: indexed probe must be bit-equal to the live composed
    // call (same training, same codes, same ADC arithmetic)
    val live = Quantize.ivfPqTopK(embs, qVec, topK = 10, nlist = 4,
      iters = 2, nprobe = 2, m = 8, k = 16, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq
    val indexed = Quantize.ivfPqTopKIndexed(spark, path, qVec,
      topK = 10, nprobe = 2, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq
    assert(indexed == live, s"indexed=$indexed\nlive=$live")
    // plain PQ ADC over the same index's code table ≡ live pqTopK
    val liveAdc = Quantize.pqTopK(embs, qVec, topK = 10, m = 8, k = 16)
      .as[(Long, Double)].collect().toSeq
    val indexedAdc = Quantize.pqTopKIndexed(spark, path, qVec, topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(indexedAdc == liveAdc, s"indexed=$indexedAdc\nlive=$liveAdc")
  }

  test("indexed IVF-PQ probe finds a planted duplicate; plan reads no floats") {
    val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qRow = base.filter($"vec_id" === 42L)
      .as[(Long, Seq[Float])].head()
    val planted = base.unionByName(
      Seq((999999L, qRow._2.toArray)).toDF("vec_id", "embedding"))
    val qVec = qRow._2.map(_.toDouble).toArray
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_planted").toString
    Quantize.writePqIndex(planted, path, nlist = 4, iters = 2,
      m = 8, k = 16)
    val probe = Quantize.ivfPqTopKIndexed(spark, path, qVec,
      topK = 5, nprobe = 2, excludeId = 42L)
    val top = probe.as[(Long, Double)].collect().toSeq
    assert(top.map(_._1).contains(999999L), s"got $top")
    // serving-cost contract: the probe plan scans codes/centroids/
    // codebook only — the float embedding table never appears
    val scanned = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.mkString(",")
    }.mkString("\n")
    assert(!scanned.contains("embeddings"), s"float table scanned:\n$scanned")
    assert(scanned.contains("codes"), s"code table not scanned:\n$scanned")
  }

  test("appended index compacts without changing probe results") {
    // operational story: many small appends fragment the code table
    // into tiny files; compactPqIndex consolidates it and the probe
    // is unchanged
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qVec = embs.filter($"vec_id" === 7L)
      .select("embedding").as[Seq[Float]].head().map(_.toDouble).toArray
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_compact").toString
    Quantize.writePqIndex(embs.filter($"vec_id" % 2 === 0), path,
      nlist = 4, iters = 2, m = 8, k = 16)
    // five small appends → five extra segments of the codes table
    for (r <- 1 to 9 by 2)
      Quantize.appendToPqIndex(embs.filter($"vec_id" % 10 === r), path,
        segId = s"seg$r")
    val before = Quantize.ivfPqTopKIndexed(spark, path, qVec,
      topK = 10, nprobe = 2, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq
    val nCodes = spark.read.parquet(s"$path/codes").count()
    // REPLAY idempotency: re-running an append with the same segment
    // id overwrites its own segment — same rows, same probe, no
    // duplicate ids in top-k
    Quantize.appendToPqIndex(embs.filter($"vec_id" % 10 === 3), path,
      segId = "seg3")
    assert(spark.read.parquet(s"$path/codes").count() == nCodes,
      "replayed append duplicated code rows")
    assert(Quantize.ivfPqTopKIndexed(spark, path, qVec,
      topK = 10, nprobe = 2, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq == before)
    def codeFiles() = spark.read.parquet(s"$path/codes").inputFiles.length
    val fragFiles = codeFiles()
    assert(fragFiles >= 6, s"appends should fragment: $fragFiles files")
    Quantize.compactPqIndex(spark, path, targetFiles = 2)
    assert(codeFiles() <= 2)
    assert(spark.read.parquet(s"$path/codes").count() == nCodes)
    val after = Quantize.ivfPqTopKIndexed(spark, path, qVec,
      topK = 10, nprobe = 2, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq
    assert(after == before, s"after=$after\nbefore=$before")
  }

  test("indexed batch k-NN join ≡ the single-query indexed probe, per query") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_knn").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    val qids = Seq(1L, 3L, 5L, 7L, 9L)
    // the query batch enters as literals so the plan audit below can
    // show the OPERATOR reads no float table (a real caller's query
    // scan is its own bounded nq-row read)
    val queries = embs.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      .as[(Long, Seq[Float])].collect().toSeq.toDF("q_id", "q_vec")
    val batch = Quantize
      .ivfPqKnnJoinIndexed(spark, path, queries, k = 5, nprobe = 2)
      .select("q_id", "vec_id", "adc_dist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- qids) {
      val qv = embs.filter($"vec_id" === qid)
        .select("embedding").as[Seq[Float]].head().map(_.toDouble).toArray
      val single = Quantize.ivfPqTopKIndexed(spark, path, qv,
        topK = 5, nprobe = 2, excludeId = qid)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single,
        s"q=$qid batch=${batch(qid)}\nsingle=$single")
    }
    // the batch plan never reads the float corpus — serving cost is
    // codes + centroids + codebook only
    val scanned = Quantize
      .ivfPqKnnJoinIndexed(spark, path, queries, k = 5, nprobe = 2)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.mkString(",")
      }.mkString("\n")
    assert(!scanned.contains("embeddings"), s"float table scanned:\n$scanned")
  }

  test("exact re-rank with all lists probed ≡ exact squared-L2 top-k") {
    // with nprobe = nlist there is no probe-pruning loss, and a
    // shortlist big enough to contain the true top-10 makes the
    // refine output EXACTLY the float-space answer — quantization
    // error is fully removed
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_rerank").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    val qv = embs.filter($"vec_id" === 7L)
      .select("embedding").as[Seq[Float]].head().map(_.toDouble).toArray
    // shortlist ≥ corpus: the refine stage sees every probed row, so
    // containment of the true top-10 is guaranteed, not probabilistic
    val got = Quantize.ivfPqTopKReranked(spark, path, embs, qv,
        topK = 10, nprobe = 4, shortlist = 100000, excludeId = 7L)
      .as[(Long, Double)].collect().toSeq
    val exact = embs.filter($"vec_id" =!= 7L)
      .select($"vec_id",
        round(aggregate(
          zip_with(transform($"embedding", x => x.cast("double")),
            typedlit(qv.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, e) => a + e), 4).as("d"))
      .orderBy($"d", $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(got == exact, s"got=$got\nexact=$exact")

    // the exact stage reads ONLY the shortlist ids: the id IN filter
    // reaches the parquet scan (row-group pruning at scale)
    val plan = Quantize.ivfPqTopKReranked(spark, path, embs, qv,
        topK = 5, nprobe = 2, shortlist = 20, excludeId = 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(vec_id"), plan)
  }

  test("re-rank puts a planted float duplicate at rank 1 with distance 0") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qv = embs.filter($"vec_id" === 7L)
      .select("embedding").as[Seq[Float]].head()
    val planted = embs.unionByName(
      Seq((777777L, qv)).toDF("vec_id", "embedding"))
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_rerank_dup").toString
    Quantize.writePqIndex(planted, path, nlist = 4, iters = 2,
      m = 8, k = 16)
    val top = Quantize.ivfPqTopKReranked(spark, path, planted,
        qv.map(_.toDouble).toArray, topK = 5, nprobe = 2,
        shortlist = 20, excludeId = 7L)
      .as[(Long, Double)].collect()
    assert(top.head == ((777777L, 0.0)), s"head=${top.head.toString}")
  }

  test("batch re-rank ≡ the single-query re-rank, per query") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_rerank_batch").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    val qids = Seq(1L, 3L, 5L, 7L, 9L)
    val queries = embs.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val batch = Quantize
      .ivfPqKnnJoinIndexedReranked(spark, path, embs, queries,
        k = 5, nprobe = 2, shortlistFactor = 4)
      .select("q_id", "vec_id", "exact_dist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq.sortBy(p => (p._2, p._1)))
      .toMap
    for (qid <- qids) {
      val qv = embs.filter($"vec_id" === qid)
        .select("embedding").as[Seq[Float]].head().map(_.toDouble).toArray
      val single = Quantize.ivfPqTopKReranked(spark, path, embs, qv,
          topK = 5, nprobe = 2, shortlist = 20, excludeId = qid)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single,
        s"q=$qid batch=${batch(qid)}\nsingle=$single")
    }
  }

  test("wrong-dimension vectors raise loudly instead of null-padding") {
    // live path: a ragged corpus row must raise, not slip a
    // null-padded sqDist into the codes (zip_with pads mismatches)
    val ragged = Seq(
      (1L, Array.fill(16)(1.0f)),
      (2L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val q16 = Array.fill(16)(0.5)
    val e1 = intercept[Exception] {
      Quantize.pqTopK(ragged, q16, topK = 2, m = 8, k = 2).collect()
    }
    assert(e1.getMessage.contains("dim"), e1.getMessage)

    // append path: a wrong-dimension batch must raise, not poison the
    // persisted codes for every future probe
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_dimguard").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    val bad = Seq((999999L, Array.fill(32)(1.0f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Quantize.appendToPqIndex(bad, path)
    }
    assert(e2.getMessage.contains("dim"), e2.getMessage)
  }

  test("wrong-dimension RERANK table raises instead of null-ranking") {
    // zip_with null-pads a wrong-dimension float table → exact_dist
    // null → ASC NULLS FIRST would serve arbitrary ids at rank 1; the
    // dim gate must raise instead (ADVICE r15), in BOTH rerank forms
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_rerank_dimguard").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    val qv = embs.filter($"vec_id" === 7L)
      .select("embedding").as[Seq[Float]].head().map(_.toDouble).toArray
    // a "rerank table" whose vectors are truncated to half width —
    // same ids, wrong dim (the CLI --rerank EMB misuse path)
    val truncated = embs.select($"vec_id",
      slice($"embedding", 1, 32).as("embedding"))
    val e1 = intercept[Exception] {
      Quantize.ivfPqTopKReranked(spark, path, truncated, qv,
        topK = 5, nprobe = 4, shortlist = 20).collect()
    }
    assert(e1.getMessage.contains("dim"), e1.getMessage)
    val queries = embs.filter($"vec_id" === 7L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val e2 = intercept[Exception] {
      Quantize.ivfPqKnnJoinIndexedReranked(spark, path, truncated,
        queries, k = 5, nprobe = 4).collect()
    }
    assert(e2.getMessage.contains("dim"), e2.getMessage)
  }

  test("serving-path contract: the indexed tier trains nothing in-query") {
    // Similarity.ivfKnnJoin is the ad-hoc tier (trains Lloyd per
    // invocation); the SERVING tier is ivfPqKnnJoinIndexed(+Reranked)
    // — everything it ranks with must come from the STORED index, so
    // a probe's plan scans only index files, never the corpus floats,
    // and repeated probes against an immutable index are bit-stable.
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_serving_contract").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    // literal queries: the ONLY file scans left in the plan are the
    // index's own tables
    val queries = embs.filter($"vec_id".isin(1L, 2L))
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      .as[(Long, Seq[Float])].collect().toSeq
      .toDF("q_id", "q_vec")
    val joined = Quantize.ivfPqKnnJoinIndexed(spark, path, queries, k = 5)
    val scanned = joined.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.mkString(",")
      }.mkString("\n")
    // every file scan in the probe plan is an index table
    assert(scanned.linesIterator.forall(_.contains(path)),
      s"non-index scan in serving-tier plan:\n$scanned")
    val a = joined.collect().map(_.toString).sorted.toSeq
    val b = Quantize.ivfPqKnnJoinIndexed(spark, path, queries, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "serving-tier probe must be deterministic")
  }

  test("wrong-dimension query is rejected by the stored index dim") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_dim").toString
    Quantize.writePqIndex(embs, path, nlist = 4, iters = 2, m = 8, k = 16)
    // 32 is divisible by m=8, so only the stored dim (64) catches it
    val e = intercept[IllegalArgumentException] {
      Quantize.pqTopKIndexed(spark, path, Array.fill(32)(0.1), topK = 5)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
  }

  test("a half-built or stale-format PQ index reads as absent") {
    val path = java.nio.file.Files
      .createTempDirectory("pq_index_stale").toString
    // no meta at all
    assert(!Quantize.pqIndexExists(spark, path))
    // meta present but wrong format version → rebuilt, not mis-read
    spark.range(1).select(
        lit(Quantize.PqIndexFormat + 1).as("format"),
        lit(4).as("nlist"), lit(2).as("iters"),
        lit(8).as("m"), lit(16).as("k"))
      .write.mode("overwrite").parquet(s"$path/meta")
    assert(!Quantize.pqIndexExists(spark, path))
  }

  test("quantization plan is shuffle-free") {
    val embs = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = Quantize.int8Profile(embs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("jlSign is a deterministic ±1 function") {
    val s = Quantize.jlSign(3, 7)
    assert(s == 1.0 || s == -1.0)
    assert(Quantize.jlSign(3, 7) == s, "pure function")
    // the matrix is not degenerate: both signs occur
    val signs = for (j <- 0 until 16; i <- 0 until 64)
      yield Quantize.jlSign(j, i)
    assert(signs.count(_ == 1.0) > 200 && signs.count(_ == -1.0) > 200,
      s"balanced-ish matrix: ${signs.count(_ == 1.0)} positive of 1024")
  }

  test("jlProject: identical vectors stay identical; norms are JL-preserved") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val proj = Quantize.jlProject(emb, 64, 16).cache()
    assert(proj.count() == 500)
    // a planted duplicate projects to the identical vector (the
    // projection is a pure function of the input)
    val dup = emb.filter($"vec_id" === 7L)
      .withColumn("vec_id", lit(888888L)).unionByName(emb)
    val pd = Quantize.jlProject(dup, 64, 16)
      .filter($"vec_id".isin(7L, 888888L))
      .select("jl_vec").as[Seq[Double]].collect()
    assert(pd.length == 2 && pd(0) == pd(1), "duplicate projects identically")
    // norm preservation on the real fixture: mean ratio near 1, no
    // catastrophic collapse (JL distortion at 16 dims is wide per
    // vector but tight in aggregate)
    val ratios = proj.join(emb, "vec_id")
      .select(
        (aggregate($"jl_vec", lit(0.0), (a, x) => a + x * x) /
         aggregate(transform($"embedding", _.cast("double")),
           lit(0.0), (a, x) => a + x * x)).as("r"))
      .as[Double].collect()
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2, s"mean norm ratio ≈ 1: $mean")
    // JL guarantees are distributional at 16 dims (χ²₁₆/16 per-vector
    // tails are wide): every ratio positive, the bulk near 1
    assert(ratios.forall(_ > 0.0), "no exact collapse")
    val bulk = ratios.count(r => r > 0.4 && r < 2.5)
    assert(bulk > ratios.length / 2,
      s"most vectors preserved: $bulk of ${ratios.length}")
  }

  test("jlProject: wrong-dimension rows surface as null, not truncation") {
    val mixed = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(32)(1.0f))).toDF("vec_id", "embedding")
    val got = Quantize.jlProject(mixed, 64, 16)
      .orderBy("vec_id").select("jl_vec").collect()
    assert(got(0).get(0) != null && got(1).get(0) == null)
  }
}
