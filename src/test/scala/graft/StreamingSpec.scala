package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots
import graft.streaming.{Incremental, StreamQueries}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AvailableNow drain: incremental exactly-once appends (ST1/ST4)") {
    val root = TestSpark.tmpDir("stream")
    val src = s"$root/src"; val dest = s"$root/dest"; val cp = s"$root/cp"
    Files.createDirectories(Paths.get(src))
    val schema = "id LONG, v STRING"

    def put(name: String, lines: String*): Unit =
      Files.writeString(Paths.get(s"$src/$name"), lines.mkString("\n"))

    put("batch1.json", """{"id": 1, "v": "a"}""", """{"id": 2, "v": "b"}""")
    val q1 = Incremental.drainJsonToParquet(
      spark, src, org.apache.spark.sql.types.StructType.fromDDL(schema),
      dest, cp)
    q1.awaitTermination()
    assert(spark.read.parquet(dest).count() == 2)

    // second drain sees ONLY the new file (checkpoint-tracked)
    put("batch2.json", """{"id": 3, "v": "c"}""")
    val q2 = Incremental.drainJsonToParquet(
      spark, src, org.apache.spark.sql.types.StructType.fromDDL(schema),
      dest, cp)
    q2.awaitTermination()
    val after = spark.read.parquet(dest)
    assert(after.count() == 3) // no re-append of batch1
    assert(after.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("streaming windowed counts match the batch query (watermark path)") {
    val eventsDir = TestSpark.tmpDir("events-src")
    Tables.events(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(eventsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
    val q = Incremental.windowedCounts(stream, "hourly_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly_test")
      .orderBy("hour_start", "event_type")
      .as[(String, String, Long)].collect().toSeq
    val batch = StreamQueries.hourlyCounts(
      Tables.events(spark, TestSpark.sf0001))
      .orderBy("hour_start", "event_type")
      .as[(String, String, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("complete-mode streaming heavy users match the batch query") {
    val eventsDir = TestSpark.tmpDir("events-hh-src")
    Tables.events(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(eventsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
    val q = StreamQueries.heavyUsers(stream, 50L)
      .writeStream
      .outputMode("complete") // global agg: full state emitted per trigger
      .format("memory")
      .queryName("hh_stream_test")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hh_stream_test")
      .orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    val batch = StreamQueries
      .heavyUsers(Tables.events(spark, TestSpark.sf0001), 50L)
      .orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("maxFilesPerTrigger bounds micro-batches while draining fully") {
    val root = TestSpark.tmpDir("ratelimit")
    val src = s"$root/src"; val dest = s"$root/dest"; val cp = s"$root/cp"
    Files.createDirectories(Paths.get(src))
    for (i <- 0 until 6)
      Files.writeString(Paths.get(s"$src/f$i.json"), s"""{"id": $i}""")
    val q = Incremental.drainJsonToParquet(
      spark, src, org.apache.spark.sql.types.StructType.fromDDL("id LONG"),
      dest, cp, maxFilesPerTrigger = Some(2))
    q.awaitTermination()
    assert(spark.read.parquet(dest).count() == 6) // everything drained
    // 6 files at 2/batch → 3 batches, not one monolith
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("streaming drift log matches per-batch frozen-reference drift") {
    import graft.llm.Drift
    val srcDir = TestSpark.tmpDir("drift-src")
    val destDir = TestSpark.tmpDir("drift-log")
    val ckDir = TestSpark.tmpDir("drift-ck")
    val fileA = Seq((1L, "alpha beta beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    val fileB = Seq((3L, "delta delta"), (4L, "beta"))
      .toDF("doc_id", "text")
    // reference = the whole corpus → vocab {alpha,beta,delta,gamma},
    // so each batch has a distinct in-vocab count (5 vs 3) and the
    // row↔file matching below is unambiguous
    val ref = fileA.union(fileB)
    fileA.repartition(1).write.mode("append").parquet(srcDir)
    fileB.repartition(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = Incremental.driftStream(
      stream, ref, destDir, ckDir, vocabSize = 100)
    q.awaitTermination()

    val got = spark.read.parquet(destDir)
      .select("n_vocab", "tokens_batch", "js_divergence",
        "top_drift_token", "top_drift_abs")
      .as[(Long, Long, Double, String, Double)].collect()
    assert(got.length == 2, "one drift row per micro-batch")
    // file→batch order is the source's, so match rows by their
    // distinct in-vocab token counts rather than by batch id
    val refVocab = Drift.referenceVocab(ref, vocabSize = 100)
    val expected = Seq(fileA, fileB).map(f =>
      Drift.driftAgainstFrozen(f, refVocab)
        .as[(Long, Long, Double, String, Double)].head())
    assert(got.map(_._2).toSet == expected.map(_._2).toSet)
    expected.foreach { e =>
      val g = got.find(_._2 == e._2).get
      assert(g._1 == e._1, "n_vocab")
      assert(math.abs(g._3 - e._3) < 1e-9, "js_divergence")
      assert(g._4 == e._4, "top_drift_token")
      assert(math.abs(g._5 - e._5) < 1e-9, "top_drift_abs")
    }
  }

  test("streaming quantile-sketch log answers range queries over batches") {
    import graft.operators.QuantileSketches
    val srcDir = TestSpark.tmpDir("kll-src")
    val destDir = TestSpark.tmpDir("kll-log")
    val ckDir = TestSpark.tmpDir("kll-ck")
    // two batches with disjoint value ranges so the merged answer is
    // checkable: batch A = 1..100, batch B = 1001..1100
    (1 to 100).map(_.toDouble).toDF("value")
      .repartition(1).write.mode("append").parquet(srcDir)
    (1001 to 1100).map(_.toDouble).toDF("value")
      .repartition(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = graft.streaming.Incremental.quantileSketchStream(
      stream, "value", destDir, ckDir)
    q.awaitTermination()

    val log = spark.read.parquet(destDir)
    assert(log.count() == 2, "one sketch row per micro-batch")
    // merged over BOTH batches: n=200, max=1100, median on the
    // batch boundary (small n → sketch exact)
    val all = QuantileSketches.rangeQuantilesFromTable(
        spark, destDir, lit(true), Seq(0.5, 1.0))
      .as[(Double, Double)].collect().toMap
    assert(all(1.0) == 1100.0)
    assert(all(0.5) == 100.0 || all(0.5) == 1001.0,
      s"median must sit on the batch boundary: ${all(0.5)}")
    // single-batch range query: only batch A's sketch participates
    // partition-discovered batch_id infers as int — read numerically
    val firstBatch = log.agg(min("batch_id")).head()
      .getAs[Number](0).longValue()
    val a = QuantileSketches.rangeQuantilesFromTable(
        spark, destDir, col("batch_id") === firstBatch, Seq(1.0))
      .as[(Double, Double)].head()
    assert(a._2 == 100.0)
  }

  test("stream-static model scoring matches the frozen batch scorer") {
    val docsDir = TestSpark.tmpDir("docs-score-src")
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .parquet(docsDir)
    val train = Tables.documents(spark, TestSpark.sf0001)
    val q = Incremental.scoreStream(stream, train, "score_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("score_stream_test")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.llm.LanguageModel.scoreUnigram(train)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed.keySet == batch.keySet)
    assert(streamed.nonEmpty)
    streamed.foreach { case (id, (n, s)) =>
      assert(n == batch(id)._1, s"doc $id token count")
      assert(math.abs(s - batch(id)._2) < 1e-9, s"doc $id score")
    }
  }

  test("streaming temperature sampler matches the frozen batch recipe") {
    val docsDir = TestSpark.tmpDir("docs-sample-src")
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
    val reference = Tables.documents(spark, TestSpark.sf0001)
    val q = Incremental.sampleStream(stream, reference, 900L,
      "sample_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sample_stream_test")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.llm.Sampling.temperatureSample(reference, 900L)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream kept ${streamed.size}, batch kept ${batch.size}")
  }

  test("streaming DSIR filter matches the frozen batch scorer") {
    val docsDir = TestSpark.tmpDir("docs-dsir-src")
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
    val ref = Tables.documents(spark, TestSpark.sf0001)
    val target = ref.filter(col("lang") === "en")
    // threshold at the batch median so the filter genuinely splits
    // the corpus in this test, whatever the fixture's score scale
    val scores = graft.llm.Importance
      .frozenScorer(ref, target, -1e9)(ref)
      .select("avg_log_ratio").as[Double].collect().sorted
    val thr = scores(scores.length / 2)
    val q = Incremental.dsirStream(stream, ref, target, thr,
      "dsir_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_stream_test")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.llm.Importance.frozenScorer(ref, target, thr)(ref)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed.nonEmpty && streamed.size < 500,
      s"the median threshold splits the corpus: ${streamed.size}")
    assert(streamed == batch,
      s"stream kept ${streamed.size}, batch kept ${batch.size}")
  }

  test("streaming Gopher filter matches the batch rule set") {
    val docsDir = TestSpark.tmpDir("docs-gopher-src")
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
    // stopword floor 1: the synthetic vocabulary carries only 'the'
    // of the canonical eight (same setting as the oracle rows)
    val q = Incremental.gopherStream(stream, "gopher_stream_test",
      minWords = 30, minStopwords = 1)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gopher_stream_test")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.llm.TextAnalysis
      .gopherKeep(Tables.documents(spark, TestSpark.sf0001),
        minWords = 30, minStopwords = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed.nonEmpty && streamed.size < 500,
      s"the 30-word floor splits the fixture: ${streamed.size}")
    assert(streamed == batch,
      s"stream kept ${streamed.size}, batch kept ${batch.size}")
  }

  test("streaming cluster router matches the frozen batch assignment") {
    val vecsDir = TestSpark.tmpDir("vecs-route-src")
    Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(vecsDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(vecsDir).schema)
      .parquet(vecsDir)
    val reference = Tables.embeddings(spark, TestSpark.sf0001)
    val q = Incremental.routeStream(stream, reference,
      "route_stream_test", k = 4, iters = 2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("route_stream_test")
      .select("vec_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    val batch = graft.llm.Similarity
      .kmeansAssign(reference, k = 4, iters = 2)
      .select("vec_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streamed ANN index appends match the batch append, probe-for-probe") {
    import graft.llm.Quantize
    val embs = Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
    val base = embs.filter($"vec_id" % 2 === 0)
    val incoming = embs.filter($"vec_id" % 2 === 1)
    val qVec = embs.filter($"vec_id" === 7L)
      .select("embedding")
      .as[Seq[Float]].head().map(_.toDouble).toArray

    // batch-appended index
    val batchIdx = TestSpark.tmpDir("ann-append-batch")
    Quantize.writePqIndex(base, batchIdx, nlist = 4, iters = 2,
      m = 8, k = 16)
    Quantize.appendToPqIndex(incoming, batchIdx)

    // stream-appended index: the incoming half arrives as files and
    // flows through annIndexAppendStream micro-batches
    val streamIdx = TestSpark.tmpDir("ann-append-stream")
    Quantize.writePqIndex(base, streamIdx, nlist = 4, iters = 2,
      m = 8, k = 16)
    val srcDir = TestSpark.tmpDir("ann-append-src")
    incoming.repartition(3) // several files → several batch appends
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = Incremental.annIndexAppendStream(
      stream, streamIdx, TestSpark.tmpDir("ann-append-ck"))
    q.awaitTermination()

    def probe(path: String) =
      Quantize.ivfPqTopKIndexed(spark, path, qVec, topK = 10,
        nprobe = 2, excludeId = 7L)
        .as[(Long, Double)].collect().toSeq
    val viaBatch = probe(batchIdx)
    val viaStream = probe(streamIdx)
    assert(viaStream == viaBatch, s"stream=$viaStream\nbatch=$viaBatch")
    // appended rows are first-class searchable: odd ids CAN rank
    assert(viaBatch.exists(_._1 % 2 == 1),
      s"no appended vector in the top-10: $viaBatch")
    // and the appended code table is the union, not a rebuild
    val n = spark.read.parquet(s"$streamIdx/codes").count()
    assert(n == embs.count(), s"codes rows $n")
  }

  test("streamed BM25 index appends match the batch append, probe-for-probe") {
    import graft.llm.Retrieval
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val base = corpus.filter($"doc_id" % 2 === 0)
    val late = corpus.filter($"doc_id" % 2 === 1)
    val terms = Seq("hash", "merge", "scan")

    val batchIdx = TestSpark.tmpDir("bm25-append-batch")
    Retrieval.writeBm25Index(base, batchIdx)
    Retrieval.appendToBm25Index(late, batchIdx)

    val streamIdx = TestSpark.tmpDir("bm25-append-stream")
    Retrieval.writeBm25Index(base, streamIdx)
    val srcDir = TestSpark.tmpDir("bm25-append-src")
    late.repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = Incremental.bm25IndexAppendStream(
      stream, streamIdx, TestSpark.tmpDir("bm25-append-ck"))
    q.awaitTermination()

    def probe(p: String) =
      Retrieval.bm25TopKIndexed(spark, p, terms, k = 15)
        .as[(Long, Long, Double)].collect().toSeq
    val viaBatch = probe(batchIdx)
    val viaStream = probe(streamIdx)
    assert(viaStream == viaBatch, s"stream=$viaStream\nbatch=$viaBatch")
    // and both equal LIVE scoring over the grown corpus — the
    // associativity contract, end to end through the stream
    val live = Retrieval.bm25TopK(corpus, terms, k = 15)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaStream == live, s"stream=$viaStream\nlive=$live")
  }

  test("upgrade replay: a legacy-id segment sibling is dropped, not duplicated") {
    import graft.llm.Retrieval
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val base = corpus.filter($"doc_id" % 2 === 0)
    val late = corpus.filter($"doc_id" % 2 === 1)
    val idx = TestSpark.tmpDir("bm25-legacy")
    Retrieval.writeBm25Index(base, idx)
    val ck = TestSpark.tmpDir("bm25-legacy-ck")
    // simulate the r15-era crash: batch 0's sink work landed under
    // the OLD String.hashCode segment id, the checkpoint never
    // committed (ADVICE r16 migration hazard)
    val legacy = s"b${Integer.toHexString(ck.hashCode)}_0"
    Retrieval.appendToBm25Index(late, idx, segId = legacy)
    // resume under the SHA-256 scheme: the replayed batch 0 must
    // SUPERSEDE the legacy segment, not land beside it
    val srcDir = TestSpark.tmpDir("bm25-legacy-src")
    late.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    Incremental.bm25IndexAppendStream(stream, idx, ck).awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$idx/*/seg=$legacy")))
      .map(_.toSeq).getOrElse(Seq.empty)
    assert(leftover.isEmpty,
      s"legacy segment survived beside the new one: $leftover")
    // and probes match LIVE scoring over the grown corpus — the
    // duplicated-postings double-count never happens
    val terms = Seq("hash", "merge", "scan")
    val viaStream = Retrieval.bm25TopKIndexed(spark, idx, terms, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val live = Retrieval.bm25TopK(corpus, terms, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaStream == live, s"stream=$viaStream\nlive=$live")
  }

  test("streamed LSH index appends match the batch append, probe-for-probe") {
    import graft.llm.Dedup
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val baseRef = docs.filter($"doc_id" % 4 === 0)
    val lateRef = docs.filter($"doc_id" % 4 === 2)
    val incoming = docs.filter($"doc_id" % 2 === 1)

    val batchIdx = TestSpark.tmpDir("lsh-append-batch")
    Dedup.writeLshIndex(baseRef, batchIdx)
    Dedup.appendToLshIndex(lateRef, batchIdx)

    val streamIdx = TestSpark.tmpDir("lsh-append-stream")
    Dedup.writeLshIndex(baseRef, streamIdx)
    val srcDir = TestSpark.tmpDir("lsh-append-src")
    lateRef.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = Incremental.lshIndexAppendStream(
      stream, streamIdx, TestSpark.tmpDir("lsh-append-ck"))
    q.awaitTermination()

    def audit(p: String) =
      Dedup.incrementalDedupIndexedWithAudit(incoming, p)._2
        .head().toString
    assert(audit(streamIdx) == audit(batchIdx))
    // the summed bucket counts agree (the stream split the late half
    // into 3 segments, the batch into 1 — the aggregate is the
    // semantic content the probe consumes)
    def counts(p: String) = spark.read.parquet(s"$p/bucket_counts")
      .groupBy("band", "band_hash").agg(sum($"n").as("n"))
    val diff = counts(streamIdx).exceptAll(counts(batchIdx)).count()
    assert(diff == 0, s"bucket_counts differ in $diff rows")
  }

  test("streamed dense-tower appends match the batch append, probe-for-probe") {
    import graft.llm.Retrieval
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val base = docs.filter($"doc_id" % 2 === 0)
    val late = docs.filter($"doc_id" % 2 === 1)
    val bm25Idx = TestSpark.tmpDir("dense-append-bm25")
    Retrieval.writeBm25Index(docs, bm25Idx)
    val qs = Seq((0, "hash join merge")).toDF("query_id", "query_text")

    val batchIdx = TestSpark.tmpDir("dense-append-batch")
    Retrieval.writeDenseIndex(base, batchIdx)
    Retrieval.appendToDenseIndex(late, batchIdx)

    val streamIdx = TestSpark.tmpDir("dense-append-stream")
    Retrieval.writeDenseIndex(base, streamIdx)
    val srcDir = TestSpark.tmpDir("dense-append-src")
    late.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = Incremental.denseIndexAppendStream(
      stream, streamIdx, TestSpark.tmpDir("dense-append-ck"))
    q.awaitTermination()

    def probe(p: String) = Retrieval.hybridTopKFullyIndexed(
        spark, bm25Idx, p, qs, k = 10, nPerSide = 20)
      .orderBy("rank").collect().toSeq
    val viaBatch = probe(batchIdx)
    val viaStream = probe(streamIdx)
    assert(viaStream == viaBatch, s"stream=$viaStream\nbatch=$viaBatch")
    // and both equal LIVE hybrid over the grown corpus — stored
    // towers ≡ in-plan computation, end to end through the stream
    val live = Retrieval.hybridTopK(docs, qs, k = 10, nPerSide = 20)
      .orderBy("rank").collect().toSeq
    assert(viaStream == live, s"stream=$viaStream\nlive=$live")
  }

  test("streamed ingestion is CHECK-gated: a violating batch fails the stream, table intact") {
    import graft.maintain.Snapshots
    val src = TestSpark.tmpDir("snap-gate-src")
    spark.range(10).toDF("id").write.mode("overwrite").parquet(src)
    val tbl = TestSpark.tmpDir("snap-gate") + "/t"
    val ck = TestSpark.tmpDir("snap-gate-ck")
    Snapshots.create(spark.range(5).toDF("id"), tbl)
    Snapshots.addConstraint(spark, tbl, "small-ids", "id < 8")
    // the arriving micro-batch carries ids 8..9 → the quality gate
    // must fail the STREAM (not silently land a bad version)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Incremental.snapshotAppendStream(
        spark.readStream.schema(spark.read.parquet(src).schema)
          .parquet(src), tbl, ck)
      q.awaitTermination()
    }
    assert(e.getMessage.contains("small-ids"), e.getMessage)
    assert(Snapshots.versions(spark, tbl) == Seq(1L))
    assert(Snapshots.read(spark, tbl).count() == 5)
  }

  test("streamed snapshot ingestion: one version per batch, exactly-once, CDC-tailable") {
    import graft.maintain.Snapshots
    val src = TestSpark.tmpDir("snap-stream-src")
    val rows = spark.range(30).toDF("id")
    rows.repartition(3).write.mode("overwrite").parquet(src)
    val tbl = TestSpark.tmpDir("snap-stream") + "/t"
    val ck = TestSpark.tmpDir("snap-stream-ck")
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    val q = Incremental.snapshotAppendStream(stream, tbl, ck)
    q.awaitTermination()
    // 3 source files → 3 micro-batches → 3 versions; content complete
    assert(Snapshots.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, tbl).count() == 30)
    assert(Snapshots.read(spark, tbl)
      .agg(org.apache.spark.sql.functions.sum($"id")).head().getLong(0)
      == (0 until 30).sum)
    // RESUME on the same checkpoint: nothing new → no new versions
    // (AvailableNow over a drained source replays nothing; and if the
    // engine DID redeliver, the commit keys would converge)
    val q2 = Incremental.snapshotAppendStream(spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      tbl, ck)
    q2.awaitTermination()
    assert(Snapshots.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, tbl).count() == 30)
    // downstream CDC tail over the streamed versions: exactly the
    // rows batches 2–3 added (file→batch row split is round-robin,
    // so derive the expectation from v1 rather than assuming 10/10/10)
    val v1Rows = Snapshots.readVersion(spark, tbl, 1).count()
    assert(Snapshots.readAppendedBetween(spark, tbl, 1, 3).count()
      == 30 - v1Rows)
  }

  test("streamed snapshot ingestion records stats: time-scoped reads prune from day one") {
    import graft.maintain.Snapshots
    val src = TestSpark.tmpDir("snap-stats-src")
    // two files with DISJOINT id ranges → two batches → per-batch
    // per-file stats that a range read can prune on
    spark.range(0, 50).toDF("id").repartition(1)
      .write.mode("append").parquet(src)
    spark.range(1000, 1050).toDF("id").repartition(1)
      .write.mode("append").parquet(src)
    val tbl = TestSpark.tmpDir("snap-stats-stream") + "/t"
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    Incremental.snapshotAppendStream(stream, tbl,
      TestSpark.tmpDir("snap-stats-ck"), statsCols = Seq("id"))
      .awaitTermination()
    val head = Snapshots.versions(spark, tbl).last
    val total = Snapshots.read(spark, tbl).inputFiles.length
    val pruned = Snapshots.readVersionWhere(spark, tbl, head,
      "id", 1000, 1050)
    assert(pruned.inputFiles.length < total,
      s"streamed batches carried no usable stats: " +
        s"${pruned.inputFiles.length} of $total planned")
    assert(pruned.filter($"id" >= 1000).count() == 50)
  }

  test("index-append segments are namespaced per checkpoint (a second stream cannot overwrite the first's batches)") {
    import graft.llm.Dedup
    // two separate streams (own checkpoints) append disjoint halves to
    // ONE index. Both restart their batch ids at 0 — with a bare-
    // batch-id segment name the second stream's b0 would OVERWRITE
    // the first's b0 segment (silent deletion of indexed docs); the
    // checkpoint-hashed namespace keeps them disjoint.
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val base = docs.filter($"doc_id" % 4 === 0)
    val lateA = docs.filter($"doc_id" % 4 === 1)
    val lateB = docs.filter($"doc_id" % 4 === 2)
    val idx = TestSpark.tmpDir("lsh-append-twock")
    Dedup.writeLshIndex(base, idx)
    def appendVia(late: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val srcDir = TestSpark.tmpDir(s"lsh-twock-src-$tag")
      late.repartition(1).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      Incremental.lshIndexAppendStream(stream, idx,
        TestSpark.tmpDir(s"lsh-twock-ck-$tag")).awaitTermination()
    }
    appendVia(lateA, "a")
    appendVia(lateB, "b")
    val total = base.count() + lateA.count() + lateB.count()
    assert(spark.read.parquet(s"$idx/digests").count() == total,
      "a second stream's batch 0 replaced the first stream's segment")
  }

  test("streaming PSI log matches per-batch frozen-reference PSI") {
    import graft.llm.Drift
    val srcDir = TestSpark.tmpDir("psi-src")
    val destDir = TestSpark.tmpDir("psi-log")
    val ckDir = TestSpark.tmpDir("psi-ck")
    val ref = (0 until 20).map(_.toDouble).toDF("value")
    val fileA = Seq(1.0, 2.0, 3.0).toDF("value")         // 3 rows
    val fileB = Seq(18.0, 19.0, 19.5, 25.0).toDF("value") // 4 rows
    fileA.repartition(1).write.mode("append").parquet(srcDir)
    fileB.repartition(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = graft.streaming.Incremental.psiStream(
      stream, ref, "value", destDir, ckDir)
    q.awaitTermination()
    val got = spark.read.parquet(destDir)
      .select("n_rows", "psi").as[(Long, Double)].collect().toSeq
    assert(got.length == 2, "one PSI row per micro-batch")
    // match rows to files by their distinct row counts
    val expected = Seq(fileA, fileB).map { f =>
      Drift.psiNumeric(ref, f, "value")
        .agg(org.apache.spark.sql.functions.sum($"n_cur"),
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.sum($"psi_term"), 6))
        .as[(Long, Double)].head()
    }
    assert(got.toSet == expected.toSet)
    assert(got.map(_._2).forall(p => !p.isNaN && !p.isInfinite))
  }

  test("streaming PSI log is idempotent under batch replay") {
    val srcDir = TestSpark.tmpDir("psi2-src")
    val destDir = TestSpark.tmpDir("psi2-log")
    val ref = (0 until 20).map(_.toDouble).toDF("value")
    Seq(1.0, 2.0).toDF("value")
      .repartition(1).write.mode("append").parquet(srcDir)
    Seq(8.0, 9.0).toDF("value")
      .repartition(1).write.mode("append").parquet(srcDir)
    def run(ck: String): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      graft.streaming.Incremental
        .psiStream(stream, ref, "value", destDir, ck)
        .awaitTermination()
    }
    def logRows(): Set[(Long, Long, Double)] = spark.read.parquet(destDir)
      .select($"batch_id".cast("long"), $"n_rows", $"psi")
      .as[(Long, Long, Double)].collect().toSet
    run(TestSpark.tmpDir("psi2-ck1"))
    val first = logRows()
    assert(first.size == 2, "one log row per micro-batch")
    // lost-checkpoint replay: the same batches re-run under the same
    // ids; the batch_id-partitioned dynamic overwrite must replace
    // each batch's row, never append a duplicate
    run(TestSpark.tmpDir("psi2-ck2"))
    assert(logRows() == first,
      "replay must overwrite per-batch partitions, not append")
  }

  test("stream-static dedup-vs-corpus matches the batch anti-join") {
    val srcDir = TestSpark.tmpDir("dedup-src")
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val reference = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
      .unionByName(reference.filter($"doc_id" < 20)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    incoming.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
    val q = graft.streaming.Incremental.dedupStream(
      stream, reference, "dedup_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_stream_test")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.streaming.Incremental
      .dedupVsCorpus(incoming, reference)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // every planted exact copy was dropped by the stream too
    assert(!streamed.exists(_ >= 1000000L))
  }

  test("stream-static dedup against a persisted index matches the corpus-served path") {
    val srcDir = TestSpark.tmpDir("dedup-idx-src")
    val idxPath = TestSpark.tmpDir("dedup-idx") + "/index"
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val reference = docs.filter($"doc_id" % 2 === 0)
    val incoming = docs.filter($"doc_id" % 2 === 1)
      .unionByName(reference.filter($"doc_id" < 20)
        .withColumn("doc_id", $"doc_id" + 1000000L))
    graft.llm.Dedup.writeLshIndex(reference, idxPath)
    incoming.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
    val q = graft.streaming.Incremental.dedupIndexStream(
      stream, idxPath, "dedup_idx_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_idx_stream_test")
      .select("doc_id").as[Long].collect().toSet
    // index-served ≡ corpus-served, for a stream AND for a batch frame
    val corpusServed = graft.streaming.Incremental
      .dedupVsCorpus(incoming, reference)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == corpusServed)
    assert(streamed.nonEmpty && !streamed.exists(_ >= 1000000L))
    val batchServed = graft.streaming.Incremental
      .dedupVsIndex(incoming, idxPath)
      .select("doc_id").as[Long].collect().toSet
    assert(batchServed == corpusServed)
  }

  test("stream-static line cleaning matches the batch transform") {
    val srcDir = TestSpark.tmpDir("cleanlines-src")
    val incoming = Seq(
      (1L, "HOT BANNER\nunique one"),
      (2L, "HOT BANNER\nunique two"),
      (3L, "only fresh text"))
      .toDF("doc_id", "text")
    val hot = Seq("HOT BANNER").toDF("line")
    incoming.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
    val q = graft.streaming.Incremental.cleanLinesStream(
      stream, hot, "clean_lines_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("clean_lines_test")
      .select("doc_id", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect().toSet
    val batch = graft.streaming.Incremental
      .cleanLinesVsHotSet(incoming, hot)
      .select("doc_id", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (1L, 1L, "unique one"), (2L, 1L, "unique two"),
      (3L, 0L, "only fresh text")))
  }

  test("stateful streaming sessionize matches batch sessionize") {
    import graft.streaming.Sessionize
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val eventsDir = TestSpark.tmpDir("sess-src")
    Tables.events(spark, TestSpark.sf0001)
      .select("user_id", "ts")
      .write.mode("overwrite").parquet(eventsDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
      .as[Sessionize.Event]
    // AvailableNow + NoTimeout: bounded drain then clean termination
    // (a stateful timeout would keep scheduling timeout micro-batches).
    val q = Sessionize.streaming(stream)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // Append mode only emits CLOSED sessions; every emitted session
    // must exactly match a batch session (same start, same count).
    val streamed = spark.table("sessions_test")
      .select("user_id", "session_start", "n_events")
      .as[(Long, String, Long)].collect().toSet
    val batchSessions = Sessionize.batch(
      Tables.events(spark, TestSpark.sf0001))
      .select("user_id", "session_start", "n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batchSessions),
      s"streamed-only sessions: ${streamed diff batchSessions}")
    // all but at most one open session per user should have closed
    assert(streamed.size >= batchSessions.size -
      batchSessions.map(_._1).size)
  }

  test("streaming conversion pipeline: JSON:API drain -> flattened comments") {
    import graft.sources.{Flatten, JsonApi}
    val ingest = new IngestSpec
    val fixtureRoot = ingest.root
    val out = TestSpark.tmpDir("stream-convert")
    val commentDirs = JsonApi.discover(spark, fixtureRoot)
      .filter(_.kind == "comments").map(_.dir)

    // stream each discovered dir through the SAME flatten projection
    // the batch path uses (multiLine per-file JSON). One sink dir per
    // query: the parquet streaming sink's _spark_metadata log is
    // per-query, so queries must not share an output directory.
    commentDirs.zipWithIndex.foreach { case (dir, i) =>
      val q = spark.readStream
        .schema(JsonApi.envelope)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(dir)
        .transform(raw => Flatten.comments(
          raw.withColumn("src_file",
            org.apache.spark.sql.functions.input_file_name())))
        .writeStream
        .format("parquet")
        .option("path", s"$out/comments/src$i")
        .option("checkpointLocation", s"$out/cp$i")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val streamed = spark.read.parquet(
      commentDirs.indices.map(i => s"$out/comments/src$i"): _*)
    assert(streamed.count() == 5) // same as the batch path; corrupt skipped
    assert(streamed.select("agency").distinct().count() == 3)
    val batch = graft.sources.JsonApi.readDocketTree(spark, fixtureRoot)("comments")
    assert(streamed.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      batch.select("id").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("stream-stream interval join matches the batch funnel (ST ext)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = TestSpark.tmpDir("funnel-src")
    Tables.events(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def src = spark.readStream.schema(schema).parquet(dir)
    val clicks = src.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = src.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    // Inner stream-stream join: the time bounds let Spark expire join
    // state past the watermark instead of buffering both streams forever.
    val q = clicks.join(purchases,
        expr("user_id = p_user AND p_ts >= click_ts" +
          " AND p_ts <= click_ts + interval 1 hour"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("funnel_stream").count()
    val batch = StreamQueries.funnelPairs(
      Tables.events(spark, TestSpark.sf0001)).count()
    assert(batch > 0, "fixture has no click->purchase pairs")
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("streaming dropDuplicates matches the batch debounce (ST ext)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = TestSpark.tmpDir("debounce-src")
    Tables.events(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = spark.readStream.schema(schema).parquet(dir)
      .select($"user_id", $"event_type",
        date_trunc("minute", $"ts").as("minute"))
      .withWatermark("minute", "2 hours")
      .dropDuplicates("user_id", "event_type", "minute")
      .groupBy("event_type").count()
      .writeStream.format("memory").queryName("debounce_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("debounce_stream")
      .as[(String, Long)].collect().toMap
    val batch = StreamQueries.st6.run(spark, TestSpark.sf0001)
      .as[(String, Long)].collect().toMap
    assert(batch.nonEmpty && streamed == batch,
      s"stream $streamed != batch $batch")
  }

  test("streaming upsert folds keyed updates into a queryable table") {
    val src = TestSpark.tmpDir("upsert-stream-src")
    val dest = TestSpark.tmpDir("upsert-stream") + "/table"
    val ckpt = TestSpark.tmpDir("upsert-stream-ckpt")
    def put(name: String, rows: String*): Unit =
      Files.writeString(Paths.get(src, name), rows.mkString("\n"))
    // ndjson updates: (id, v, ver)
    put("b1.json",
      """{"id": 1, "v": "a", "ver": 1}""",
      """{"id": 2, "v": "b", "ver": 1}""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, ver BIGINT")
    def drain(): Unit = {
      val q = Incremental.upsertStream(
        spark.readStream.schema(schema).json(src),
        dest, ckpt, Seq("id"), "ver", "ver")
      q.processAllAvailable(); q.stop()
    }
    drain()
    assert(Snapshots.read(spark, dest).count() == 2)
    // second batch: update id=2, insert id=3; stale ver=0 must lose
    put("b2.json",
      """{"id": 2, "v": "B", "ver": 2}""",
      """{"id": 2, "v": "stale", "ver": 0}""",
      """{"id": 3, "v": "c", "ver": 1}""")
    drain()
    val out = Snapshots.read(spark, dest).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L)))
    // re-draining with no new files is a checkpointed no-op
    drain()
    assert(Snapshots.versions(spark, dest) == Seq(1L, 2L))
  }

  test("streaming upsert: a batch replayed after its create committed converges") {
    val src = TestSpark.tmpDir("upsert-replay-src")
    val dest = TestSpark.tmpDir("upsert-replay") + "/table"
    val ckpt = TestSpark.tmpDir("upsert-replay-ckpt")
    // one batch; id=2 twice within it, the higher ver must win
    Files.writeString(Paths.get(src, "b1.json"), Seq(
      """{"id": 1, "v": "a", "ver": 1}""",
      """{"id": 2, "v": "b", "ver": 2}""",
      """{"id": 2, "v": "stale", "ver": 1}""").mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, ver BIGINT")
    def drain(): Unit = Incremental.upsertStream(
      spark.readStream.schema(schema).json(src),
      dest, ckpt, Seq("id"), "ver", "ver").awaitTermination()
    def table() = Snapshots.read(spark, dest).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    val once = Seq((1L, "a", 1L), (2L, "b", 2L))
    drain()
    assert(Snapshots.versions(spark, dest) == Seq(1L))
    assert(table() == once)
    // crash after the create committed, before the checkpoint commit:
    // without the batch's commit-log entry the restart replays it
    Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    drain()
    assert(Snapshots.versions(spark, dest) == Seq(1L, 2L),
      "batch 0 was not replayed")
    assert(table() == once, s"replay must converge: ${table()}")
  }

  test("transformWithState running totals match the batch aggregate") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StatefulOps
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = TestSpark.tmpDir("tws-src")
      val ckpt = TestSpark.tmpDir("tws-ckpt")
      val events = Tables.events(spark, TestSpark.sf0001)
      events.write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir)
      val q = StatefulOps.userTotals(stream)
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
      // update-mode memory sink may hold one row per (batch, key):
      // the LAST update per key is the running total
      val streamed = spark.table("tws_totals")
        .groupBy("user_id")
        .agg(max(struct($"n_events", $"total_value")).as("s"))
        .select($"user_id", $"s.n_events", $"s.total_value")
        .as[(Long, Long, Double)].collect()
        .map { case (k, n, v) => k -> ((n, v)) }.toMap
      val batch = events.groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("t"))
        .as[(Long, Long, Double)].collect()
        .map { case (k, n, v) => k -> ((n, v)) }.toMap
      assert(streamed.nonEmpty && streamed == batch)
    } finally {
      prev.fold(spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass"))(
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    }
  }

  test("watermark drops data later than the lateness bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(date_format($"window.start", "HH:mm").as("h"), $"cnt")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // batch 1: events at 01:30 and 05:30 → watermark advances to 04:30
    mem.addData((ts(1), "a"), (ts(5), "a"))
    q.processAllAvailable()
    // batch 2: event at 02:30 is older than the watermark → dropped;
    // event at 05:45 updates its window
    mem.addData((ts(2), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 05:45:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("wm_test")
      .groupBy("h").agg(max("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("05:00") == 2) // on-time update applied
    assert(!counts.contains("02:00"), s"late row not dropped: $counts")
  }

  test("fragmentation + delta append + compaction (ST1-ST3)") {
    import graft.maintain.Snapshots
    val path = TestSpark.tmpDir("compact") + "/table"
    val df = Tables.orders(spark, TestSpark.sf0001)
    def files() = Snapshots.read(spark, path).inputFiles.length
    Snapshots.create(df.repartition(20), path)
    assert(files() == 20)

    Snapshots.commitAppend(df.limit(5), path)
    val withDelta = files()
    assert(withDelta > 20)
    val rowsBefore = Snapshots.read(spark, path).count()

    Snapshots.compact(spark, path, targetFiles = 3)
    assert(files() == 3)
    assert(1.0 - 3.0 / withDelta > 0.8)
    assert(Snapshots.read(spark, path).count() == rowsBefore)
    // the fragmented layout stays readable at its own version
    assert(Snapshots.readVersion(spark, path, 2L).inputFiles.length
      == withDelta)
  }

  test("snapshot streaming source: batch-CDC parity, exactly-once replay, restart") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream")
    val table = s"$root/t"; val cp = s"$root/cp"; val out = s"$root/out"
    // the pipeline_cdc_dedup fixture shape: v1 = frozen reference,
    // v2 = one appended batch (incl. planted copies)
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    Snapshots.create(docs.filter($"doc_id" % 2 === 0), table)
    Snapshots.commitAppend(docs.filter($"doc_id" % 2 === 1), table)

    def drain(): Unit = {
      val q = Snapshots.readChangesStream(spark, table, fromVersion = 1L)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // parity with the batch CDC read: SAME rows, planted dups included
    val want = Snapshots.readAppendedBetween(spark, table, 1, 2)
      .select("doc_id").as[Long].collect().toSet
    assert(spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet == want)
    // replay with no new commits: exactly-once, nothing re-applies
    drain()
    assert(spark.read.parquet(out).count() == want.size)
    // a new commit lands; a restarted stream picks up ONLY its delta
    Snapshots.commitAppend(
      docs.filter($"doc_id" % 2 === 0).limit(5)
        .withColumn("doc_id", $"doc_id" + 5000000L), table)
    drain()
    val after = spark.read.parquet(out)
    assert(after.count() == want.size + 5)
    assert(after.filter($"doc_id" >= 5000000L).count() == 5)
  }

  test("snapshot streaming source refuses across a rewrite commit") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream-rw")
    val table = s"$root/t"; val cp = s"$root/cp"
    Snapshots.create(spark.range(10).toDF("id"), table)
    Snapshots.compact(spark, table, targetFiles = 1) // v2 = rewrite
    Snapshots.commitAppend(spark.range(10, 12).toDF("id"), table)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Snapshots.readChangesStream(spark, table, fromVersion = 1L)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("not row-level additions"), e.getMessage)
  }

  test("snapshot source with tolerateCompaction crosses live maintenance") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream-tol")
    val table = s"$root/t"; val cp = s"$root/cp"; val out = s"$root/out"
    Snapshots.create(spark.range(10).toDF("id"), table)       // v1
    def drain(): Unit = {
      val q = Snapshots.readChangesStream(spark, table, fromVersion = 0L,
        tolerateCompaction = true)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // serves v1
    // live maintenance between triggers: compact + a fresh append —
    // the consumer must receive ONLY the appended rows, never the
    // compact's re-packed copies of rows it already served
    Snapshots.compact(spark, table, targetFiles = 1)          // v2
    Snapshots.commitAppend(spark.range(10, 14).toDF("id"), table) // v3
    drain()
    assert(spark.read.parquet(out).select("id").as[Long]
      .collect().sorted.toSeq == (0L until 14L))
    // replay: exactly-once across the compacted range too
    drain()
    assert(spark.read.parquet(out).count() == 14)
  }

  test("snapshot CDF source: live row-level changes across rewrites, exactly-once") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream-cdf")
    val table = s"$root/t"; val cp = s"$root/cp"; val out = s"$root/out"
    val base = spark.range(20)
      .select($"id", ($"id" * 10.0).as("price"),
        lit(1L).as("ver"), lit(0L).as("tb"))
    Snapshots.create(base, table)                              // v1
    def drain(): Unit = {
      val q = Snapshots.readChangeFeedStream(spark, table,
        fromVersion = 0L, keyCols = Seq("id"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // v1 inserts
    // full maintenance between triggers: MERGE + DELETE + compact +
    // a fresh append — the consumer must see classified row changes,
    // never a refusal, and nothing from the compact
    Snapshots.commitUpsert(
      spark.range(5).select($"id", ($"id" * 10.0 + 1).as("price"),
        lit(2L).as("ver"), lit(0L).as("tb")),
      table, keyCols = Seq("id"), versionCol = "ver",
      tiebreakCol = "tb")                                      // v2
    Snapshots.commitDeleteWhere(spark, table, "id", 15, 17)    // v3
    Snapshots.compact(spark, table, targetFiles = 1)           // v4
    Snapshots.commitAppend(
      spark.range(100, 103).select($"id", lit(7.0).as("price"),
        lit(1L).as("ver"), lit(0L).as("tb")), table)           // v5
    drain()
    // parity with the batch change feed over the same window
    val got = spark.read.parquet(out)
    val want = Snapshots.readChangeFeed(spark, table, 0L, 5L,
      keyCols = Seq("id"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col(Snapshots.ChangeTypeCol),
        col(Snapshots.CommitVersionCol), $"id", $"price")
      .as[(String, Long, Long, Double)].collect().sorted.toSeq
    assert(key(got) == key(want), "live feed ≠ batch feed")
    // the feed REPLAYS the table: inserts + post-images minus
    // deletes + pre-images must reconstruct the head exactly
    val addT = Seq(Snapshots.ChangeInsert, Snapshots.ChangeUpdatePost)
    val adds = got.filter(col(Snapshots.ChangeTypeCol).isin(addT: _*))
      .select("id", "price")
    val drops = got.filter(!col(Snapshots.ChangeTypeCol).isin(addT: _*))
      .select("id", "price")
    assert(adds.exceptAll(drops).as[(Long, Double)].collect().sorted.toSeq ==
      Snapshots.read(spark, table).select("id", "price")
        .as[(Long, Double)].collect().sorted.toSeq,
      "feed-reconstructed state ≠ head")
    // replay: exactly-once — nothing re-applies
    val n = got.count()
    drain()
    assert(spark.read.parquet(out).count() == n)
  }

  test("CDF stream replicates a table under full maintenance") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream-replica")
    val table = s"$root/t"; val cp = s"$root/cp"
    val replica = s"$root/replica"
    Snapshots.create(spark.range(10)
      .select($"id", ($"id" * 2.0).as("price"),
        lit(1L).as("ver"), lit(0L).as("tb")), table)           // v1
    val addT = Seq(Snapshots.ChangeInsert, Snapshots.ChangeUpdatePost)
    def sync(): Unit = {
      val q = Snapshots.readChangeFeedStream(spark, table,
        fromVersion = 0L, keyCols = Seq("id"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // apply the batch's changes: state ∖ (deletes ∪ pre-images)
          // ⊎ (inserts ∪ post-images) — the generic CDF consumer
          val cols = Seq("id", "price", "ver", "tb").map(col)
          val adds = b.filter(col(Snapshots.ChangeTypeCol).isin(addT: _*))
            .select(cols: _*)
          val drops = b.filter(!col(Snapshots.ChangeTypeCol).isin(addT: _*))
            .select(cols: _*)
          if (!Snapshots.exists(spark, replica))
            Snapshots.create(adds, replica)
          else Snapshots.commitOverwrite(
            Snapshots.read(spark, replica).exceptAll(drops)
              .unionByName(adds), replica)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    sync()
    // full maintenance on the source between syncs
    Snapshots.commitUpsert(
      spark.range(3).select($"id", lit(-1.0).as("price"),
        lit(2L).as("ver"), lit(0L).as("tb")),
      table, keyCols = Seq("id"), versionCol = "ver",
      tiebreakCol = "tb")                                      // v2
    Snapshots.commitDeleteWhere(spark, table, "id", 7, 8)      // v3
    Snapshots.commitAppend(spark.range(50, 53)
      .select($"id", lit(9.0).as("price"),
        lit(1L).as("ver"), lit(0L).as("tb")), table)           // v4
    sync()
    def state(path: String) = Snapshots.read(spark, path)
      .select("id", "price").as[(Long, Double)].collect().sorted.toSeq
    assert(state(replica) == state(table), "replica diverged from source")
  }

  test("snapshot source feeds the incremental-dedup arm (live cdc_dedup loop)") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("snap-stream-dedup")
    val table = s"$root/t"; val cp = s"$root/cp"; val out = s"$root/out"
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val reference = docs.filter($"doc_id" % 2 === 0)
    Snapshots.create(reference, table)
    // the appended batch carries 5 planted exact copies of reference
    // docs (re-id'd) — the dedup consumer must drop exactly those
    Snapshots.commitAppend(
      docs.filter($"doc_id" % 2 === 1).limit(20).unionByName(
        reference.limit(5).withColumn("doc_id", $"doc_id" + 1000000L)),
      table)
    val frozen = Snapshots.readVersion(spark, table, 1L)
    val q = Snapshots.readChangesStream(spark, table, fromVersion = 1L)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.llm.Dedup.incrementalDedup(b, frozen)
          .write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val kept = spark.read.parquet(out)
    val batchTwin = graft.llm.Dedup.incrementalDedup(
      Snapshots.readAppendedBetween(spark, table, 1, 2), frozen)
    assert(kept.select("doc_id").as[Long].collect().toSet ==
      batchTwin.select("doc_id").as[Long].collect().toSet,
      "live tail ≠ batch CDC dedup")
    assert(kept.filter($"doc_id" >= 1000000L).count() == 0,
      "a planted exact dup survived the live dedup")
  }
}
