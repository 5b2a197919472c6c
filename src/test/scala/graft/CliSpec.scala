package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI end-to-end: convert a fixture tree, query, profile, optimize,
  * vacuum — the user-facing surface of the reference's three entry
  * points. */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("convert writes partitioned tables from a fixture tree") {
    // reuse IngestSpec's fixture builder
    val ingest = new IngestSpec
    val root = ingest.root
    val out = TestSpark.tmpDir("cli-out")
    graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--compression", "zstd"))
    val c = spark.read.parquet(s"$out/comments")
    assert(c.count() == 5)
    assert(c.columns.contains("agency"))
    assert(spark.read.parquet(s"$out/docket_info").count() == 3)
  }

  test("convert --agency prunes the listing") {
    val ingest = new IngestSpec
    val root = ingest.root
    val out = TestSpark.tmpDir("cli-agency")
    graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--agency", "dea"))
    val c = spark.read.parquet(s"$out/comments")
    assert(c.count() == 3) // only the DEA docket's comments
    assert(!new java.io.File(s"$out/documents").exists() ||
      spark.read.parquet(s"$out/documents").count() == 1)
  }

  test("object-store URI dispatch: convert reads AND writes through a registered non-file scheme") {
    // the offline K3 shrink: everything on our side of the Hadoop
    // FileSystem API — scheme dispatch, discovery, preflight, the
    // parquet committer — runs against a registered mock3:// scheme
    // exactly as it would against fs.s3a.impl; see MockObjectStoreFs
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock3.impl", classOf[MockObjectStoreFs].getName)
    conf.set("fs.mock3.impl.disable.cache", "true")
    val ingest = new IngestSpec
    val root = ingest.root
    val out = TestSpark.tmpDir("cli-mock3-out")
    graft.cli.Main.run(spark, Array("convert", s"mock3:$root",
      "--output-path", s"mock3:$out", "--compression", "zstd"))
    // the write landed through the mock3 filesystem at its backing dir
    val c = spark.read.parquet(s"$out/comments")
    assert(c.count() == 5)
    assert(c.columns.contains("agency"))
    // and reading back THROUGH the scheme dispatches correctly too
    assert(spark.read.parquet(s"mock3:$out/comments").count() == 5)
    assert(spark.read.parquet(s"mock3:$out/docket_info").count() == 3)
  }

  test("serving-index verbs: build, append, and search end-to-end") {
    import spark.implicits._
    val sf = TestSpark.sf0001
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val docsDir = TestSpark.tmpDir("cli-idx-docs")
    docs.filter($"doc_id" % 2 === 0).write.mode("overwrite").parquet(docsDir)
    val lateDir = TestSpark.tmpDir("cli-idx-late")
    docs.filter($"doc_id" % 2 === 1).write.mode("overwrite").parquet(lateDir)

    // LSH append verb ≡ programmatic append
    val lshIdx = TestSpark.tmpDir("cli-idx-lsh") + "/idx"
    graft.cli.Main.run(spark, Array("index-build", docsDir, lshIdx))
    graft.cli.Main.run(spark, Array("index-append", lateDir, lshIdx))
    assert(spark.read.parquet(s"$lshIdx/digests").count() == docs.count())

    // BM25 build + append + search
    val bmIdx = TestSpark.tmpDir("cli-idx-bm25") + "/idx"
    graft.cli.Main.run(spark, Array("bm25-index", docsDir, bmIdx))
    graft.cli.Main.run(spark,
      Array("bm25-index", "--append", lateDir, bmIdx))
    graft.cli.Main.run(spark,
      Array("bm25-search", bmIdx, "--terms", "hash,merge", "--k", "5"))
    val live = graft.llm.Retrieval.bm25TopK(docs, Seq("hash", "merge"), k = 5)
      .as[(Long, Long, Double)].collect().toSeq
    val idxd = graft.llm.Retrieval.bm25TopKIndexed(spark, bmIdx,
      Seq("hash", "merge"), k = 5).as[(Long, Long, Double)].collect().toSeq
    assert(idxd == live, s"idx=$idxd live=$live")

    // ANN build + append + search
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val embDir = TestSpark.tmpDir("cli-idx-emb")
    embs.filter($"vec_id" % 2 === 0).write.mode("overwrite").parquet(embDir)
    val embLate = TestSpark.tmpDir("cli-idx-emb-late")
    embs.filter($"vec_id" % 2 === 1).write.mode("overwrite").parquet(embLate)
    val annIdx = TestSpark.tmpDir("cli-idx-ann") + "/idx"
    graft.cli.Main.run(spark, Array("ann-index", embDir, annIdx))
    graft.cli.Main.run(spark, Array("ann-index", "--append", embLate, annIdx))
    graft.cli.Main.run(spark, Array("ann-search", annIdx, embDir,
      "--query-id", "2", "--topk", "5"))
    assert(spark.read.parquet(s"$annIdx/codes").count() == embs.count())

    // index-compact: appended segments merge back to the canonical
    // single-segment layout; probes unchanged
    graft.cli.Main.run(spark, Array("index-compact", "lsh", lshIdx))
    graft.cli.Main.run(spark, Array("index-compact", "bm25", bmIdx))
    graft.cli.Main.run(spark,
      Array("index-compact", "ann", annIdx, "--target-files", "2"))
    for (p <- Seq(s"$lshIdx/digests", s"$bmIdx/postings", s"$annIdx/codes"))
      assert(spark.read.parquet(p).select("seg").distinct()
        .collect().map(_.getString(0)).toSeq == Seq("base"), p)
    assert(graft.llm.Retrieval.bm25TopKIndexed(spark, bmIdx,
      Seq("hash", "merge"), k = 5)
      .as[(Long, Long, Double)].collect().toSeq == live)
    val unknown = intercept[RuntimeException] {
      graft.cli.Main.run(spark, Array("index-compact", "zzz", lshIdx))
    }
    assert(unknown.getMessage.contains("unknown kind"))

    // ann-search --rerank: exact refine against the float table
    val fullEmbDir = TestSpark.tmpDir("cli-idx-emb-full")
    embs.write.mode("overwrite").parquet(fullEmbDir)
    graft.cli.Main.run(spark, Array("ann-search", annIdx, embDir,
      "--query-id", "2", "--topk", "5", "--rerank", fullEmbDir))

    // hybrid-search, live and against the persisted BM25 index
    graft.cli.Main.run(spark, Array("hybrid-search", docsDir,
      "--query", "hash merge", "--k", "5"))
    graft.cli.Main.run(spark, Array("hybrid-search", docsDir,
      "--query", "hash merge", "--k", "5", "--index", bmIdx))
    // and the MMR-diversified form over the RRF shortlist
    graft.cli.Main.run(spark, Array("hybrid-search", docsDir,
      "--query", "hash merge", "--k", "5", "--diversify",
      "--lambda", "0.6"))
    // --k above 85 must work: the MMR candidate guard is sized to the
    // bounded RRF shortlist (3k), not the 256 default (ADVICE r15)
    graft.cli.Main.run(spark, Array("hybrid-search", docsDir,
      "--query", "hash merge", "--k", "90", "--diversify"))
  }

  test("snapshot verbs drive the table-format layer via the CLI") {
    val t = TestSpark.tmpDir("cli-snap")
    val src = s"$t/src"; val tbl = s"$t/tbl"
    spark.range(10).toDF("id").write.parquet(src)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "create", src))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "append", src))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "history"))
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "read", "--version", "1"))
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "changes", "--from", "1", "--to", "2"))
    // the row-level change-feed form crosses rewrites (--cdf), with
    // and without key classification
    graft.cli.Main.run(spark, Array("snapshot", tbl, "changes",
      "--from", "0", "--to", "2", "--cdf", "--key", "id"))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "changes",
      "--from", "1", "--to", "2", "--tolerate-compaction"))
    // wall-clock window: everything since before the table existed
    graft.cli.Main.run(spark, Array("snapshot", tbl, "changes",
      "--from-ts", "0"))
    // CHECK constraint lifecycle: add, list, gate a commit, drop
    graft.cli.Main.run(spark, Array("snapshot", tbl, "constraint",
      "--add", "id-nonneg:id >= 0"))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "constraint"))
    intercept[graft.maintain.Snapshots.ConstraintViolationException] {
      graft.maintain.Snapshots.commitAppend(
        spark.range(-1, 0).toDF("id"), tbl)
    }
    graft.cli.Main.run(spark, Array("snapshot", tbl, "constraint",
      "--drop", "id-nonneg"))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "describe"))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "restore", "1"))
    assert(graft.maintain.Snapshots.read(spark, tbl).count() == 10)
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "expire", "--keep", "2"))
    assert(graft.maintain.Snapshots.versions(spark, tbl) == Seq(2L, 3L))
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "compact", "--target-files", "1"))
    assert(graft.maintain.Snapshots.read(spark, tbl).count() == 10)
  }

  test("snapshot read combines --as-of with --where; scoped upsert via CLI") {
    import graft.maintain.Snapshots
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val t = TestSpark.tmpDir("cli-snap2")
    val src = s"$t/src"; val tbl = s"$t/tbl"
    spark.range(100).select($"id", ($"id" / 25).cast("long").as("scope"),
        lit(1L).as("ver"), lit(0L).as("tb"))
      .repartitionByRange(4, $"scope").write.parquet(src)
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "create", src, "--stats", "scope"))
    val asOf = System.currentTimeMillis().toString
    // --as-of + --where together: resolves the version FIRST, then
    // file-skips within it (this combination used to silently drop
    // --where — ADVICE r16)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "read",
      "--as-of", asOf, "--where", "scope:2:2"))
    // scoped upsert via the CLI flag rewrites only touched-scope files
    val upd = s"$t/upd"
    Seq((60L, 2L, 2L, 0L)).toDF("id", "scope", "ver", "tb")
      .write.parquet(upd)
    val v1Files = Snapshots.readVersion(spark, tbl, 1).inputFiles.toSet
    graft.cli.Main.run(spark, Array("snapshot", tbl, "upsert", upd,
      "--keys", "id", "--version-col", "ver", "--scope-col", "scope"))
    val v2Files = Snapshots.readVersion(spark, tbl, 2).inputFiles.toSet
    assert((v1Files & v2Files).nonEmpty, "scoped upsert rewrote everything")
    assert(Snapshots.read(spark, tbl).count() == 100)
    // range-scoped delete via the CLI verb (numeric bounds)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
      "--where", "id:10:19"))
    assert(Snapshots.read(spark, tbl).count() == 90)
    assert(Snapshots.read(spark, tbl)
      .filter($"id".between(10, 19)).count() == 0)
    // malformed --where dies with the usage message, not a MatchError
    val bad = intercept[IllegalArgumentException] {
      graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
        "--where", "id:10"))
    }
    assert(bad.getMessage.contains("col:lo:hi"), bad.getMessage)
  }

  test("convert --snapshot: re-runs over grown input land as delta versions") {
    import graft.maintain.Snapshots
    import spark.implicits._
    val root = TestSpark.tmpDir("cli-snap-tree")
    graft.sources.FixtureTree.writeComments(root, nDockets = 2,
      commentsPerDocket = 3)
    val out = TestSpark.tmpDir("cli-snap-out")
    graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--snapshot"))
    val tbl = s"$out/comments"
    assert(Snapshots.versions(spark, tbl) == Seq(1L))
    assert(Snapshots.read(spark, tbl).count() == 6)
    // grow the tree by one docket and re-run: ONLY the delta appends
    graft.sources.FixtureTree.writeComments(root, nDockets = 3,
      commentsPerDocket = 3)
    graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--snapshot"))
    assert(Snapshots.versions(spark, tbl) == Seq(1L, 2L))
    assert(Snapshots.read(spark, tbl).count() == 9)
    // the CDC read serves exactly the new docket's comments
    val delta = Snapshots.readAppendedBetween(spark, tbl, 1, 2)
    assert(delta.count() == 3)
    assert(delta.select("id").as[String].collect()
      .forall(_.contains("2025-0002")), "delta leaked old-docket rows")
    // an UNCHANGED re-run is a no-op: no junk version eats the
    // retention window
    graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--snapshot"))
    assert(Snapshots.versions(spark, tbl) == Seq(1L, 2L),
      "unchanged re-run committed a junk version")
  }

  test("convert --snapshot records agency/date stats: filtered reads skip files") {
    import graft.maintain.Snapshots
    val root = TestSpark.tmpDir("cli-snap-stats-tree")
    graft.sources.FixtureTree.writeComments(root, nDockets = 6,
      commentsPerDocket = 4)
    val out = TestSpark.tmpDir("cli-snap-stats-out")
    // tiny maxPartitionBytes: each docket's JSON lands in its own scan
    // task → one output file per task, agency-pure files (the classic
    // mode's partition layout, recovered here by clustering) — the
    // condition under which per-file agency stats are selective
    val conf = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "2048")
    try graft.cli.Main.run(spark,
      Array("convert", root, "--output-path", out, "--snapshot"))
    finally spark.conf.set(conf, prev)
    val tbl = s"$out/comments"
    val total = Snapshots.read(spark, tbl).inputFiles.length
    assert(total >= 3, s"fixture produced only $total files")
    // the agency equality read — the reference's hottest filter —
    // plans fewer files from the default-recorded string stats
    val one = Snapshots.readVersionWhereStr(
      spark, tbl, 1L, "agency", "AAA", "AAA")
    assert(one.inputFiles.length < total,
      s"agency stats did not prune: ${one.inputFiles.length}/$total")
    val gotRows = one.filter(org.apache.spark.sql.functions
      .col("agency") === "AAA").count()
    val wantRows = Snapshots.read(spark, tbl)
      .filter(org.apache.spark.sql.functions.col("agency") === "AAA")
      .count()
    assert(gotRows == wantRows && gotRows > 0)
    // postedDate stats landed too (the date-analytics hot path):
    // the automatic prune rule fires on an ORDINARY filtered read
    spark.conf.set("spark.graft.snapshotPruning", "true")
    try {
      val pruned = Snapshots.read(spark, tbl)
        .filter(org.apache.spark.sql.functions.col("agency") === "AAA")
      val planned = pruned.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum
      assert(planned < total,
        s"ordinary agency filter did not prune: $planned/$total")
      assert(pruned.count() == wantRows)
    } finally spark.conf.set("spark.graft.snapshotPruning", "false")
  }

  test("snapshot --bloom and cluster verbs: unclustered key erasure, post-hoc clustering") {
    import graft.maintain.Snapshots
    import spark.implicits._
    val t = TestSpark.tmpDir("cli-snap-bloom")
    val src = s"$t/src"; val tbl = s"$t/tbl"
    spark.range(1000).toDF("id").repartition(4).write.parquet(src)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "create", src,
      "--stats", "id", "--bloom", "id"))
    val v1Files = Snapshots.read(spark, tbl).inputFiles.toSet
    // key erasure on the hash-mixed layout rewrites only bloom-hit files
    graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
      "--keys", "7", "--key-col", "id"))
    val v2Files = Snapshots.readVersion(spark, tbl, 2).inputFiles.toSet
    assert((v1Files & v2Files).size >= v1Files.size - 1,
      "CLI key erasure rewrote more than the bloom-hit file")
    assert(Snapshots.read(spark, tbl).count() == 999)
    // cluster verb: range-cluster + stats re-record as a new version
    graft.cli.Main.run(spark, Array("snapshot", tbl, "cluster",
      "--by", "id", "--target-files", "4"))
    val pruned = Snapshots.readVersionWhere(spark, tbl,
      Snapshots.versions(spark, tbl).last, "id", 100, 120)
    assert(pruned.inputFiles.length < 4,
      s"clustered table did not prune: ${pruned.inputFiles.length}")
  }

  test("snapshot long-form bounds carry time-of-day; delete --keys erases ids") {
    import graft.maintain.Snapshots
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    val t = TestSpark.tmpDir("cli-snap3")
    val src = s"$t/src"; val tbl = s"$t/tbl"
    spark.range(48).select($"id",
        (to_timestamp(lit("2024-01-01 00:00:00")) +
          org.apache.spark.sql.functions
            .make_dt_interval(lit(0), $"id", lit(0), lit(0))).as("ts"))
      .repartitionByRange(4, $"ts").write.parquet(src)
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "create", src, "--stats", "ts,id"))
    // the colon form CANNOT carry '2024-01-01 06:30:00'; the long form
    // must (ADVICE r17) — read runs without a parse error
    graft.cli.Main.run(spark, Array("snapshot", tbl, "read",
      "--where-col", "ts",
      "--from", "2024-01-01 06:30:00", "--to", "2024-01-01 12:30:00"))
    // and delete with a half-day window: rows 7..12 (07:00..12:00)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
      "--where-col", "ts",
      "--from", "2024-01-01 06:30:00", "--to", "2024-01-01 12:30:00"))
    assert(Snapshots.read(spark, tbl).count() == 42)
    assert(Snapshots.read(spark, tbl)
      .filter(col("ts").between(
        lit("2024-01-01 06:30:00").cast("timestamp"),
        lit("2024-01-01 12:30:00").cast("timestamp"))).count() == 0)
    // key-set erasure from the CLI (numeric column → exact decimals)
    graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
      "--keys", "0,1", "--key-col", "id"))
    assert(Snapshots.read(spark, tbl).count() == 40)
    // passing both forms is a usage error, not a silent pick
    val both = intercept[RuntimeException] {
      graft.cli.Main.run(spark, Array("snapshot", tbl, "read",
        "--where", "id:1:2", "--where-col", "id",
        "--from", "1", "--to", "2"))
    }
    assert(both.getMessage.contains("not both"), both.getMessage)
  }

  test("delete --where routes by COLUMN type: numeric-looking string ids stay strings") {
    import graft.maintain.Snapshots
    import spark.implicits._
    val t = TestSpark.tmpDir("cli-snap-strroute")
    val src = s"$t/src"; val tbl = s"$t/tbl"
    // string ids that LOOK numeric — value-shape routing would compare
    // them as decimals, where '1500' is outside [100, 200] and
    // silently survives a destructive delete (review finding)
    Seq("100", "150", "1500", "200", "999").toDF("sid")
      .repartition(1).write.parquet(src)
    graft.cli.Main.run(spark,
      Array("snapshot", tbl, "create", src, "--stats", "sid"))
    graft.cli.Main.run(spark, Array("snapshot", tbl, "delete",
      "--where", "sid:100:200"))
    val left = Snapshots.read(spark, tbl).select("sid")
      .as[String].collect().toSet
    // STRING range semantics (byte order): '1500' ∈ ['100','200']
    assert(left == Set("999"), s"string-range delete left $left")
  }

  test("optimize compacts via the CLI") {
    import graft.maintain.Snapshots
    val path = TestSpark.tmpDir("cli-compact") + "/t"
    val orders = Tables.orders(spark, TestSpark.sf0001)
    Snapshots.create(orders.repartition(15), path)
    assert(Snapshots.read(spark, path).inputFiles.length == 15)
    graft.cli.Main.run(spark, Array("optimize", path, "2"))
    assert(Snapshots.versions(spark, path) == Seq(1L, 2L))
    assert(Snapshots.read(spark, path).inputFiles.length == 2)
    assert(Snapshots.read(spark, path).count() == orders.count())
  }

  test("vacuum sweeps orphaned snapshot batches via the CLI and drops no version") {
    import graft.maintain.Snapshots
    import spark.implicits._
    val root = TestSpark.tmpDir("cli-vacuum")
    Snapshots.create(Seq((1L, "a")).toDF("id", "v"), s"$root/t")
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), s"$root/t")
    // a commit that crashed before its manifest claim, hours ago
    val orphan = new java.io.File(s"$root/t/data/batch-crashed000000001")
    Seq((3L, "c")).toDF("id", "v").write.parquet(orphan.getPath)
    orphan.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
    graft.cli.Main.run(spark, Array("vacuum", root))
    assert(!orphan.exists, "orphaned batch not swept")
    assert(Snapshots.versions(spark, s"$root/t") == Seq(1L, 2L))
    assert(Snapshots.readVersion(spark, s"$root/t", 1L).count() == 1)
    assert(Snapshots.read(spark, s"$root/t").count() == 2)
  }

  test("curate runs the pipeline end-to-end via the CLI") {
    val in = TestSpark.tmpDir("cli-curate-in")
    val out = TestSpark.tmpDir("cli-curate-out") + "/curated"
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(in)
    graft.cli.Main.run(spark,
      Array("curate", in, out, "--min-quality", "0.1", "--min-chars", "5"))
    val curated = spark.read.parquet(out)
    val n = curated.count()
    assert(n > 0 && n <= Tables.documents(spark, TestSpark.sf0001).count())
    assert(curated.columns.contains("quality") &&
      curated.columns.contains("lang_pred"))
  }

  test("dedup-incremental and decontaminate run end-to-end via the CLI") {
    import spark.implicits._
    val refDir = TestSpark.tmpDir("cli-inc-ref")
    val inDir = TestSpark.tmpDir("cli-inc-in")
    val outDir = TestSpark.tmpDir("cli-inc-out") + "/kept"
    val base = "the quick brown fox jumps over the lazy dog again today"
    Seq((10L, base), (11L, "totally different reference content here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(refDir)
    Seq(
      (20L, base),                                  // exact dup → dropped
      (21L, base.replace("today", "tomorrow")),     // near dup → dropped
      (22L, "a brand new incoming document with fresh words"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    graft.cli.Main.run(spark,
      Array("dedup-incremental", inDir, refDir, outDir))
    assert(spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSeq == Seq(22L))

    val benchDir = TestSpark.tmpDir("cli-dec-bench")
    val decOut = TestSpark.tmpDir("cli-dec-out") + "/clean"
    Seq((100L, "secret benchmark question about spark engines"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(benchDir)
    graft.cli.Main.run(spark,
      Array("decontaminate", inDir, benchDir, decOut, "--shingle-k", "4"))
    // no incoming doc shares a 4-shingle with the bench → all kept
    assert(spark.read.parquet(decOut).count() == 3)
  }

  test("index-build, index-probe, decontaminate-spans and cap-source verbs run end-to-end") {
    import spark.implicits._
    val refDir = TestSpark.tmpDir("cli-idx-ref")
    val inDir = TestSpark.tmpDir("cli-idx-in")
    val idxDir = TestSpark.tmpDir("cli-idx") + "/index"
    val outDir = TestSpark.tmpDir("cli-idx-out") + "/kept"
    val base = "the quick brown fox jumps over the lazy dog again today"
    Seq((10L, base), (11L, "totally different reference content here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(refDir)
    Seq(
      (20L, base),                              // exact dup → dropped
      (21L, base.replace("today", "tomorrow")), // near dup → dropped
      (22L, "a brand new incoming document with fresh words"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    graft.cli.Main.run(spark, Array("index-build", refDir, idxDir))
    graft.cli.Main.run(spark, Array("index-probe", inDir, idxDir, outDir))
    assert(spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSeq == Seq(22L))

    val benchDir = TestSpark.tmpDir("cli-dspan-bench")
    val dsOut = TestSpark.tmpDir("cli-dspan-out") + "/clean"
    Seq((100L, "prefix quick brown fox jumps suffix"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(benchDir)
    graft.cli.Main.run(spark, Array(
      "decontaminate-spans", inDir, benchDir, dsOut, "--window-len", "4"))
    val ds = spark.read.parquet(dsOut)
    // doc 20 contains the bench 4-window "quick brown fox jumps" →
    // covered tokens excised, remainder kept; doc 22 untouched
    assert(ds.filter($"doc_id" === 20L)
      .select("n_removed").as[Long].head() > 0)
    assert(ds.filter($"doc_id" === 22L)
      .select("n_removed").as[Long].head() == 0)

    val capOut = TestSpark.tmpDir("cli-cap-out") + "/capped"
    val docsDir = TestSpark.tmpDir("cli-cap-in")
    Tables.documents(spark, TestSpark.sf0001)
      .write.mode("overwrite").parquet(docsDir)
    graft.cli.Main.run(spark,
      Array("cap-source", docsDir, capOut, "--max-docs", "3"))
    val perSrc = spark.read.parquet(capOut)
      .groupBy("source").count().as[(String, Long)].collect()
    assert(perSrc.nonEmpty && perSrc.forall(_._2 <= 3))

    val embDir2 = TestSpark.tmpDir("cli-pq-in")
    Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(embDir2)
    val pqOut = TestSpark.tmpDir("cli-pq-out") + "/codes"
    graft.cli.Main.run(spark, Array("pq-encode", embDir2, pqOut))
    val pq = spark.read.parquet(pqOut)
      .as[(Long, Seq[Int])].collect()
    assert(pq.length == 500 && pq.forall(_._2.length == 8))
  }

  test("dedup-lines, dedup-spans, semdedup and novelty verbs run end-to-end") {
    import spark.implicits._
    val docsDir = TestSpark.tmpDir("cli-ld-in")
    Seq(
      (1L, "BANNER LINE\nunique first body"),
      (2L, "BANNER LINE\nunique second body"),
      (3L, "only original text here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)

    val ldOut = TestSpark.tmpDir("cli-ld-out") + "/lines"
    graft.cli.Main.run(spark, Array("dedup-lines", docsDir, ldOut))
    val ld = spark.read.parquet(ldOut)
    assert(ld.filter($"doc_id" === 1L).select("kept_text")
      .as[String].head() == "unique first body")

    val sdOut = TestSpark.tmpDir("cli-sd-out") + "/spans"
    graft.cli.Main.run(spark,
      Array("dedup-spans", docsDir, sdOut, "--window-len", "2"))
    val sd = spark.read.parquet(sdOut)
    // tokenization crosses the newline, so docs 1+2 share the 2-token
    // windows "banner line" AND "line unique" → tokens 1-3 removed
    assert(sd.filter($"doc_id" === 1L)
      .select("n_removed", "kept_text")
      .as[(Long, String)].head() == ((3L, "first body")))

    val embDir = TestSpark.tmpDir("cli-sem-in")
    Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(embDir)
    val semOut = TestSpark.tmpDir("cli-sem-out") + "/kept"
    graft.cli.Main.run(spark,
      Array("semdedup", embDir, semOut, "--min-cosine", "0.35"))
    val nSem = spark.read.parquet(semOut).count()
    assert(nSem > 0 && nSem < spark.read.parquet(embDir).count())

    // report-only verb: must not throw, with and without --bloom
    graft.cli.Main.run(spark, Array("novelty", docsDir, docsDir))
    graft.cli.Main.run(spark, Array("novelty", docsDir, docsDir, "--bloom"))
  }

  test("containment-dedup, nb-filter, dsir-select, semantic-decon, jl-project verbs run end-to-end") {
    import spark.implicits._
    // containment-dedup: quoted doc dropped, container kept
    val cdIn = TestSpark.tmpDir("cli-cd-in")
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, quote),
      (2L, (1 to 40).map(i => s"w$i").mkString(" ") + " " + quote),
      (3L, "unrelated other content entirely here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(cdIn)
    val cdOut = TestSpark.tmpDir("cli-cd-out") + "/kept"
    graft.cli.Main.run(spark, Array("containment-dedup", cdIn, cdOut))
    assert(spark.read.parquet(cdOut).select("doc_id").as[Long]
      .collect().toSet == Set(2L, 3L))

    // nb-filter: spam dropped
    val trainDir = TestSpark.tmpDir("cli-nb-train")
    Seq(
      (1L, "the experiment measured the careful reaction", true),
      (2L, "buy cheap pills casino discount now", false)
    ).toDF("doc_id", "text", "good")
      .write.mode("overwrite").parquet(trainDir)
    val nbIn = TestSpark.tmpDir("cli-nb-in")
    Seq(
      (10L, "the reaction measured in the experiment"),
      (11L, "casino pills cheap discount")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(nbIn)
    val nbOut = TestSpark.tmpDir("cli-nb-out") + "/kept"
    graft.cli.Main.run(spark,
      Array("nb-filter", nbIn, trainDir, nbOut, "--label-col", "good"))
    assert(spark.read.parquet(nbOut).select("doc_id").as[Long]
      .collect().toSet == Set(10L))

    // dsir-select: the target-like doc wins
    val dsirTarget = TestSpark.tmpDir("cli-dsir-target")
    Seq((100L, "stars galaxies telescope orbit nebulae"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dsirTarget)
    val dsirOut = TestSpark.tmpDir("cli-dsir-out") + "/kept"
    graft.cli.Main.run(spark,
      Array("dsir-select", nbIn, dsirTarget, dsirOut, "--n", "1"))
    assert(spark.read.parquet(dsirOut).count() == 1L)

    // semantic-decon: the eval-identical vector is dropped
    val sdIn = TestSpark.tmpDir("cli-sd-in")
    Seq(
      (1L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)),
      (2L, Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f))
    ).toDF("vec_id", "embedding").write.mode("overwrite").parquet(sdIn)
    val evalDir = TestSpark.tmpDir("cli-sd-eval")
    Seq((50L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(evalDir)
    val sdOut = TestSpark.tmpDir("cli-sd-out") + "/kept"
    graft.cli.Main.run(spark, Array("semantic-decon", sdIn, evalDir, sdOut))
    assert(spark.read.parquet(sdOut).select("vec_id").as[Long]
      .collect().toSet == Set(2L))

    // jl-project: 8 -> 2 dims
    val jlOut = TestSpark.tmpDir("cli-jl-out") + "/proj"
    graft.cli.Main.run(spark,
      Array("jl-project", sdIn, jlOut, "--in-dim", "8", "--out-dim", "2"))
    val jl = spark.read.parquet(jlOut).as[(Long, Seq[Double])].collect()
    assert(jl.length == 2 && jl.forall(_._2.length == 2))
  }

  test("gopher-filter and phash-dedup verbs run end-to-end") {
    import spark.implicits._
    // gopher-filter: the stopword-bearing doc passes, the fragment fails
    val gIn = TestSpark.tmpDir("cli-gopher-in")
    Seq(
      (1L, "the cat sat with the dog near the barn", "s1"),
      (2L, "tiny doc", "s1")
    ).toDF("doc_id", "text", "source").write.mode("overwrite").parquet(gIn)
    val gOut = TestSpark.tmpDir("cli-gopher-out") + "/kept"
    graft.cli.Main.run(spark,
      Array("gopher-filter", gIn, gOut, "--min-words", "3"))
    assert(spark.read.parquet(gOut).select("doc_id").as[Long]
      .collect().toSet == Set(1L))

    // phash-dedup --keep: grayscale re-render collapses onto its
    // original; the distinct image survives
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val base = graft.llm.Multimodal
      .plantedMedia(spark.range(60).toDF("doc_id"))
      .filter(_.modality == "image")
      .filter(_.media_id < 4)   // one base image (id 0 or 2)
      .collect()
    val mIn = TestSpark.tmpDir("cli-phash-in")
    (base.toSeq ++ base.map(r => r.copy(
        media_id = r.media_id + 100L,
        payload = graft.llm.Multimodal.withGrayscale(r.payload))))
      .toDS().write.mode("overwrite").parquet(mIn)
    val mOut = TestSpark.tmpDir("cli-phash-out") + "/keepers"
    graft.cli.Main.run(spark, Array("phash-dedup", mIn, mOut, "--keep"))
    val keepers = spark.read.parquet(mOut)
      .select("media_id").as[Long].collect().toSet
    assert(keepers == base.map(_.media_id).toSet,
      s"originals keep, gray variants collapse: $keepers")

    // the advertised 3-column schema (no source_doc) must also work:
    // the verb defaults source_doc to media_id
    val mIn3 = TestSpark.tmpDir("cli-phash-in3")
    spark.read.parquet(mIn).select("media_id", "modality", "payload")
      .write.mode("overwrite").parquet(mIn3)
    val mOut3 = TestSpark.tmpDir("cli-phash-out3") + "/keepers"
    graft.cli.Main.run(spark, Array("phash-dedup", mIn3, mOut3, "--keep"))
    val keepers3 = spark.read.parquet(mOut3)
      .select("media_id").as[Long].collect().toSet
    assert(keepers3 == keepers, "3-column input matches the 4-column run")
  }

  test("dedup-spans-intradoc and winnow-pairs verbs run end-to-end") {
    import spark.implicits._
    val in = TestSpark.tmpDir("cli-intra-in")
    val span = "aa bb cc dd ee ff gg"
    Seq(
      (1L, "x a b c a b c y"),        // intra-doc repeat of "a b c"
      (2L, "pp qq " + span),          // shares a 7-token run with 3
      (3L, span + " rr ss")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)

    val intraOut = TestSpark.tmpDir("cli-intra-out") + "/cleaned"
    graft.cli.Main.run(spark, Array("dedup-spans-intradoc", in, intraOut))
    val cleaned = spark.read.parquet(intraOut)
      .select("doc_id", "kept_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "x a b c y", cleaned.toString)

    val pairsOut = TestSpark.tmpDir("cli-winnow-out") + "/pairs"
    graft.cli.Main.run(spark,
      Array("winnow-pairs", in, pairsOut, "--min-shared", "1"))
    val pairs = spark.read.parquet(pairsOut)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 3L)), pairs.toString)
  }

  test("sketch-build and sketch-query verbs run end-to-end") {
    import spark.implicits._
    val evDir = TestSpark.tmpDir("cli-sk-in")
    Tables.events(spark, TestSpark.sf0001)
      .select(org.apache.spark.sql.functions.to_date($"ts").as("day"),
        $"user_id", $"value")
      .write.mode("overwrite").parquet(evDir)

    val kllOut = TestSpark.tmpDir("cli-sk-out") + "/kll"
    graft.cli.Main.run(spark, Array("sketch-build", evDir, kllOut,
      "--type", "kll", "--bucket", "day", "--key", "value"))
    assert(spark.read.parquet(kllOut).columns.toSet == Set("bucket", "sketch"))
    graft.cli.Main.run(spark, Array("sketch-query", kllOut,
      "--type", "kll", "--q", "0.5,0.9"))

    val thetaOut = TestSpark.tmpDir("cli-sk-out2") + "/theta"
    graft.cli.Main.run(spark, Array("sketch-build", evDir, thetaOut,
      "--type", "theta", "--bucket", "day", "--key", "user_id"))
    graft.cli.Main.run(spark, Array("sketch-query", thetaOut,
      "--type", "theta",
      "--from", "2024-01-01", "--to", "2024-01-03",
      "--b-from", "2024-01-04", "--b-to", "2024-01-06"))

    val hllOut = TestSpark.tmpDir("cli-sk-out3") + "/hll"
    graft.cli.Main.run(spark, Array("sketch-build", evDir, hllOut,
      "--type", "hll", "--bucket", "day", "--key", "user_id"))
    graft.cli.Main.run(spark, Array("sketch-query", hllOut, "--type", "hll"))

    intercept[IllegalArgumentException] {
      graft.cli.Main.run(spark, Array("sketch-build", evDir,
        TestSpark.tmpDir("cli-sk-bad") + "/x", "--type", "nope"))
    }
  }

  test("profile --approx runs the sketch path") {
    graft.cli.Main.run(spark,
      Array("profile", TestSpark.sf0001, "orders", "--approx"))
    // no assertion beyond not-throwing: ProfileSpec bounds the sketch
  }

  test("lint passes a clean registered query and fails a cartesian") {
    graft.cli.Main.run(spark,
      Array("lint", TestSpark.sf0001, "j1_join_broadcast"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try intercept[IllegalArgumentException] {
      graft.cli.Main.run(spark, Array("lint", TestSpark.sf0001,
        "SELECT * FROM orders a, lineitem b"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("manifest builds via the CLI") {
    import graft.maintain.Snapshots
    import spark.implicits._
    val out = TestSpark.tmpDir("cli-manifest") + "/t"
    Snapshots.create(Tables.orders(spark, TestSpark.sf0001), out)
    graft.cli.Main.run(spark,
      Array("manifest", out, "o_totalprice,o_orderkey"))
    assert(Snapshots.versions(spark, out) == Seq(1L, 2L))
    // the new version's manifest carries o_totalprice min/max over
    // range-clustered files: a range read plans fewer files, same rows
    val inRange = $"o_totalprice".between(100000, 150000)
    val planned = Snapshots.readVersionWhere(
      spark, out, 2L, "o_totalprice", 100000, 150000)
    assert(planned.inputFiles.length <
      Snapshots.read(spark, out).inputFiles.length)
    assert(planned.filter(inRange).count() ==
      Snapshots.read(spark, out).filter(inRange).count())
  }

  test("unknown command rejected") {
    intercept[IllegalArgumentException] {
      graft.cli.Main.run(spark, Array("frobnicate"))
    }
  }
}
