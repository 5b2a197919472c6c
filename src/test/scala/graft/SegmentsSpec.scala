package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.{Segments, Swap}

/** The segmented serving-index layout: idempotent segment writes, the
  * canonical-form compaction swap, and — the consistency contract the
  * maintenance story rests on — a PROBE interleaved with every phase
  * of a compaction's Swap sees the old table or the new one, never an
  * error or a mixed read.
  *
  * CROSS-PROCESS CONTRACT (r15 verdict ask #8, resolved as doc):
  * `Segments.tableLocks` serializes appends and compactions of one
  * table within a single JVM only. Compaction from a SEPARATE process
  * while an appender is live is NOT excluded — the operator contract
  * (stated in README §maintenance and the `index-compact` CLI help)
  * is to run compaction only when no other process appends to that
  * index: stop the stream first, or call the compact function from
  * the appender's own JVM, where the table lock below is what this
  * suite exercises. */
class SegmentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writeSegment is idempotent per (table, segId); segments accumulate") {
    val t = TestSpark.tmpDir("segments")
    Segments.writeBase(Seq(1, 2).toDF("x"), t)
    Segments.writeSegment(Seq(3).toDF("x"), t, "b0")
    Segments.writeSegment(Seq(4, 5).toDF("x"), t, "b1")
    assert(spark.read.parquet(t).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4, 5))
    // replay of b0 (same content) converges
    Segments.writeSegment(Seq(3).toDF("x"), t, "b0")
    assert(spark.read.parquet(t).count() == 5)
    // the seg column is exposed for maintenance, values as written
    assert(spark.read.parquet(t).select("seg").distinct()
      .as[String].collect().toSet == Set("base", "b0", "b1"))
    // a corrected replay (different content, same segId) REPLACES
    Segments.writeSegment(Seq(30, 31).toDF("x"), t, "b0")
    assert(spark.read.parquet(t).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 4, 5, 30, 31))
  }

  test("shardCount scales with the size estimate and clamps to conf") {
    val t = TestSpark.tmpDir("segments-shards")
    Seq.tabulate(1000)(i => (i, s"row-$i-payload")).toDF("id", "s")
      .write.mode("overwrite").parquet(t)
    val scan = spark.read.parquet(t)
    // a KB-scale table at the default 128 MB target: one shard —
    // the tiny-corpus end the former constant 32 got wrong
    assert(Segments.shardCount(scan) == 1)
    val conf = spark.conf
    try {
      // force many shards, then hit the cap
      conf.set("spark.graft.index.shardBytes", "1")
      conf.set("spark.graft.index.maxShards", "7")
      assert(Segments.shardCount(scan) == 7)
      // target larger than the table: floor of 1
      conf.set("spark.graft.index.shardBytes", (1L << 40).toString)
      assert(Segments.shardCount(scan) == 1)
    } finally {
      conf.unset("spark.graft.index.shardBytes")
      conf.unset("spark.graft.index.maxShards")
    }
  }

  test("localRows memo sees a same-path rewrite even at forced-equal mtimes") {
    // ADVICE r18: directory mtimes are second-granularity on some
    // local filesystems and synthetic on object stores, so a rewrite
    // landing inside the granularity window must NOT serve the stale
    // memo. The key fingerprints the listing (name/len/mtime per
    // file); Spark part-file names carry a per-write UUID, so even
    // with every mtime pinned equal the rewrite is a fresh key.
    val t = TestSpark.tmpDir("segments_memokey") + "/meta"
    val p = new Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pinTimes(): Unit = {
      val fixed = 1700000000000L
      fs.listStatus(p).foreach(s => fs.setTimes(s.getPath, fixed, fixed))
      fs.setTimes(p, fixed, fixed)
    }
    Seq((1, "old")).toDF("format", "tag")
      .coalesce(1).write.mode("overwrite").parquet(t)
    pinTimes()
    assert(Segments.localRows(spark, t).get.head.getString(1) == "old")
    Seq((1, "new")).toDF("format", "tag")
      .coalesce(1).write.mode("overwrite").parquet(t)
    pinTimes()
    assert(Segments.localRows(spark, t).get.head.getString(1) == "new",
      "stale memo row served after a same-mtime rewrite")
  }

  test("writeBase clears prior segments and root-layout leftovers") {
    val t = TestSpark.tmpDir("segments_base")
    // pre-segment layout leftover: a root-level parquet file
    Seq(9).toDF("x").write.mode("overwrite").parquet(t)
    Segments.writeBase(Seq(1).toDF("x"), t)
    Segments.writeSegment(Seq(2).toDF("x"), t, "b0")
    Segments.writeBase(Seq(7).toDF("x"), t)
    assert(spark.read.parquet(t).select("x").as[Int].collect().toSeq
      == Seq(7))
  }

  test("an empty base segment reads back as an empty table, not an error") {
    val t = TestSpark.tmpDir("segments_empty")
    Segments.writeBase(Seq.empty[Int].toDF("x"), t)
    assert(spark.read.parquet(t).count() == 0)
    assert(spark.read.parquet(t).columns.contains("x"))
  }

  test("segment ids are validated (they become directory names)") {
    val t = TestSpark.tmpDir("segments_badid")
    intercept[IllegalArgumentException] {
      Segments.writeSegment(Seq(1).toDF("x"), t, "evil/../../id")
    }
  }

  test("an append must not target the base segment (that is a rebuild)") {
    val t = TestSpark.tmpDir("segments_basereject")
    Segments.writeBase(Seq(1, 2).toDF("x"), t)
    val e = intercept[IllegalArgumentException] {
      Segments.writeSegment(Seq(9).toDF("x"), t, Segments.BaseSeg)
    }
    assert(e.getMessage.contains("writeBase"))
    assert(spark.read.parquet(t).count() == 2)
  }

  test("an append heals a crashed compaction instead of shadowing it") {
    // crash window: a compaction died between its two renames — the
    // REAL table sits only at __swap_bak. An append that recreated
    // the table path would make the next recover() delete the backup
    // (the entire pre-crash table) as stale; writeSegment must
    // recover first.
    val t = TestSpark.tmpDir("segments_healappend") + "/tbl"
    Segments.writeBase(Seq(1, 2, 3).toDF("x"), t)
    val p = new Path(t)
    val bak = new Path(t + "__swap_bak")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, bak)) // simulate the crash window
    Segments.writeSegment(Seq(4).toDF("x"), t, "b0")
    assert(!fs.exists(bak), "backup not healed before the append")
    assert(spark.read.parquet(t).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4), "pre-crash rows lost")
    // and the next recover() is a no-op, not a data-loss event
    Swap.recover(fs, p, bak)
    assert(spark.read.parquet(t).count() == 4)
  }

  test("a stale swap backup beside a live index is deleted, never merged in") {
    // crash window: a compaction died after its second rename but
    // before deleting the backup — the live table is complete and
    // __swap_bak holds an older copy. The next append and the next
    // compaction must each drop that copy, never read it.
    val t = TestSpark.tmpDir("segments_stalebak") + "/tbl"
    val bak = new Path(t + "__swap_bak")
    val fs = bak.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantStale(): Unit =
      Seq(99).toDF("x").write.parquet(s"$bak/seg=${Segments.BaseSeg}")
    def xs() = spark.read.parquet(t).select("x").as[Int].collect().sorted.toSeq
    Segments.writeBase(Seq(1, 2, 3).toDF("x"), t)
    plantStale()
    Segments.writeSegment(Seq(4).toDF("x"), t, "b0")
    assert(!fs.exists(bak), "append left the stale backup")
    assert(xs() == Seq(1, 2, 3, 4), "stale backup rows resurfaced")
    plantStale()
    Segments.replaceTable(spark, t)(identity)
    assert(!fs.exists(bak), "compaction left the stale backup")
    assert(xs() == Seq(1, 2, 3, 4), "stale backup rows resurfaced")
  }

  test("probe interleaved with a compaction swap sees old-or-new, never halves") {
    import graft.llm.Retrieval
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val idx = TestSpark.tmpDir("swap_probe_idx")
    Retrieval.writeBm25Index(corpus.filter($"doc_id" % 2 === 0), idx)
    Retrieval.appendToBm25Index(corpus.filter($"doc_id" % 2 === 1), idx,
      segId = "late")
    val terms = Seq("hash", "merge", "scan")
    def probe() = Retrieval.bm25TopKIndexed(spark, idx, terms, k = 15)
      .as[(Long, Long, Double)].collect().toSeq
    val expected = probe()

    val stats = new Path(s"$idx/stats")
    val tmp = new Path(s"$idx/stats__swap_tmp")
    val bak = new Path(s"$idx/stats__swap_bak")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // phase 1: canonical replacement staged at tmp — a concurrent
    // probe reads the untouched old table
    spark.read.parquet(stats.toString).drop("seg")
      .agg(sum($"n_docs").as("n_docs"), sum($"total_dl").as("total_dl"))
      .write.parquet(s"$tmp/seg=base")
    assert(probe() == expected, "probe changed while tmp staged")

    // phase 2: the swap itself — immediately after, the probe reads
    // the NEW table and results are unchanged by construction
    Swap.replace(fs, stats, tmp, bak)
    assert(probe() == expected, "probe changed across the swap")

    // crash window A: between the two renames (table only at backup).
    // recover() BEFORE the read — the maintenance contract — restores
    // it; the probe then sees the complete old table
    assert(fs.rename(stats, bak))
    Swap.recover(fs, stats, bak)
    assert(probe() == expected, "probe changed after recover-restore")

    // crash window B: after the second rename but before the backup
    // delete (stale backup beside a live table) — recover drops the
    // stale copy, probe unchanged
    assert(fs.mkdirs(bak))
    Swap.recover(fs, stats, bak)
    assert(!fs.exists(bak))
    assert(probe() == expected)
  }

  test("cloneTree clones exactly; mutating the clone never touches the source") {
    // The r19 bench-isolation clone hardlinks base-index files instead
    // of byte-copying them. That is sound ONLY because segment-protocol
    // mutations are new-file writes, renames, and unlinks — so this
    // pins (a) the clone reads identically, and (b) an append AND a
    // compaction (replaceTable = the unlink-heavy path) applied to the
    // clone leave the source's listing and bytes untouched.
    val conf = spark.sparkContext.hadoopConfiguration
    val src = TestSpark.tmpDir("segments_clone_src") + "/tbl"
    Segments.writeBase(Seq(1, 2, 3).toDF("x"), src)
    Segments.writeSegment(Seq(4, 5).toDF("x"), src, "a0")

    def listing(root: String): Map[String, Long] = {
      val fs = new Path(root).getFileSystem(conf)
      val rootAbs = fs.makeQualified(new Path(root)).toUri.getPath
      def walk(p: Path): Seq[(String, Long)] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toUri.getPath.stripPrefix(rootAbs),
            st.getLen)))
      walk(new Path(root)).toMap
    }
    val srcBefore = listing(src)

    val dst = TestSpark.tmpDir("segments_clone_dst") + "/tbl"
    Segments.cloneTree(conf, src, dst)
    assert(spark.read.parquet(dst).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4, 5))
    assert(listing(dst) == srcBefore, "clone must mirror the source tree")

    // mutate the CLONE: one append, then the compaction swap (which
    // unlinks every pre-existing file of the table)
    Segments.writeSegment(Seq(6).toDF("x"), dst, "a1")
    Segments.replaceTable(spark, dst)(identity)
    assert(spark.read.parquet(dst).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4, 5, 6))
    assert(listing(src) == srcBefore,
      "mutating the clone must not alter the source listing")
    assert(spark.read.parquet(src).select("x").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3, 4, 5), "source rows must survive clone mutations")
  }
}
