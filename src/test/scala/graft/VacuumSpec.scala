package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots

/** The `vacuum ROOT` verb: every snapshot table directly under ROOT
  * loses what crashed commits left behind — data batches no version
  * references and manifests never claimed — once older than the
  * in-flight age floor. No version is dropped and nothing else under
  * ROOT is touched. */
class VacuumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A crashed commit's residue: a written `dir` under `table` that no
    * version references, aged past the sweep's one-hour floor unless
    * `old` is false (a commit still in flight). */
  private def plant(table: String, dir: String, old: Boolean = true): File = {
    val f = new File(s"$table/$dir")
    Seq((0L, "orphan")).toDF("id", "v").write.parquet(f.getPath)
    if (old) f.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
    f
  }

  private def vacuum(root: String): Unit =
    graft.cli.Main.run(spark, Array("vacuum", root))

  private def rows(table: String): Seq[(Long, String)] =
    Snapshots.read(spark, table).orderBy("id").as[(Long, String)]
      .collect().toSeq

  private def listing(root: String): Seq[(String, Long)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .map(f => (f.getPath, if (f.isFile) f.length else -1L)).sorted
    finally walk.close()
  }

  test("vacuum heals every crash residue class in one sweep") {
    val root = TestSpark.tmpDir("vacuum")
    val (t1, t2) = (s"$root/t1", s"$root/t2")
    Snapshots.create(Seq((1L, "a")).toDF("id", "v"), t1)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), t1)
    Snapshots.create(Seq((3L, "c")).toDF("id", "v"), t2)
    // crash before the manifest claim: a data batch and no version
    val batch1 = plant(t1, "data/batch-crashed000000001")
    val batch2 = plant(t2, "data/batch-crashed000000002")
    // crash between the manifest write and the claim
    val manifest = plant(t2, "_snapshots/.tmp-v2-crashed00001")
    val inFlight = plant(t2, "data/batch-inflight00000003", old = false)
    val before = (rows(t1), rows(t2))
    vacuum(root)
    assert(!batch1.exists && !batch2.exists && !manifest.exists)
    assert(inFlight.exists, "a commit still in flight lost its batch")
    assert(Snapshots.versions(spark, t1) == Seq(1L, 2L))
    assert(Snapshots.versions(spark, t2) == Seq(1L))
    assert((rows(t1), rows(t2)) == before)
  }

  test("a dir named exactly a bare suffix does not derail the sweep") {
    val root = TestSpark.tmpDir("vacuum_bare")
    // plain directories, not snapshot tables: never touched
    Seq((7L, "keep")).toDF("id", "v").write.parquet(s"$root/_preupsert")
    Seq((8L, "keep")).toDF("id", "v").write.parquet(s"$root/_compacting")
    Snapshots.create(Seq((1L, "a")).toDF("id", "v"), s"$root/t")
    val batch = plant(s"$root/t", "data/batch-crashed000000001")
    vacuum(root)
    assert(!batch.exists, "the sweep stopped before the snapshot table")
    assert(spark.read.parquet(s"$root/_preupsert").as[(Long, String)]
      .collect().toSeq == Seq((7L, "keep")))
    assert(spark.read.parquet(s"$root/_compacting").as[(Long, String)]
      .collect().toSeq == Seq((8L, "keep")))
    assert(rows(s"$root/t") == Seq((1L, "a")))
  }

  test("vacuum on a clean root is a no-op") {
    val root = TestSpark.tmpDir("vacuum_clean")
    Snapshots.create(Seq((1L, "a")).toDF("id", "v"), s"$root/t")
    Snapshots.compact(spark, s"$root/t", targetFiles = 1)
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$root/plain")
    val before = listing(root)
    vacuum(root)
    assert(listing(root) == before)
    assert(Snapshots.versions(spark, s"$root/t") == Seq(1L, 2L))
  }
}
