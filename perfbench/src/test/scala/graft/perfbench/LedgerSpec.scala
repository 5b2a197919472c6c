package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Byte accounting: what counts as created between two listings. */
class LedgerSpec extends AnyFunSuite {
  private def tmpDir(): File = Files.createTempDirectory("ledger").toFile

  private def put(f: File, bytes: Int, mtime: Long): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Array.fill[Byte](bytes)(1))
    f.setLastModified(mtime)
  }

  test("new files count once, survivors do not") {
    val d = tmpDir()
    put(new File(d, "a/old.parquet"), 100, 1000000L)
    val l = new Ledger(Seq(d))
    put(new File(d, "a/new.parquet"), 40, 2000000L)
    put(new File(d, "b/_manifest"), 7, 2000000L)
    assert(l.created() == ((2, 47L)))
    assert(l.created() == ((0, 0L)))
  }

  test("a rewrite in place counts again; a deleted file counts nothing") {
    val d = tmpDir()
    val f = new File(d, "t/part-0.parquet")
    put(f, 100, 1000000L)
    put(new File(d, "t/part-1.parquet"), 50, 1000000L)
    val l = new Ledger(Seq(d))
    put(f, 120, 3000000L)
    new File(d, "t/part-1.parquet").delete()
    assert(l.created() == ((1, 120L)))
  }

  test("diff and stored agree with the listing") {
    val before = Map("x" -> ((10L, 1L)), "y" -> ((20L, 1L)))
    val after = Map("x" -> ((10L, 1L)), "y" -> ((25L, 2L)), "z" -> ((5L, 2L)))
    assert(Ledger.diff(before, after) == ((2, 30L)))
    val d = tmpDir()
    put(new File(d, "p/q"), 33, 1000000L)
    put(new File(d, "r"), 9, 1000000L)
    assert(Ledger.stored(Seq(d)) == ((2, 42L)))
    assert(Ledger.stored(Seq(new File(d, "missing"))) == ((0, 0L)))
  }
}
