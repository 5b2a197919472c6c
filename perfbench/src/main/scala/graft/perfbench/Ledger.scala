package graft.perfbench

import java.io.File

/** Byte accounting over the directories a workload writes.
  *
  * A file counts as created when its (path, size, mtime) was not in the
  * previous listing: a rewrite in place counts again, a file that only
  * survived does not. Snapshots are taken between ops, outside the
  * timed region, so a temporary file created and removed inside one op
  * is not seen (Spark's `_temporary` attempt files, mostly).
  */
final class Ledger(roots: Seq[File]) {
  private var last: Map[String, (Long, Long)] = Ledger.list(roots)

  /** Files created since the previous call: (count, bytes). */
  def created(): (Int, Long) = {
    val now = Ledger.list(roots)
    val (n, b) = Ledger.diff(last, now)
    last = now
    (n, b)
  }
}

object Ledger {
  def list(roots: Seq[File]): Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) b += f.getPath -> ((f.length(), f.lastModified()))
    roots.foreach(walk)
    b.result()
  }

  def diff(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Int, Long) = {
    val fresh = after.filter { case (p, st) => !before.get(p).contains(st) }
    (fresh.size, fresh.values.map(_._1).sum)
  }

  /** (files, bytes) on disk under `roots` now. */
  def stored(roots: Seq[File]): (Int, Long) = {
    val l = list(roots)
    (l.size, l.values.map(_._1).sum)
  }
}
