package graft.maintain

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe in-place directory replacement for the segmented
  * serving indexes ([[Segments.replaceTable]], the `index-compact`
  * arm; [[Segments.writeSegment]] heals an interrupted one first).
  * Snapshot tables need none of this: their commits are one atomic
  * manifest rename over immutable batches ([[Snapshots]]).
  *
  * The swap is two renames: `path` → `backup`, then `tmp` → `path`,
  * then delete `backup`. Two hazards the naive version ignores:
  *
  *  - HDFS-style FileSystems report rename failure by RETURNING FALSE,
  *    not throwing. An unchecked false first rename makes the second
  *    rename nest `tmp` under the still-present `path` (or fail too),
  *    and an unchecked false second rename leaves NO table at `path` —
  *    both silently corrupt downstream readers. Every rename result is
  *    checked here and failure raises with the exact stranded layout.
  *
  *  - A crash between the renames leaves the table only at `backup`.
  *    [[recover]] must therefore run BEFORE any read of the table: it
  *    restores a backup whose table is missing, and deletes a stale
  *    backup beside a live table (crash after the second rename but
  *    before the cleanup delete — leaving it would make the NEXT
  *    swap's first rename fail against the existing destination).
  */
object Swap {

  final class SwapFailedException(msg: String) extends java.io.IOException(msg)

  private def fail(msg: String): Nothing = throw new SwapFailedException(msg)

  /** Heal the on-disk state of an interrupted prior swap. Idempotent;
    * call before reading `path`. Returns true if anything was done. */
  def recover(fs: FileSystem, path: Path, backup: Path): Boolean =
    if (!fs.exists(backup)) false
    else if (fs.exists(path)) {
      // crash landed after the second rename: backup is a stale copy
      if (!fs.delete(backup, true))
        fail(s"could not delete stale backup $backup; " +
          s"remove it manually before retrying")
      true
    } else {
      // crash landed between the renames: the backup IS the table
      if (!fs.rename(backup, path))
        fail(s"table missing at $path and restore of backup $backup " +
          s"failed; data is intact at $backup")
      true
    }

  /** Atomically-as-the-FS-allows replace `path` with `tmp` via
    * `backup`. On a second-rename failure the backup is restored, so
    * the caller never loses the original table silently.
    *
    * Self-healing: a leftover `backup` from an interrupted earlier
    * swap is resolved by invoking [[recover]] first (stale copy
    * deleted, or missing table restored and then swapped normally) —
    * callers need not remember the recover-before-replace order,
    * though calling recover() before building `tmp` is still the
    * right pattern because `tmp` should derive from the HEALED table. */
  def replace(fs: FileSystem, path: Path, tmp: Path, backup: Path): Unit = {
    if (!fs.exists(tmp))
      fail(s"replacement $tmp does not exist")
    recover(fs, path, backup)
    if (!fs.rename(path, backup))
      fail(s"rename $path -> $backup failed; table untouched at $path")
    if (!fs.rename(tmp, path)) {
      val restored = fs.rename(backup, path)
      fail(s"rename $tmp -> $path failed; " +
        (if (restored) s"original table restored at $path"
         else s"RESTORE ALSO FAILED — table is at $backup"))
    }
    if (!fs.delete(backup, true))
      // non-fatal: the table at `path` is complete; recover() on the
      // next maintenance run clears the stale copy
      System.err.println(s"[graft] warning: stale backup $backup not deleted")
  }
}
