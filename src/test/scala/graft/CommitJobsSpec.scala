package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots

/** Spark jobs per snapshot commit on a warm table with three stats
  * columns and no blooms. A commit needs the jobs that write and scan
  * its own data batch; the manifest costs none: it is written on the
  * driver, and the new head's entries are memoised by the commit
  * itself. The bounds stop bookkeeping jobs from creeping back. */
class CommitJobsSpec extends AnyFunSuite with SparkJobCounting {
  lazy val spark = TestSpark.spark

  /** Frames of a job that reads or writes a manifest: its schema
    * inference, its collect, or a Spark write from [[Snapshots]]'s
    * commit. */
  private val manifestFrames = Seq("Snapshots$.manifestDf(",
    "Snapshots$.allManifests(", "Snapshots$.entriesOf(",
    "Snapshots$.commit(")

  private def manifestJobs(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(_.callSites.exists(cs => manifestFrames.exists(cs.contains)))

  private val statsCols = Seq("agency", "postedDate", "modifyDate")

  /** `n` comments from `from` on, in two partitions with no shuffle:
    * 5 dockets over 3 agencies. */
  private def comments(from: Int, n: Int): DataFrame =
    spark.range(from, from + n, 1, 2).select(
      format_string("c-%05d", col("id")).as("id"),
      format_string("d-%d", col("id") % 5).as("docketId"),
      element_at(array(lit("EPA"), lit("FDA"), lit("DOT")),
        (col("id") % 3 + 1).cast("int")).as("agency"),
      timestamp_seconds(lit(1700000000L) + col("id") * 3600)
        .as("postedDate"),
      timestamp_seconds(lit(1700000000L) + col("id") * 7200)
        .as("modifyDate"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60)
        .as("receiveDate"),
      format_string("text %d", col("id")).as("comment"))

  /** A 300-row table with one warm-up commit of each kind behind it. */
  private def warmTable(): String = {
    val t = TestSpark.tmpDir("commit-jobs") + "/t"
    Snapshots.create(comments(0, 300), t, statsCols = statsCols)
    Snapshots.commitAppend(comments(300, 20), t, statsCols = statsCols)
    upsert(t, 0)
    Snapshots.commitDeleteWhereStr(spark, t, "docketId", "d-4", "d-4")
    t
  }

  private def upsert(t: String, from: Int): Long =
    Snapshots.commitUpsert(
      comments(from, 4).withColumn("comment", lit("edited"))
        .withColumn("receiveDate", current_timestamp()),
      t, Seq("id"), "receiveDate", "comment")

  private def check(name: String, bound: Int, jobs: Seq[Job]): Unit = {
    assert(jobs.size <= bound,
      s"$name ran ${jobs.size} jobs, bound $bound:${describe(jobs)}")
    val m = manifestJobs(jobs)
    assert(m.isEmpty,
      s"$name ran ${m.size} manifest job(s):${describe(m)}")
  }

  test("a 20-row commitAppend with stats runs at most 3 jobs, none on a manifest") {
    val t = warmTable()
    val before = Snapshots.read(spark, t).count()
    val (_, jobs) = jobsOf(
      Snapshots.commitAppend(comments(400, 20), t, statsCols = statsCols))
    check("commitAppend", 3, jobs)
    assert(Snapshots.read(spark, t).count() == before + 20)
  }

  test("a 4-row commitUpsert runs at most 5 jobs, none on a manifest") {
    val t = warmTable()
    val (_, jobs) = jobsOf(upsert(t, 10))
    check("commitUpsert", 5, jobs)
    assert(Snapshots.read(spark, t).filter(col("comment") === "edited")
      .count() == 8)
  }

  test("a one-value commitDeleteWhereStr runs at most 4 jobs, none on a manifest") {
    val t = warmTable()
    val (_, jobs) = jobsOf(
      Snapshots.commitDeleteWhereStr(spark, t, "docketId", "d-3", "d-3"))
    check("commitDeleteWhereStr", 4, jobs)
    assert(Snapshots.read(spark, t).filter(col("docketId") === "d-3")
      .count() == 0)
  }

  test("the op after a commit resolves the new head with no job") {
    val t = warmTable()
    val v = Snapshots.commitAppend(comments(500, 20), t,
      statsCols = statsCols)
    val (entries, jobs) = jobsOf(Snapshots.entriesOf(spark, t, v))
    assert(jobs.isEmpty, s"entriesOf ran ${jobs.size} job(s)")
    def norm(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    assert(entries.map(e => norm(e.file)).toSet ==
      Snapshots.read(spark, t).inputFiles.map(norm).toSet)
  }
}
