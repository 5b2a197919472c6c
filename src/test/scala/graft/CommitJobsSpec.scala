package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.maintain.Snapshots

/** Spark jobs per snapshot commit on a warm table with three stats
  * columns and no blooms. A commit needs the jobs that write and scan
  * its own data batch; the manifest costs none: it is written on the
  * driver, and the new head's entries are memoised by the commit
  * itself. The bounds stop bookkeeping jobs from creeping back. */
class CommitJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  /** One started job: its group and its stages' long call sites. */
  private case class Job(group: String, callSites: Seq[String])

  private val seen = ArrayBuffer.empty[Job]
  private val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.synchronized {
        seen += Job(
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse(""),
          e.stageInfos.map(_.details))
      }
  }

  // the session is shared by every suite in the JVM: listen only
  // while this suite runs
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit =
    try {
      spark.sparkContext.removeSparkListener(listener)
      seen.synchronized(seen.clear())
    } finally super.afterAll()

  private var markers = 0

  /** Runs a one-task job in a fresh marker group and waits until the
    * listener has seen it. The bus delivers events in order, so every
    * earlier job has been seen too. Returns the marker's position. */
  private def fence(): Int = {
    markers += 1
    val g = s"commit-jobs-fence-$markers"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def at: Int = seen.synchronized(seen.indexWhere(_.group == g))
    while (at < 0 && System.nanoTime() < deadline) Thread.sleep(5)
    assert(at >= 0, s"listener never saw fence job $g")
    at
  }

  /** The jobs `body` started: everything between two fences. */
  private def jobsOf[T](body: => T): (T, Seq[Job]) = {
    val from = fence()
    val out = body
    val to = fence()
    (out, seen.synchronized(seen.slice(from + 1, to).toSeq))
  }

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

  private def describe(jobs: Seq[Job]): String =
    jobs.map(_.callSites.headOption.getOrElse("?").linesIterator
      .take(3).mkString(" / ")).mkString("\n  ", "\n  ", "")

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
