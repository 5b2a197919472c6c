package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Counts the Spark jobs a block of code starts, for specs that pin
  * job counts. The session is shared by every suite in the JVM, so the
  * listener is added in `beforeAll` and removed in `afterAll`. */
trait SparkJobCounting extends BeforeAndAfterAll { this: Suite =>
  def spark: SparkSession

  /** One started job: its group, and its stages' short names
    * (`collect at Foo.scala:12`) and long call sites. */
  case class Job(group: String, names: Seq[String], callSites: Seq[String])

  private val seen = ArrayBuffer.empty[Job]
  private val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.synchronized {
        seen += Job(
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse(""),
          e.stageInfos.map(_.name),
          e.stageInfos.map(_.details))
      }
  }

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
    val g = s"${suiteName}-fence-$markers"
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
  def jobsOf[T](body: => T): (T, Seq[Job]) = {
    val from = fence()
    val out = body
    val to = fence()
    (out, seen.synchronized(seen.slice(from + 1, to).toSeq))
  }

  /** One line per job: the first three frames of its first stage's
    * call site. */
  def describe(jobs: Seq[Job]): String =
    jobs.map(_.callSites.headOption.getOrElse("?").linesIterator
      .take(3).mkString(" / ")).mkString("\n  ", "\n  ", "")
}
