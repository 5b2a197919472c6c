package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** `graft.tools.Probe`: one JSON record per registered query, its job
  * count checked against this suite's own job counter, its conf
  * overrides in effect during the runs and put back afterwards. */
class ProbeSpec extends AnyFunSuite with SparkJobCounting {
  lazy val spark = TestSpark.spark

  private val names = Seq("a2_groupby_count", "j1_join_broadcast")
  private val partitions = "spark.sql.shuffle.partitions"
  private val fields = Seq("dir", "query", "overrides", "cold_s", "warm_s",
    "jobs", "stages", "tasks", "task_ms_max", "task_ms_p50",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "exchanges")

  test("one record per query; jobs match an independent count; overrides scoped") {
    // the shuffle-partition conf each probe job ran under, by its group
    val seen = ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val g = Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
          if (g.startsWith("graft-probe-") && !g.contains("fence"))
            seen.synchronized(seen += g -> p.getProperty(partitions))
        }
    }
    // the posture's keys include the shuffle partitions
    val before = Bench.posture().map(_._1).map(k => k -> spark.conf.getOption(k))
    spark.sparkContext.addSparkListener(listener)
    val lines =
      try Probe.run(spark, Seq(TestSpark.sf0001, names.mkString(","), "1",
        s"$partitions=3"))
      finally spark.sparkContext.removeSparkListener(listener)

    assert(Bench.posture().map(_._1).map(k => k -> spark.conf.getOption(k)) == before)
    assert(seen.nonEmpty)
    assert(seen.forall(_._2 == "3"), seen)

    val records = lines.map(new ObjectMapper().readTree(_))
    assert(records.map(_.get("query").asText) == names)
    records.foreach { r =>
      assert(r.fieldNames.asScala.toSeq.sorted == fields.sorted, r)
      assert(r.get("dir").asText == TestSpark.sf0001)
      assert(r.get("overrides").get(partitions).asText == "3")
      assert(r.get("warm_s").size == 1)
      assert(r.get("cold_s").asDouble > 0)
      assert(r.get("jobs").asLong >= 1)
      assert(r.get("tasks").asLong >= r.get("stages").asLong)
    }

    // the same warm run under the same session confs, counted by the
    // suite's own listener
    val set = Bench.posture() :+ (partitions -> "3")
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    val tables = Tables.names.map(Tables.load(spark, TestSpark.sf0001, _))
      .filter(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    Bench.cacheTables(spark, TestSpark.sf0001)
    try names.zip(records).foreach { case (n, r) =>
      val q = SparkEntry.queries(n)
      q(spark, TestSpark.sf0001).count()
      val (_, jobs) = jobsOf(q(spark, TestSpark.sf0001).count())
      assert(r.get("jobs").asLong == jobs.size, s"$n:${describe(jobs)}")
    } finally {
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      tables.foreach(_.unpersist())
    }
  }

  test("an unknown query or a malformed override fails naming it") {
    val unknown = intercept[IllegalArgumentException](
      Probe.run(spark, Seq(TestSpark.sf0001, "a2_groupby_count,no_such_query")))
    assert(unknown.getMessage.contains("no_such_query"))
    val malformed = intercept[IllegalArgumentException](
      Probe.run(spark, Seq(TestSpark.sf0001, "a2_groupby_count", "1",
        "spark.sql.shuffle.partitions")))
    assert(malformed.getMessage.contains("spark.sql.shuffle.partitions"))
    val noKey = intercept[IllegalArgumentException](
      Probe.run(spark, Seq(TestSpark.sf0001, "a2_groupby_count", "=3")))
    assert(noKey.getMessage.contains("=3"))
  }
}
