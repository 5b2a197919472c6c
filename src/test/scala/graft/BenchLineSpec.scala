package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s stdout line must reach its harvester whole: the
  * harvester keeps the last 2,000 characters. */
class BenchLineSpec extends AnyFunSuite {

  /** Every x100 entry timed, with wide values (four integer digits). */
  private def tier(mult: Int, names: Seq[String]) = Bench.Tier(mult,
    names.map(n => (n, 1234.5678, 1234.5678)), 9876.5432,
    names.map(n => s""""$n": 1234.5678""").mkString("{", ", ", "}"))

  private val headline = Bench.headline.map(n => (n, 1234.5678, 1234.5678))
  private val x10 = tier(10, Bench.headline)
  private val x100 = tier(100, Bench.x100Names)

  private def line(x10: Bench.Tier, x100: Bench.Tier): String =
    Bench.stdoutLine(1234.5678, headline, 243, 9876.5432,
      x10.duckdbQueries, x10, x100, "[12.34,12.34]", 123.4, 123456L,
      Map("gzip" -> 4.321, "lz4" -> 2.345, "snappy" -> 2.468, "zstd" -> 5.678),
      "/a/checkout/path/of/some/length/BENCH_DETAIL.json",
      "/a/testdata/path/sf0.1")

  test("the line fits 2,000 chars with a full 26-entry x100 tier") {
    assert(Bench.x100Names.size == 26)
    val l = line(x10, x100)
    assert(l.length <= 2000, s"${l.length} chars")
  }

  test("the line keeps every field the harvester reads; the x100 maps are in the detail") {
    val j = new ObjectMapper().readTree(line(x10, x100))
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "headline_total", "n_queries", "duckdb_headline_total",
      "duckdb_queries", "spark_headline_comparable", "x10", "x100_spot",
      "load_avg", "mode", "dockets_per_sec", "gc_ms", "codec_ratios",
      "detail", "sf"))
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    assert(j.get("value").asDouble == 1234.5678)
    assert(j.get("queries").fieldNames.asScala.toSeq == Bench.headline)
    assert(j.get("n_queries").asInt == 243)
    assert(j.get("duckdb_queries").fieldNames.asScala.toSeq == Bench.headline)
    Seq("x10" -> 10, "x100_spot" -> 100).foreach { case (k, mult) =>
      assert(j.get(k).fieldNames.asScala.toSeq == Seq("mult", "spark", "duckdb"))
      assert(j.get(k).get("mult").asInt == mult)
    }
    assert(math.abs(j.get("x100_spot").get("spark").asDouble - 26 * 1234.5678) < 1e-3)

    val detail = new ObjectMapper().readTree(x100.json(perQuery = true))
    assert(detail.get("queries").fieldNames.asScala.toSeq == Bench.x100Names)
    assert(detail.get("duckdb_queries").fieldNames.asScala.toSeq ==
      Bench.x100Names)
  }

  test("a tier that did not run is null on the line") {
    val none = Bench.Tier(100, Seq.empty, -1.0, "{}")
    val j = new ObjectMapper().readTree(line(none, none))
    assert(j.get("x10").isNull && j.get("x100_spot").isNull)
  }
}
