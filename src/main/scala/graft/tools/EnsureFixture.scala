package graft.tools

import graft.{Bench, GraftSession}

/** Materialize the bench's scaled fixture for a multiplier and exit,
  * so `graft.tools.Probe` can run on the x10/x100 dir of a box whose
  * /tmp was wiped without paying for a full `graft.Bench` run. The
  * dir it prints is Probe's DIR argument. Not part of the bench
  * contract.
  *
  * Run: PROBE_MULT=100 sbt "runMain graft.tools.EnsureFixture"
  */
object EnsureFixture {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("PROBE_MULT", "100").toInt
    val spark = GraftSession.get()
    val t0 = System.nanoTime()
    val dir = Bench.ensureScaledFixture(spark, sfDir, mult)
    println(f"PROBE fixture dir=$dir mult=$mult " +
      f"gen=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
