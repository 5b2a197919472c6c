package graft.tools

/** Dump selected oracleSql / bench-twin entries as a JSON object
  * consumable by tools/duckdb_headline.py — for solo DuckDB
  * feasibility/timing checks of scale-tier candidates.
  *
  * Usage: runMain graft.tools.OracleSqlDump <outFile> <q1,q2,…>
  */
object OracleSqlDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: OracleSqlDump <outFile> <q1,q2,...>")
    val (n, json) = graft.Bench.comparableSqlJson(
      args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[oraclesqldump] wrote ${args(0)} ($n queries)")
  }
}
