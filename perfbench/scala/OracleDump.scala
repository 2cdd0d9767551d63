package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes every gate name and its DuckDB oracle SQL as JSON:
  * `{"gates": [...], "oracle_sql": {gate: sql}}`. Usage: `OracleDump OUT`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val doc = Json.obj("gates" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> graft.SparkEntry.oracleSql)
    Files.write(Paths.get(args(0)), Json.render(doc).getBytes("UTF-8"))
  }
}
