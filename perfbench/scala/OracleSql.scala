package perfbench

import java.nio.file.{Files, Paths}

/** Writes every library query's DuckDB oracle SQL as one JSON object
  * (`name -> sql`) to the file named by the first argument.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = graft.SparkEntry.queries.keySet -- sql.keySet
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.toSeq.sorted}")
    Files.write(Paths.get(args(0)), Main.json.writeValueAsBytes(sql))
  }
}
