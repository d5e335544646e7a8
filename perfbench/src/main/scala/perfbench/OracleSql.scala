package perfbench

import java.nio.file.{Files, Paths}

import org.json4s.JsonAST.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Writes `graft.SparkEntry.oracleSql` for the named rows as a JSON object
  * (row -> DuckDB SQL), for `oracle_confirm.py`.
  *
  * Args: comma-separated rows, output path
  */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val rows = argv(0).split(",").toSeq.filter(sql.contains)
    Files.write(Paths.get(argv(1)),
      compact(render(JObject(rows.map(r => r -> JString(sql(r))).toList))).getBytes("UTF-8"))
  }
}
