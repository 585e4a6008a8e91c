package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Prints `SparkEntry.oracleSql` for the given registry keys as one JSON
  * object (a key without an oracle maps to null). Used by
  * perfbench/panel.py.
  */
object OracleSql {
  def main(keys: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(keys.map(k => k -> sql.get(k).orNull).toMap))
  }
}
