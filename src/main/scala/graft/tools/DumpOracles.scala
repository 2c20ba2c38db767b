package graft.tools

import com.fasterxml.jackson.databind.json.JsonMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dumps [[graft.SparkEntry.oracleSql]] as JSON without starting Spark —
  * the fast path for iterating on oracle-SQL rewrites against DuckDB
  * (tools/parity_check.py reads the same file from Verify).
  */
object DumpOracles {
  /** Writes `m` as one JSON object with sorted keys. Jackson escapes every
    * quote, backslash and control character, so a tab or CR in oracle SQL
    * cannot break the reader's `json.load`.
    */
  def write(path: Path, m: Map[String, String]): Unit =
    Files.writeString(path,
      JsonMapper.builder().build().writeValueAsString(new java.util.TreeMap(m.asJava)))

  def main(args: Array[String]): Unit = {
    write(Paths.get(args(0)), graft.SparkEntry.oracleSql)
    println("wrote " + args(0))
  }
}
