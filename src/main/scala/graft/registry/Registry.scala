package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ListBuffer

/** One registry row: the query's name, its Spark body and the DuckDB SQL
  * whose result the body must reproduce (column names aliased identically
  * in both; the parity check sorts columns by name before hashing
  * values). The oracle is built on first use, so running a query never
  * builds an oracle.
  */
final class RegistryRow(val name: String,
    val body: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

/** A file of registry rows. Each `row(...)` call sits right after the
  * body it names and declares that row once: name, body and oracle.
  */
abstract class Family {
  private val declared = ListBuffer.empty[RegistryRow]

  protected def row(name: String, body: (SparkSession, String) => DataFrame)(
      oracle: => String): Unit =
    declared += new RegistryRow(name, body, oracle)

  def rows: List[RegistryRow] = declared.toList
}

object Registry {
  /** One family per name prefix; [[graft.SparkEntry]] serves their rows. */
  val families: List[Family] = List(PipelineRows, TpchRows, QueryRows,
    StreamRows, DedupRows, EmbeddingRows, MediaRows, TextRows, CurationRows,
    GraphRows)

  /** Rows by name; fails naming the row when a name is declared twice. */
  def index(rows: Seq[RegistryRow]): Map[String, RegistryRow] =
    rows.foldLeft(Map.empty[String, RegistryRow]) { (m, r) =>
      require(!m.contains(r.name), s"registry row ${r.name} is declared twice")
      m.updated(r.name, r)
    }

  lazy val byName: Map[String, RegistryRow] = index(families.flatMap(_.rows))
}
