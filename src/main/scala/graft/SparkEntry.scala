package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.Registry
import graft.registry.TpchRows.q1PricingSummary

/** Driver contract — one `queries` entry per operator from SURVEY.md §2,
  * plus the training-data-pipeline operators (dedup / similarity / text).
  * Each row is declared once, next to its body and its oracle SQL, in the
  * `graft.registry` file its name prefix selects (`p_`, TPC-H `q<N>_`,
  * `q_`, `s_`, `d_`, `e_`, `m_`, `t_`, `c_`, `g_`).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** The rows Bench and Verify run: those named in `SPARK_GRAFT_ONLY`
    * (comma-separated) for a targeted run, every row when it is unset.
    */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): String => Boolean =
    raw.fold[String => Boolean](_ => true)(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, r) => name -> r.body }

  lazy val oracleSql: Map[String, String] =
    Registry.byName.map { case (name, r) => name -> r.oracle }
}
