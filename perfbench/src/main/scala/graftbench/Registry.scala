package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timing of one registry row, with the listener counters of its window
  * when a probe is attached.
  */
final case class QueryRun(name: String, family: String, wallS: Double, rows: Long,
    digest: String, error: Option[String], pinnedRdds: Int, startMs: Long, endMs: Long)

/** A fixed slice of `SparkEntry.queries`, one or more rows per family. */
object Registry {
  val slice: Seq[(String, String)] = Seq(
    "core" -> "q_anti_join_key", "core" -> "q_anti_join_2key", "core" -> "q_pii_hash_ads",
    "core" -> "q_pii_hash_dv", "core" -> "q_cm_custvars_fold", "core" -> "q_consolidate",
    "graph" -> "g_hits",
    "curation" -> "c_embedding_pipeline",
    "text" -> "t_conformal",
    "relational" -> "q_hll_distinct", "relational" -> "q5_supplier_volume",
    "relational" -> "q11_important_stock",
    "stream" -> "s_dedup_stream",
    "dedup" -> "d_minhash_lsh_pairs",
    "embed" -> "e_neardup_pairs",
    "media" -> "m_phash_neardup")

  val families: Seq[String] = slice.map(_._1).distinct

  /** Every output column in a canonical, engine-stable form: doubles at six
    * decimals (the parity gate's precision), nested values as JSON.
    */
  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6f", c)
        case _: DecimalType => c.cast(StringType)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c
      }
    }

  /** The timed action: row count plus an order-independent hash sum over
    * every column, so no output column can be pruned away.
    */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(canonical(df): _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def dropTempViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))

  /** `graft.Bench`'s warm-up: one scan and one query before timing. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    cleanup(spark)
  }

  /** `graft.Bench.timeOne`'s isolation between queries. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    dropTempViews(spark)
  }

  /** One timed query, cleanup included, as `Bench.timeOne` times it. */
  def timeOne(spark: SparkSession, sfDir: String, family: String, name: String): QueryRun = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (rows, dg, err, pinned) =
      try {
        val (n, d) = digest(SparkEntry.queries(name)(spark, sfDir))
        (n, d, None, spark.sparkContext.getPersistentRDDs.size)
      } catch {
        case e: Throwable => (-1L, "", Some(String.valueOf(e.getMessage).take(300)), 0)
      }
    cleanup(spark)
    val wall = (System.nanoTime() - t0) / 1e9
    QueryRun(name, family, wall, rows, dg, err, pinned, startMs, System.currentTimeMillis())
  }

  /** Writes each slice row's output as parquet for the oracle comparison. */
  def dump(spark: SparkSession, sfDir: String, out: String): Unit =
    slice.foreach { case (_, name) =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      cleanup(spark)
    }
}
