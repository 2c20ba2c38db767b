package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One configured execution and what a correct run of it produces,
  * computed by the generator from its own arithmetic, not by the program.
  */
final case class ExecSpec(key: String, dest: String, rows: Long, requests: Long)

/** A source file, its `_uploaded` log and the seeded copy restored before
  * each run.
  */
final case class SourceSpec(dest: String, path: String, keys: Seq[String],
    log: Option[String], seeded: Option[String])

/** Inputs of one activation run, read from `gen_activation.py`'s manifest. */
final case class ActivationInputs(configJson: String, execs: Seq[ExecSpec],
    sources: Seq[SourceSpec], rowsRead: Long) {
  def expected(key: String): ExecSpec = execs.find(_.key == key).get
}

object ActivationInputs {
  def load(manifest: String): ActivationInputs = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(manifest))
    def strs(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      n.elements().asScala.map(_.asText()).toSeq
    def opt(n: com.fasterxml.jackson.databind.JsonNode, f: String): Option[String] =
      Option(n.get(f)).map(_.asText())
    ActivationInputs(
      m.get("config").asText(),
      m.get("executions").elements().asScala.map { e =>
        ExecSpec(e.get("key").asText(), e.get("dest").asText(), e.get("rows").asLong(),
          e.get("requests").asLong())
      }.toSeq,
      m.get("sources").elements().asScala.map { s =>
        SourceSpec(s.get("dest").asText(), s.get("path").asText(), strs(s.get("keys")),
          opt(s, "log"), opt(s, "seeded"))
      }.toSeq,
      m.get("rows_read").asLong())
  }

  /** Digest of a key set: row count and an order-independent hash sum. */
  def keyDigest(df: DataFrame, keyCols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(keyCols.map(col): _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** After a correct run each log holds every key of its source exactly once. */
  def logDigests(spark: SparkSession, in: ActivationInputs): Map[String, (Long, java.math.BigDecimal)] =
    in.sources.filter(_.log.nonEmpty).map { s =>
      s.dest -> keyDigest(spark.read.parquet(s.path), s.keys)
    }.toMap
}
