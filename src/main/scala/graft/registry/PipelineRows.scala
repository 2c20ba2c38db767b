package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Shared._

/** Registry rows `p_*`: the activation engine itself under the oracle gate. */
object PipelineRows extends Family {

  /** SURVEY §7.2 minimum end-to-end slice as an oracle query: the OCI branch
    * runs TWICE over an events-derived source through the real pipeline
    * (config parse → branch plan → anti-join → batching → renderer →
    * transport → `_uploaded` writeback); run 1 uploads every row, run 2's
    * anti-join excludes them all. Output (run, uploaded) is deterministic,
    * so the DuckDB oracle states the fixpoint: (1, count(*)), (2, 0).
    */
  private def pPipelineIdempotence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = scratch("idem").toString
    val src = s"$tmp/conversions.parquet"
    t(s, dir, "events")
      .select(col("event_id").cast("string").as("gclid"),
        date_format(timestamp_micros(tsUs), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("time"),
        col("value").cast("string").as("amount"))
      .write.mode("overwrite").parquet(src)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "oci src", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
      "Destinations": [{"Name": "oci dst", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv1"]}],
      "Connections": [{"Enabled": true, "Source": "oci src", "Destination": "oci dst"}]
    }"""
    val executions = graft.config.JsonConfigSource.fromString(config).executions()
    val opts = graft.pipeline.PipelineOptions(
      transport = graft.sink.FileTransport(s"$tmp/out"))
    val run1 = graft.pipeline.Pipeline.run(s, executions, opts)
    val run2 = graft.pipeline.Pipeline.run(s, executions, opts)
    Seq((1L, run1.totalUploaded), (2L, run2.totalUploaded)).toDF("run", "uploaded")
  }
  row("p_pipeline_idempotence", pPipelineIdempotence)(
    """SELECT 1 AS run, count(*) AS uploaded FROM events
         UNION ALL SELECT 2 AS run, CAST(0 AS BIGINT) AS uploaded""")

  /** Branch-registry conformance: one row per destination branch with the
    * constants lifted from the reference's step definitions — the oracle is
    * the literal table, so any registry drift fails the hash match (the
    * Spark-side analog of the reference's graph test,
    * `steps/processing_steps_test.py:31-37`).
    */
  private def pBranchRegistry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Branches.all.map { b =>
      (b.destinationType.name, b.batchSize.toLong, b.readTransactional.name,
        b.writebackTransactional.map(_.name).getOrElse("NONE"),
        b.hasher.isDefined, b.rateLimitPerSec.map(_.toLong).getOrElse(0L))
    }.toDF("destination_type", "batch_size", "read_transactional",
      "writeback_transactional", "hashed", "rate_limit")
  }
  row("p_branch_registry", pBranchRegistry)(
    """SELECT * FROM (VALUES
         ('ADS_SSD_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_SSI_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_USER_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_OFFLINE_CONVERSION', 2000, 'GCLID_TIME', 'GCLID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID', 2000, 'GCLID_TIME', 'GCLID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID', 2000, 'ORDER_ID_TIME', 'ORDER_ID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_CALLS', 2000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('ADS_ENHANCED_CONVERSION_LEADS', 2000, 'UUID', 'UUID', true, 0),
         ('GA_USER_LIST_UPLOAD', 5000000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('GA_DATA_IMPORT', 1000000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('GA_MEASUREMENT_PROTOCOL', 20, 'UUID', 'UUID', false, 0),
         ('GA_4_MEASUREMENT_PROTOCOL', 20, 'UUID', 'UUID', false, 0),
         ('CM_OFFLINE_CONVERSION', 1000, 'UUID', 'UUID', false, 0),
         ('DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('APPSFLYER_S2S_EVENTS', 1000, 'UUID', 'UUID', false, 500)
       ) AS t(destination_type, batch_size, read_transactional,
              writeback_transactional, hashed, rate_limit)""")
}
