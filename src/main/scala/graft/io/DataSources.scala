package graft.io

import graft.model._
import graft.schema.DestinationSchemas
import graft.transform.Transforms
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-source factory (reference `data_sources/data_source.py:27-44`
  * `DataSource.get_data_source`): dispatch on SourceType, yielding the
  * branch's fully-shaped DataFrame plan — read → validate → prune → cast →
  * destination shaping → transactional anti-join.
  *
  * Cloud seam: `bqPathFor` maps (dataset, table) to a path; in a cluster
  * deployment this is where `spark.read.format("bigquery")` plugs in (the
  * reference requires `bq_ops_dataset` for transactional BQ reads,
  * `big_query_data_source.py:47-49` — the analog is `uploadedLogPathFor`).
  * URI schemes (`s3a://`, `gs://`, `file://`) resolve through Hadoop FS
  * natively — the reference's FileProvider dispatch
  * (`data_sources/file/file_provider.py:38-187`) collapses into the
  * filesystem layer; the read-missing-as-empty semantics live in
  * [[UploadedLog.read]].
  */
final case class DataSource(
    format: String,
    path: String,
    uploadedLogPath: String)

object DataSources {

  def forSource(src: SourceSpec, bqPathFor: (String, String) => String,
      uploadedLogPathFor: String => String, bqFormat: String = "parquet"): DataSource =
    src.sourceType match {
      case SourceType.File =>
        val p = src.metadata(1)
        DataSource(src.metadata.head, p, uploadedLogPathFor(p))
      case SourceType.BigQuery =>
        val p = bqPathFor(src.metadata.head, src.metadata(1))
        DataSource(bqFormat, p, uploadedLogPathFor(p))
    }

  /** The per-(source, branch) declared plan (reference effective query,
    * SURVEY §3.2): pruned scan → schema validation → cast → per-destination
    * shaping → LEFT ANTI JOIN against the `_uploaded` log for transactional
    * branches. Throws on validation failure (caller maps it to one error
    * per execution, like the reference's in-read raise). The log's 15-day
    * lookback counts back from `nowMicros`.
    */
  def retrieveData(spark: SparkSession, ds: DataSource, dt: DestinationType,
      transactional: TransactionalType,
      nowMicros: Long = System.currentTimeMillis() * 1000L): DataFrame = {
    // Every source is one DataFrame scan, pruned right after the read so
    // Catalyst pushes the column projection into the format reader (parquet
    // and ORC `ReadSchema`, DSv2 sources alike). Any Spark format name plugs
    // in here: "json" in tests proves the seam, and in a cluster deployment
    // "bigquery" (connector on the classpath, path = dataset.table via
    // bqPathFor) takes the same path. CSV reads with a header and no schema
    // inference, so every column is a string until the cast below (the
    // reference's `dtype='string'` pandas read, `file_data_source.py:202-219`);
    // empty strings read as nulls, like its NaN→None normalization.
    val reader = spark.read.format(ds.format)
    val raw = DestinationSchemas.prune(
      (if (ds.format == "csv") reader.option("header", "true") else reader).load(ds.path), dt)
    val cols = raw.columns.toSeq
    if (!DestinationSchemas.validateDataColumns(cols, dt))
      throw new IllegalArgumentException(DestinationSchemas.errorMessage(cols, dt))
    val shaped = DestinationSchemas.processByDestinationType(
      DestinationSchemas.castNonString(raw, dt), dt)
    if (transactional != TransactionalType.NotTransactional) {
      val log = UploadedLog(spark, ds.uploadedLogPath, transactional, nowMicros)
      Transforms.antiJoinUploaded(shaped, log.read(), transactional)
    } else shaped
  }
}
