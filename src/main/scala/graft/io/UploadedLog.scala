package graft.io

import graft.model.TransactionalType
import org.apache.hadoop.fs.{ParentNotDirectoryException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** `_uploaded` control table on parquet (reference keeps it in BigQuery with
  * 15-day partition expiration, `big_query_data_source.py:118-148`, or as a
  * sibling `<base>_uploaded.<ext>` file, `file_data_source.py:94-154`).
  *
  * Semantics preserved:
  *  - read-missing-as-empty (`file_provider.py` can_skip_read)
  *  - 15-day retention applied at read (`file_data_source.py:140-147`)
  *  - append-only writeback of (key columns, run timestamp) for successful
  *    rows
  *  - ORDER_ID_TIME writes ALL key columns (the reference drops `time` on
  *    writeback, `file_data_source.py:109` — a documented reference bug we
  *    do not reproduce).
  */
final case class UploadedLog(spark: SparkSession, path: String, tt: TransactionalType,
    nowMicros: Long = System.currentTimeMillis() * 1000L) {

  private def schema: StructType =
    StructType(StructField("timestamp", TimestampType) +:
      tt.keyColumns.map(StructField(_, StringType)))

  /** The log's rows of the 15 days before `nowMicros`. Fails, naming the
    * path, when no log exists and none can be created there (the nearest
    * existing ancestor is not a directory): read as empty, every row would
    * be sent before the append failed.
    */
  def read(): DataFrame = {
    // Path.getFileSystem, not FileSystem.get(new URI(...)): a path with a
    // space or other URI-reserved character would throw URISyntaxException
    // even though Spark itself reads it fine
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw =
      if (fs.exists(p)) spark.read.schema(schema).parquet(path)
      else {
        Iterator.iterate(fs.makeQualified(p).getParent)(_.getParent).takeWhile(_ != null)
          .find(fs.exists)
          .filterNot(fs.getFileStatus(_).isDirectory)
          .foreach(a => throw new ParentNotDirectoryException(
            s"the _uploaded log $path cannot be created: $a is not a directory"))
        // first run, no log yet: an empty frame with the log's schema
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      }
    graft.transform.Transforms.retentionFilter(raw, nowMicros)
  }

  /** Append the key columns of successfully-uploaded rows, stamped with
    * `nowMicros`. Serialized per path: two concurrently-running branches can
    * share one control table (same source, same key type), and concurrent
    * append jobs to one directory race on the output committer's staging
    * dir.
    */
  def append(successful: DataFrame): Unit = {
    if (tt.keyColumns.nonEmpty) {
      UploadedLog.lockFor(path).synchronized {
        successful
          .select(tt.keyColumns.map(c => col(c).cast(StringType).as(c)): _*)
          .withColumn("timestamp", timestamp_micros(lit(nowMicros)))
          .select("timestamp", tt.keyColumns: _*)
          .write.mode("append").parquet(path)
      }
    }
  }
}

object UploadedLog {
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** In-JVM per-path lock shared by everything that appends to an
    * append-only parquet log (the `_uploaded` control table, the dedup
    * digest log): serializes the read→check→append window so concurrent
    * same-path writers in one driver can neither admit duplicates nor race
    * on the output committer's staging directory. Cross-driver concurrency
    * still needs an external arbiter (a lock service or a transactional
    * table format) — same single-writer assumption the reference's control
    * table has.
    */
  private[graft] def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)
}
