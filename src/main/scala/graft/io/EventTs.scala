package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Encoding-adaptive normalization of the events-table `ts` column.
  *
  * The driver's generated `events.parquet` has shipped `ts` under two
  * physical encodings across regenerations: parquet TIMESTAMP(NANOS)
  * (which Spark can only read as an ns-epoch BIGINT, via
  * `spark.sql.legacy.parquet.nanosAsLong`) and plain µs TIMESTAMP
  * (read as TIMESTAMP_NTZ). All query logic in this engine speaks ONE
  * internal convention — `ts` as an ns-epoch long — so every reader of
  * the raw table funnels through here and branches on the actual
  * schema, not an assumed encoding.
  *
  * The µs→ns widening is exact (×1000 on a µs-precision value), and the
  * NTZ cast is instant-preserving because every session in this engine
  * pins `spark.sql.session.timeZone=UTC` — the same frame DuckDB's
  * `epoch_us(ts)` uses on the oracle side. Works on streaming frames
  * too (a stateless projection).
  */
object EventTs {

  /** The session conf that lets a TIMESTAMP(NANOS) `ts` load at all (as
    * an ns-epoch BIGINT; without it the read fails with
    * `PARQUET_TYPE_ILLEGAL`). Every main that reads the registry's tables
    * passes it to [[graft.util.Sessions.start]]. `graft.Main` does not:
    * there a NANOS source column would upload epoch-ns numbers as
    * conversion times instead of failing.
    */
  val NanosAsLong: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** `ts` as an ns-epoch long, whatever the parquet encoding was. */
  def toNsLong(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case _ => df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
  }

  /** `ts` as a µs-precision TIMESTAMP (the shape the windowed streaming
    * operators consume), whatever the parquet encoding was.
    */
  def toTimestamp(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // FLOOR division ns→µs (`div` truncates toward zero, which would round
    // pre-epoch instants the wrong way; the driver data is post-epoch, but
    // the conversion shouldn't silently depend on that)
    case LongType => df.withColumn("ts", timestamp_micros(
      expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
    case _ => df.withColumn("ts", col("ts").cast("timestamp"))
  }
}
