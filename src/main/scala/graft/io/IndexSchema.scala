package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Persisted read schema for materialized index directories (IVF / PQ /
  * LSH bands).
  *
  * Index reads need an explicit schema because a `partitionBy` write of
  * an EMPTY corpus leaves no data files and inference fails the read;
  * deriving the schema from the QUERY frame instead (the round-10 fix)
  * made a NONEMPTY index unreadable whenever its stored types differ
  * from the query's — e.g. an array<float> corpus searched with
  * array<double> queries, a mix the scorers deliberately tolerate. The
  * durable answer: the WRITER records the frame's actual schema in an
  * underscore-prefixed JSON sidecar (invisible to Spark's data-file
  * listing, like `_SUCCESS`) and readers use it verbatim, falling back
  * to the caller-synthesized schema only for indexes written before the
  * sidecar existed.
  */
object IndexSchema {

  private def sidecar(dir: String) = s"$dir/_graft_schema.json"

  def write(spark: SparkSession, dir: String, schema: StructType): Unit =
    Fs.writeString(spark, sidecar(dir), schema.json)

  def read(spark: SparkSession, dir: String): Option[StructType] =
    Fs.readString(spark, sidecar(dir))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
}
