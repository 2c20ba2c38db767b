package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Tiny filesystem helpers shared by scratch/fixture management and the
  * small sidecar files (manifests, schemas, version pointers) written next
  * to tables — one recursive delete and one whole-file string read/write
  * instead of a per-call-site copy.
  */
object Fs {
  /** Best-effort recursive delete of a LOCAL path (scratch/fixture trees
    * only — lakehouse layouts go through the Hadoop FS APIs).
    */
  def deleteTree(path: java.io.File): Unit = {
    Option(path.listFiles()).foreach(_.foreach(deleteTree))
    path.delete()
    ()
  }
  def deleteTree(path: String): Unit = deleteTree(new java.io.File(path))
  def deleteTree(path: java.nio.file.Path): Unit = deleteTree(path.toFile)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Writes `text` as UTF-8 to `path` on the Hadoop FS, overwriting. */
  def writeString(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, p).create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The whole UTF-8 content of `path` on the Hadoop FS, or None if there
    * is no such file.
    */
  def readString(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }
}
