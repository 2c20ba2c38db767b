package graft
import java.nio.file.Paths
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Session settings
  * are Spark's own confs: e.g. -Dspark.master='local-cluster[4,4,6144]'
  * exercises real executors, real exchanges, real serialization
  * (SCALING.md §cluster), and -Dspark.checkpoint.dir=<d>
  * -Dgraft.checkpoint.reliable=true routes loop pins to reliable
  * checkpoints (graft.util.Checkpoints). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.util.Sessions.start("graft-verify", graft.io.EventTs.NanosAsLong)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val keep = SparkEntry.only()
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.util.Sessions.clearQueryState(spark)
    }
    graft.tools.DumpOracles.write(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    spark.stop()
  }
}
