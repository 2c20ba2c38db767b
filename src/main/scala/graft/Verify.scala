package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Master override for multi-process runs — e.g.
    // SPARK_GRAFT_MASTER='local-cluster[4,4,6144]' exercises real
    // executors, real exchanges, real serialization (SCALING.md §cluster).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // see Bench: shuffle width decouples from core count at larger SFs
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffle)
    // local-cluster workers spawn executor JVMs that don't inherit the
    // sbt/driver classpath; hand it over explicitly.
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    // Route iterative-operator loop pins to reliable checkpoints
    // (graft.util.Checkpoints): the cluster-safe mode where an executor
    // loss recomputes from the checkpoint file instead of failing the job.
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").foreach { _ =>
      builder.config("graft.checkpoint.reliable", "true")
    }
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE SMJ->SHJ rewrite, same setting as Bench (opt guide §3.1)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "0"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.ts encoding varies across testdata regenerations: NANOS
      // parquet loads as an ns-long under this flag, µs TIMESTAMP loads
      // natively — graft.io.EventTs normalizes both at read time
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").foreach { d =>
      spark.sparkContext.setCheckpointDir(d)
    }
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for targeted local parity runs
    // (absent → the full registry, which is what the driver dumps).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Drop any persisted/checkpointed residue so 60+ sequential queries
      // don't accumulate storage blocks (same isolation as Bench).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // drop temp views a query leaves behind (q_sql_gateway registers
      // some; the stream drains keep theirs on a session clone) so the
      // sequential queries don't accumulate them
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(tv => spark.catalog.dropTempView(tv.name))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
