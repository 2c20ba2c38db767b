package graftbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result artifact (no extra dependency). */
object Js {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => str(other.toString)
  }
}

/** Wall-clock helpers. */
object Clock {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The two session recipes the program itself uses, copied conf for conf so
  * the artifact shows which one a workload ran under.
  */
object Sessions {
  /** Confs `graft.Main.main` sets (environment overrides unset). */
  def mainConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> "local[*]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** Confs `graft.Bench.main` sets for a local run on `cpus` cores. */
  def benchConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "graft-bench",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.network.timeout" -> "600s",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Where the session may write: everything stays under the work dir. */
  def placement(work: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.ui.enabled" -> "false")

  def start(confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Facts that make an artifact comparable only with runs on the same host. */
object Host {
  /** Seconds to sort one array of 2M seeded ints per core, all cores at
    * once, median of three: a program-independent reading of how fast the
    * host was during this run, recorded so host drift between runs shows.
    */
  def calibrate(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    def once(): Double = Clock.time {
      (0 until cores).map { c =>
        val t = new Thread(() => {
          val rnd = new java.util.Random(c)
          java.util.Arrays.sort(Array.fill(2000000)(rnd.nextInt()))
        })
        t.start()
        t
      }.foreach(_.join())
    }._2
    Clock.median(Seq(once(), once(), once()))
  }

  def facts(spark: SparkSession, confs: Seq[(String, String)], sourceDigest: String,
      commit: String, calibrationS: Double): Map[String, Any] = Map(
    "calibration_s" -> calibrationS,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "git_commit" -> commit,
    "source_digest" -> sourceDigest,
    "session_confs" -> confs.toMap,
    "default_parallelism" -> spark.sparkContext.defaultParallelism)
}
