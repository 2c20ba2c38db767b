package graft
import java.nio.file.{Files, Paths}

/** Plan-evidence dumper for optimization rounds: writes
  * `.explain("formatted")` of named registry queries to files.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <suffix> q1,q2,... [executed]
  * → <outDir>/<query>_<suffix>.txt
  *
  * Default: planning only — no query executes (AQE shows the initial
  * plan; Exchange counts, static join strategies, PushedFilters and
  * ReadSchema are all visible). With the optional 5th arg `executed`,
  * each query RUNS (noop-equivalent count) first and the FINAL
  * re-optimized AQE plan is appended — the authoritative join-strategy
  * evidence (AQE rewrites SMJ→BHJ/SHJ at runtime from observed sizes,
  * which the initial plan cannot show).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir, suffix, names), executed) =
      if (args.length >= 5 && args(4) == "executed") (args.take(4), true)
      else (args, false)
    val spark = graft.util.Sessions.start("graft-explain", graft.io.EventTs.NanosAsLong)
    spark.sparkContext.setLogLevel("ERROR")
    // ...but each hint BroadcastGuard strips stays on stderr as one
    // `BroadcastGuard:` line, next to the dumps it changed
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.plans.BroadcastGuard", org.apache.logging.log4j.Level.WARN)
    Files.createDirectories(Paths.get(outDir))
    // A typo'd query name or a planning failure must fail the RUN, not
    // produce a "successful" dump with silently missing evidence files.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val initial = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val txt = if (executed) {
          // collect() drives THIS Dataset's own QueryExecution, so the
          // AdaptiveSparkPlanExec below prints the final re-optimized
          // plan (a count()/noop would execute a different QE). Registry
          // queries return audit-sized outputs, so the collect is small.
          df.collect()
          initial + "\n\n== Final Plan (AQE, after execution) ==\n" +
            df.queryExecution.executedPlan.toString
        } else initial
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[explain] wrote ${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
        failed += name
      }
      graft.util.Sessions.clearQueryState(spark)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
