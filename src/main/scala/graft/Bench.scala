package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session settings are Spark's own confs, set with -D or
    // spark-submit --conf (see Sessions.recipe for the defaults):
    //  - spark.master: 'local-cluster[…]' for multi-process runs;
    //  - spark.sql.shuffle.partitions: above sf0.1 per-task hash-aggregate
    //    state is rows/partitions-sized, so a 100x corpus wants 128+
    //    partitions (observed: g_kcore at sf10);
    //  - spark.executor.memory: local-cluster's bracket caps the worker,
    //    but executors still default to 1g;
    //  - spark.checkpoint.dir plus graft.checkpoint.reliable=true: durable
    //    loop pins (see Checkpoints);
    //  - graft.checkpoint.storage and spark.rdd.compress: serialized pins;
    //  - spark.sql.streaming.streamingQueryListeners=graft.StreamStateLog:
    //    one state-store line per micro-batch.
    val spark = graft.util.Sessions.start("graft-bench", graft.io.EventTs.NanosAsLong)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed JVM/codegen warmup so per-query numbers measure steady-state
    // plans, not first-query JIT (the first timed query used to absorb
    // ~4s of warmup regardless of which query it was).
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // One isolated, timed execution of query `name` (cleanup included) —
    // the unit both the full pass and the retry loop are built from. The
    // cleanup keeps query N's residue from shrinking query N+1's
    // storage/execution memory.
    def timeOne(name: String, label: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Progress to stderr (stdout carries only the JSON line): at larger
      // SFs a single degenerating query can run for minutes — the log shows
      // WHICH one without waiting for the final line.
      System.err.println(f"[bench] $label$name%-28s $dt%8.2fs")
      graft.util.Sessions.clearQueryState(spark)
      (dt, ok)
    }
    // Sorted order: Map iteration order reshuffles whenever the registry
    // grows, which makes per-query times incomparable across rounds (each
    // query's number depends on what ran before it).
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.only())
    def runPass(label: String): Seq[(String, Double, Boolean)] =
      names.map { name =>
        val (dt, ok) = timeOne(name, label)
        (name, dt, ok)
      }
    val pass1 = runPass("")
    pass1.foreach { case (name, _, ok) => if (!ok) failed += name }
    val results = pass1.map { case (name, dt, _) => name -> dt }
    // The bench host shows multi-minute I/O-stall windows that inflate
    // whichever queries happen to run inside one (see SCALING.md), so an
    // artifact of record needs de-noising:
    //  - default (driver per-round budget): re-time the 15 slowest rows
    //    once and keep the per-query minimum — a genuinely heavy query
    //    re-measures heavy, a noise-inflated one re-measures fast;
    //  - SPARK_GRAFT_BENCH_PASSES=N (closing artifacts): N FULL passes,
    //    per-query minimum over successful runs — no row escapes the
    //    de-noising, so cross-round comparisons trust every entry.
    // A retry that FAILS keeps the earlier time: its fast failure
    // wall-clock is not a measurement (observed at sf10 when a dying
    // JVM recorded 0.03s "retries" through the old min()).
    // Loud validation: a typo'd value must name the env var and die, not
    // crash with a bare NumberFormatException or silently fall back to 1.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map { raw =>
      val n = raw.trim.toIntOption.getOrElse(sys.error(
        s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$raw'"))
      if (n < 1) sys.error(
        s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got '$raw'")
      n
    }.getOrElse(1)
    val retried: Seq[(String, Double)] =
      if (passes >= 2) {
        (2 to passes).foldLeft(results) { (acc, p) =>
          val next = runPass(s"p$p ").map { case (n, dt, ok) => n -> (dt, ok) }.toMap
          acc.map { case (name, best) =>
            val (dt, ok) = next(name)
            name -> (if (ok && !failed.contains(name)) math.min(best, dt) else best)
          }
        }
      } else {
        val retry = results.sortBy(-_._2).take(15).map(_._1).toSet
        results.map { case (name, t1) =>
          if (!retry(name) || failed.contains(name)) name -> t1
          else {
            val (t2, ok) = timeOne(name, "retry ")
            name -> (if (ok) math.min(t1, t2) else t1)
          }
        }
      }
    val qs = retried.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = retried.map(_._2).sum
    // Honesty: the min-of-N de-noising can only LOWER a number, so the raw
    // pass-1 timings of every re-timed query are emitted alongside — a
    // persistently slow query shows slow in `first_pass` even when a lucky
    // second run shrank its `queries` entry. (Multi-pass mode re-times
    // everything, so first_pass carries the whole pass.)
    val retimed: Set[String] =
      if (passes >= 2) names.toSet
      else results.sortBy(-_._2).take(15).map(_._1).toSet
    val firstPass = results.filter { case (k, _) => retimed(k) }
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first_pass":$firstPass,"sf":"$sfDir"}"""
    // Repo artifact: the driver's tail capture truncates long output, so
    // cross-round per-query comparison needs the FULL json somewhere
    // stable. One file per (sf, day), host metadata included so a noisy
    // run is attributable. regen_scaling.py reads these.
    try {
      val sfName = sfDir.replaceAll("/+$", "").split('/').last
      val day = java.time.LocalDate.now().toString
      val outDir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench"))
      java.nio.file.Files.createDirectories(outDir)
      val host = s""""host":{"master":"${spark.sparkContext.master}","cpus":"${spark.sparkContext.defaultParallelism}","jvm_max_mem_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},"available_processors":${Runtime.getRuntime.availableProcessors()},"date":"$day","passes":$passes}"""
      val full = line.dropRight(1) + "," + host + "}\n"
      // SPARK_GRAFT_BENCH_TAG names an artifact of record (e.g.
      // `r12_closing`) — deterministic path, overwrite allowed (re-running
      // a closing pass is explicit intent). Untagged runs never clobber an
      // earlier same-day pass (the SCALING.md method min-merges two passes
      // — both must survive).
      val target = sys.env.get("SPARK_GRAFT_BENCH_TAG") match {
        case Some(tag) => outDir.resolve(s"bench_$tag.json")
        case None => Iterator.from(0)
          .map(i => outDir.resolve(
            if (i == 0) s"bench_${sfName}_$day.json"
            else s"bench_${sfName}_${day}_p${i + 1}.json"))
          .find(p => !java.nio.file.Files.exists(p)).get
      }
      java.nio.file.Files.writeString(target, full)
      // Fixed path the driver (and any tooling) can always read without
      // guessing names — overwritten every run.
      java.nio.file.Files.writeString(outDir.resolve("latest.json"), full)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed (non-fatal): ${e.getMessage}")
    }
    // ROOT CAUSE of "parsed": null in rounds 1-12: fork=true + sbt's
    // default LoggedOutput prefixed every stdout line with "[info] ", so
    // the JSON line never started at column 0 and the driver's per-line
    // parse failed EVERY round (the r12 compact-tail-line theory was
    // wrong — r01's short line was fully inside the tail window and still
    // did not parse). build.sbt now sets OutputStrategy.StdoutOutput, and
    // the full per-query line below is the ONLY stdout line — no compact
    // shadow line that a last-match parser could pick up instead (its
    // human-readable summary moved to stderr).
    val slowest = retried.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    val median = {
      val ts = retried.map(_._2).sorted
      if (ts.isEmpty) 0.0 else ts(ts.size / 2)
    }
    System.err.println(s"""[bench] summary total=$total n_queries=${retried.size} median_sec=$median slowest=$slowest full_artifact=bench/latest.json""")
    println(line)
    spark.stop()
    // A broken query must fail the bench, not silently report a fast time.
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

/** `[stream-state]` stderr line per micro-batch with stateful operators:
  * state-store rows and memory per operator. Enable it with
  * `-Dspark.sql.streaming.streamingQueryListeners=graft.StreamStateLog`
  * (the static conf reaches the drains' session clones, which a listener
  * added with `spark.streams.addListener` does not); digested by
  * tools/stream_state_report.py. Attribution: the bench runs
  * queries serially and prints each query's line to the same stderr, so
  * state lines sit above the query that drained them.
  */
class StreamStateLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.stateOperators.nonEmpty)
      System.err.println(
        s"[stream-state] name=${Option(p.name).getOrElse(p.id)} " +
          s"batch=${p.batchId} " +
          p.stateOperators.map(o => s"${o.operatorName}: " +
            s"rows=${o.numRowsTotal} mem=${o.memoryUsedBytes}B")
            .mkString(" | "))
  }
}
