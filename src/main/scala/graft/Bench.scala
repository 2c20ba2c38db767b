package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Temp views a query leaves in the session are swept after it (a view
    * can pin every row it was built from on the driver). The stream drains
    * register their memory-sink views on a session clone, never here;
    * `q_sql_gateway` still registers views on the caller's session.
    */
  private def dropTempViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Same overrides as Verify: SPARK_GRAFT_MASTER for multi-process runs
    // (local-cluster), SPARK_GRAFT_RELIABLE_CKPT for durable loop pins.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // Shuffle width decouples from core count above sf0.1: per-task
    // hash-aggregate state is (rows / partitions)-sized, so a 100x corpus
    // on the same 32 partitions can exhaust task memory where 128+
    // partitions stream through comfortably (observed: g_kcore at sf10).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffle)
      // Giant local soaks (sf30: 180M-row lineitem in one 80g JVM) hit
      // multi-minute full-GC pauses; at the 10s/120s defaults the in-JVM
      // executor misses heartbeats, the driver evicts it, and the run
      // dies mid-query ("Exit as unable to send heartbeats... more than
      // 60 times" — observed at the sf30 pair-set rows). Heartbeats in
      // local mode are intra-JVM bookkeeping, so long timeouts cost
      // nothing and keep the measurement alive through GC.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    // Multi-process soaks need executor-sized heaps: local-cluster's
    // bracket arg caps the WORKER, but spark.executor.memory still
    // defaults to 1g — the sf30 fourth-decade re-measure runs e.g.
    // local-cluster[4,8,20480] with SPARK_GRAFT_EXEC_MEM=18g.
    sys.env.get("SPARK_GRAFT_EXEC_MEM").foreach { m =>
      builder.config("spark.executor.memory", m)
    }
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").foreach { _ =>
      builder.config("graft.checkpoint.reliable", "true")
    }
    // Memory-constrained probes: serialized (and, with RDD_COMPRESS,
    // compressed) local pins — see Checkpoints.StorageConf.
    sys.env.get("SPARK_GRAFT_CKPT_STORAGE").foreach { lvl =>
      builder.config(graft.util.Checkpoints.StorageConf, lvl)
    }
    sys.env.get("SPARK_GRAFT_RDD_COMPRESS").foreach { v =>
      builder.config("spark.rdd.compress", v)
    }
    // Streaming state observability (the SCALING streaming-decade soaks):
    // SPARK_GRAFT_STREAM_STATS=1 logs every micro-batch's state-store
    // rows/memory per stateful operator to stderr — the state GROWTH curve
    // that wall-clock timings cannot see. Registered through the static
    // conf, not `spark.streams.addListener`: the drains run on session
    // clones, each with its own query manager, and only the static conf
    // reaches those.
    sys.env.get("SPARK_GRAFT_STREAM_STATS").foreach { _ =>
      builder.config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamStateLog].getName)
    }
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE sort-merge -> shuffled-hash rewrite knob (opt guide §3.1).
      // Default OFF: the round-12 A/B (OPTIMIZATION_r12.md) measured real
      // wins on the star-schema joins (q3 -45%, q18 -40%) but 1.6-4.9x
      // REGRESSIONS on the posting-list self-join family (hash-building
      // hot duplicate keys loses to the streaming merge), so a blanket
      // rewrite is net-negative on this workload. The env knob stays for
      // star-schema-heavy deployments (e.g. "128m").
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "0"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").foreach { d =>
      spark.sparkContext.setCheckpointDir(d)
    }
    // Untimed JVM/codegen warmup so per-query numbers measure steady-state
    // plans, not first-query JIT (the first timed query used to absorb
    // ~4s of warmup regardless of which query it was).
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    // Optional comma-separated query filter for targeted local timing runs
    // (absent → the full registry, which is what the driver measures).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // One isolated, timed execution of query `name` (cleanup included) —
    // the unit both the full pass and the retry loop are built from.
    // Isolation between queries: iterative operators localCheckpoint
    // working frames whose final round outlives the query (the returned
    // plan reads it). Dropping all persisted blocks keeps query N's
    // residue from shrinking query N+1's storage/execution memory — each
    // timed query starts from the same clean JVM state.
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
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      dropTempViews(spark)
      (dt, ok)
    }
    // Sorted order: Map iteration order reshuffles whenever the registry
    // grows, which makes per-query times incomparable across rounds (each
    // query's number depends on what ran before it).
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
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
      val host = s""""host":{"master":"$master","cpus":"$cpus","jvm_max_mem_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},"available_processors":${Runtime.getRuntime.availableProcessors()},"date":"$day","passes":$passes}"""
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
  * state-store rows and memory per operator (SPARK_GRAFT_STREAM_STATS=1;
  * digested by tools/stream_state_report.py). Attribution: the bench runs
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
