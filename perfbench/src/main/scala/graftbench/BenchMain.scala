package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * BenchMain --workload <activation_first|activation_delta|registry_slice>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *   (--inputs <dir> | --corpus <dir> --expected <tsv>) --pre-setup-s <s> [--plant <defect>]
  *   [--commit <id> --source-digest <hex>]
  * BenchMain --derive <out.tsv> --corpus <dir> --work <dir>
  * }}}
  *
  * Writes one result artifact; `run.py` turns it into the benchmark line.
  */
object BenchMain {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val details = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    if (a.contains("derive")) { derive(a, work); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val plant = a.get("plant").filter(_ != "none")
    val cpus = Runtime.getRuntime.availableProcessors()
    val activation = workload.startsWith("activation_")
    val confs = (if (activation) Sessions.mainConfs(cpus) else Sessions.benchConfs(cpus)) ++
      Sessions.placement(work)
    val calibrationS = Host.calibrate()
    val (spark, sessionS) = Clock.time(Sessions.start(confs))
    val (attempted, failed) =
      try {
        if (activation) runActivation(spark, a, seconds, trace, sessionS, plant)
        else runRegistry(spark, a, seconds, trace, sessionS, plant)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          details("fatal") = String.valueOf(e.getMessage)
          (1L, 1L)
      }
    val host = Host.facts(spark, confs, a.getOrElse("source-digest", "unknown"),
      a.getOrElse("commit", "unknown"), calibrationS)
    spark.stop()
    report("fail_frac") = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val out = Js(Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "report" -> report, "host" -> host, "details" -> details))
    Files.writeString(Paths.get(a("out")), out + "\n")
  }

  // ---------------------------------------------------------- activation

  /** Planted defect for the self-test: the newest row of one source is lost
    * after the expectations were computed.
    */
  private def dropOneRow(spark: SparkSession, in: ActivationInputs): Unit = {
    val p = in.sources.find(_.dest == "ADS_OFFLINE_CONVERSION").get.path
    val df = spark.read.parquet(p)
    val newest = df.orderBy(desc("time"), desc("gclid")).head().getAs[String]("gclid")
    df.filter(col("gclid") =!= newest).coalesce(1).write.mode("overwrite").parquet(p + ".tmp")
    Activation.deleteTree(Paths.get(p))
    Files.move(Paths.get(p + ".tmp"), Paths.get(p))
  }

  /** Times the first `Pipeline.run` after set-up, as the daily job in a fresh
    * process runs it. Rest of the window: warm reruns, each after a state
    * reset, reported in the artifact only.
    */
  private def runActivation(spark: SparkSession, a: Map[String, String], seconds: Double,
      trace: Boolean, sessionS: Double, plant: Option[String]): (Long, Long) = {
    val workload = a("workload")
    val work = a("work")
    val inputs = ActivationInputs.load(s"${a("inputs")}/manifest.json")
    if (plant.contains("drop_row")) dropOneRow(spark, inputs)
    val act = new Activation(spark, s"$work/run", inputs)
    val resets = Seq.newBuilder[Double]
    def resetAndRun(): RunOutcome = {
      resets += Clock.time(act.reset())._2
      act.runOnce()
    }
    val outcomes = Seq.newBuilder[RunOutcome]
    val windowStart = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      outcomes += resetAndRun()
      n += 1
    }
    val runs = outcomes.result()
    val first = runs.head
    val resetS = Clock.median(resets.result())
    val genS = a.getOrElse("pre-setup-s", "0").toDouble
    val destP50 = Clock.median(first.landing.values.toSeq)
    metrics("setup_s") = genS + sessionS + resetS
    metrics("run_s") = first.runS
    metrics("rows_per_s") = inputs.rowsRead / first.runS
    metrics("op_p50_s") = destP50
    report ++= Seq("setup_s" -> metrics("setup_s"), "run_s" -> first.runS,
      "rows_per_s" -> metrics("rows_per_s"), "dest_p50_s" -> destP50, "runs" -> runs.size)
    details("setup_parts_s") = Map("generate" -> genS, "session" -> sessionS,
      "reset_median" -> resetS)
    details("run_s_all") = runs.map(_.runS)
    details("rows_read") = inputs.rowsRead
    details("executions") = inputs.execs.map { e =>
      Map("key" -> e.key, "expected_rows" -> e.rows, "expected_requests" -> e.requests,
        "landing_s" -> first.landing.get(e.key),
        "requests" -> first.sends.count(_.execKey == e.key),
        "failure" -> runs.flatMap(_.failures.get(e.key)).headOption)
    }
    var attempted = runs.size.toLong * inputs.execs.size
    var failed = runs.map(_.failures.size.toLong).sum

    if (trace) {
      val probe = new Probe
      // the overhead compares the traced run with an untraced warm run made
      // just before it
      val before = resetAndRun()
      attach(spark, probe)
      act.reset()
      Probe.resetHeapPeak()
      val fromMs = System.currentTimeMillis()
      val traced = act.runOnce()
      // the window ends with the run, before its outcome check
      val toMs = fromMs + (traced.runS * 1000).toLong
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      metrics("jvm.heap_peak_mb") = Probe.heapPeakMb
      sparkMetrics(probe.counters(fromMs, toMs), spark.sparkContext.defaultParallelism)
      detach(spark, probe)
      metrics("trace.overhead_s") = traced.runS - before.runS
      Seq(before, traced).foreach { r =>
        attempted += inputs.execs.size
        failed += r.failures.size
      }

      val spans = new SpanLog
      attach(spark, probe)
      val branches = act.traceBranches(probe, spans)
      detach(spark, probe)
      layerMetrics(branches)
      val bad = branches.flatMap(b => b.report.results.filter(r => r.error.nonEmpty ||
        r.succeeded != inputs.expected(r.executionKey).rows))
      attempted += branches.map(_.execs).sum
      failed += bad.size
      details("branches") = branches.map { b =>
        Map("dest" -> b.dest, "branch_s" -> b.branchS, "run_s" -> b.runS, "self_s" -> b.selfS,
          "children_s" -> (b.branchS - b.selfS), "jobs" -> b.jobs.size,
          "jobs_by_bucket" -> b.jobBuckets.groupBy(identity).map { case (k, v) => k -> v.size },
          "jobs_by_site" -> b.jobs.groupBy(_.callSite.takeWhile(_ != '\n'))
            .map { case (k, v) => k -> v.size },
          "requests" -> b.sends.size)
      }
      details("accounting_ok") = branches.forall(b => b.selfS >= -0.005)
      Files.writeString(Paths.get(s"$work/$workload-spans.json"), spans.toJson)
    }
    (attempted, failed)
  }

  private def attach(spark: SparkSession, probe: Probe): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  /** Detaches after every queued event has reached the probe. */
  private def detach(spark: SparkSession, probe: Probe): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
  }

  private def sparkMetrics(c: Counters, slots: Int): Unit = {
    metrics("spark.jobs") = c.jobs
    metrics("spark.stages") = c.stages
    metrics("spark.tasks") = c.tasks.toDouble
    metrics("spark.tasks_per_stage") = c.tasksPerStage
    metrics("spark.executor_run_s") = c.runS
    metrics("spark.executor_cpu_s") = c.cpuS
    metrics("spark.gc_s") = c.gcS
    metrics("spark.driver_side_s") = c.driverSideS
    metrics("spark.slot_util") = c.slotUtil(slots)
    metrics("spark.shuffle_write_bytes") = c.shuffleWrite.toDouble
    metrics("spark.input_bytes") = c.input.toDouble
    metrics("spark.spill_bytes") = c.spill.toDouble
  }

  private def layerMetrics(bs: Seq[BranchTrace]): Unit = {
    val sends = bs.flatMap(_.sends)
    val rowsRead = bs.map(_.rowsRead).sum
    val after = bs.map(_.rowsAfterAnti).sum
    metrics("io.read_s") = bs.map(_.isolatedS("io.retrieveData")).sum
    metrics("io.rows_read") = rowsRead.toDouble
    metrics("io.rows_after_antijoin") = after.toDouble
    metrics("io.antijoin_drop_frac") = if (rowsRead == 0) 0.0 else 1.0 - after.toDouble / rowsRead
    metrics("io.uploaded_log_rows") = bs.map(_.logRows).sum.toDouble
    metrics("io.writeback_s") = bs.map(_.isolatedS("io.uploadedLog.append")).sum
    metrics("io.writeback_rows") = bs.map(_.writebackRows).sum.toDouble
    metrics("transform.hash_s") = bs.map(_.isolatedS("transform.hasher")).sum
    metrics("transform.hashed_rows") = bs.map(_.hashedRows).sum.toDouble
    metrics("transform.rows_dropped") = bs.map(_.rowsDropped).sum.toDouble
    metrics("sink.render_s") = bs.map(_.isolatedS("sink.render")).sum
    metrics("sink.requests") = sends.size.toDouble
    metrics("sink.request_bytes") = sends.map(_.bytes).sum.toDouble
    metrics("sink.send_s") = sends.map(s => (s.endNs - s.startNs) / 1e9).sum
    metrics("sink.send_p50_ms") = Clock.median(sends.map(s => (s.endNs - s.startNs) / 1e6))
    metrics("sink.send_errors") = sends.count(_.error).toDouble
    metrics("sink.retries") = sends.count(_.threw).toDouble
    metrics("sink.throttle_s") = bs.map(_.throttleS).sum
    metrics("pipeline.branch_p50_s") = Clock.median(bs.map(_.runS))
    metrics("pipeline.branch_max_s") = bs.map(_.runS).max
    metrics("pipeline.self_s") = bs.map(_.selfS).sum
    metrics("pipeline.count_pass_s") = bs.map(_.jobS("count_pass")).sum
    metrics("pipeline.outcome_pin_s") = bs.map(_.jobS("outcome_pin")).sum
    metrics("pipeline.report_s") = bs.map(_.jobS("report")).sum
    metrics("pipeline.jobs_per_exec") = bs.map(_.jobs.size).sum.toDouble / bs.map(_.execs).sum
  }

  // ---------------------------------------------------------- registry

  private def readExpected(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, dg) = l.split("\\s+")
        name -> (rows.toLong, dg)
      }.toMap

  private def runRegistry(spark: SparkSession, a: Map[String, String], seconds: Double,
      trace: Boolean, sessionS: Double, plant: Option[String]): (Long, Long) = {
    val sfDir = a("corpus")
    val expected = readExpected(a("expected"))
    val (_, warmS) = Clock.time(Registry.warmUp(spark, sfDir))
    def pass(): Seq[QueryRun] = Registry.slice.map { case (f, q) =>
      val r = Registry.timeOne(spark, sfDir, f, q)
      System.err.println(f"[perfbench] $q%-24s ${r.wallS}%7.3fs rows=${r.rows}")
      if (plant.contains("wrong_digest") && q == Registry.slice.head._2) r.copy(digest = r.digest + "0")
      else r
    }
    def failures(p: Seq[QueryRun]): Seq[String] = p.filter { r =>
      r.error.nonEmpty || !expected.get(r.name).contains((r.rows, r.digest))
    }.map(_.name)

    val passes = Seq.newBuilder[(Seq[QueryRun], Double)]
    val windowStart = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      passes += Clock.time(pass())
      n += 1
    }
    val ps = passes.result()
    val (first, runS) = ps.head
    val queryP50 = Clock.median(first.map(_.wallS))
    val outRows = first.map(_.rows.max(0L)).sum
    metrics("setup_s") = a.getOrElse("pre-setup-s", "0").toDouble + sessionS + warmS
    metrics("run_s") = runS
    metrics("rows_per_s") = outRows / runS
    metrics("op_p50_s") = queryP50
    report ++= Seq("setup_s" -> metrics("setup_s"), "run_s" -> runS,
      "rows_per_s" -> metrics("rows_per_s"), "query_p50_s" -> queryP50, "passes" -> ps.size)
    details("setup_parts_s") = Map("corpus" -> a.getOrElse("pre-setup-s", "0").toDouble,
      "session" -> sessionS, "warm_up" -> warmS)
    details("pass_s_all") = ps.map(_._2)
    details("seed_used") = false
    val bad = ps.map(p => failures(p._1))
    details("queries") = first.map { r =>
      Map("name" -> r.name, "family" -> r.family, "wall_s" -> r.wallS, "rows" -> r.rows,
        "digest" -> r.digest, "expected" -> expected.get(r.name).map(e => s"${e._1} ${e._2}"),
        "error" -> r.error)
    }
    details("failed_queries") = bad.flatten.distinct
    var attempted = ps.map(_._1.size.toLong).sum
    var failed = bad.map(_.size.toLong).sum

    if (trace) {
      val probe = new Probe
      // the overhead compares the traced pass with an untraced pass made just
      // before it
      val before = Clock.time(pass())
      attach(spark, probe)
      Probe.resetHeapPeak()
      val fromMs = System.currentTimeMillis()
      val (traced, tracedS) = Clock.time(pass())
      val toMs = System.currentTimeMillis()
      detach(spark, probe)
      metrics("jvm.heap_peak_mb") = Probe.heapPeakMb
      sparkMetrics(probe.counters(fromMs, toMs), spark.sparkContext.defaultParallelism)
      metrics("trace.overhead_s") = tracedS - before._2
      val plans = probe.plansIn(fromMs, toMs)
      metrics("plan.smj") = plans.smj
      metrics("plan.bhj") = plans.bhj
      metrics("plan.bnlj") = plans.bnlj
      metrics("plan.exchanges") = plans.exchanges
      metrics("util.pinned_rdds") = traced.map(_.pinnedRdds).sum.toDouble
      val spans = new SpanLog
      val perQuery = traced.map { r =>
        val c = probe.counters(r.startMs, r.endMs)
        spans.add(s"query:${r.name}", None, spans.fromMs(r.startMs), spans.fromMs(r.endMs))
        r -> c
      }
      Registry.families.foreach { f =>
        val mine = perQuery.filter(_._1.family == f)
        metrics(s"registry.$f.wall_s") = mine.map(_._1.wallS).sum
        metrics(s"registry.$f.jobs") = mine.map(_._2.jobs).sum.toDouble
        metrics(s"registry.$f.driver_side_s") = mine.map(_._2.driverSideS).sum
        metrics(s"registry.$f.executor_run_s") = mine.map(_._2.runS).sum
        metrics(s"registry.$f.shuffle_write_bytes") = mine.map(_._2.shuffleWrite).sum.toDouble
      }
      details("query_counters") = perQuery.map { case (r, c) =>
        Map("name" -> r.name, "wall_s" -> r.wallS, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "driver_side_s" -> c.driverSideS, "executor_run_s" -> c.runS,
          "shuffle_write_bytes" -> c.shuffleWrite, "pinned_rdds" -> r.pinnedRdds)
      }
      val work = a("work")
      Files.writeString(Paths.get(s"$work/registry_slice-spans.json"), spans.toJson)
      Seq(before._1, traced).foreach { p =>
        attempted += p.size
        failed += failures(p).size
      }
    }
    (attempted, failed)
  }

  /** Expected values for the slice: row count and digest of each row's
    * output, recorded after `graft.Verify` + the DuckDB oracle comparison
    * passed on the same corpus.
    */
  private def derive(a: Map[String, String], work: String): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Sessions.start(Sessions.benchConfs(cpus) ++ Sessions.placement(work))
    val lines = Registry.slice.map { case (f, q) =>
      val r = Registry.timeOne(spark, a("corpus"), f, q)
      require(r.error.isEmpty, s"$q failed: ${r.error}")
      s"$q ${r.rows} ${r.digest}"
    }
    spark.stop()
    Files.writeString(Paths.get(a("derive")), lines.mkString("", "\n", "\n"))
  }
}
