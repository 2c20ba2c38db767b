package graft.pipeline

import graft.util.Checkpoints._

import graft.error.{ErrorHandler, ErrorNotifier, LogNotifier}
import graft.io.UploadedLog
import graft.model._
import graft.sink._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** End-to-end pipeline orchestration (SURVEY §3.1 /
  * `/root/reference/megalista_dataflow/main.py:53-121`,
  * `steps/processing_steps.py:640-673`, `steps/last_step.py:26-129`):
  * config → executions → per-branch plan → sink → writeback → consolidation
  * → exit code.
  *
  * Spark lifecycle (§3.1 "Spark lifecycle equivalent"): the driver loops
  * branches × source-groups, builds ONE DataFrame plan per (source, branch)
  * — read → validate → prune → cast → fold → anti-join — reused by every
  * execution of that group (read-once-per-source, upload-once-per-execution,
  * `batches_from_executions.py:169`); the sink upload runs distributed via
  * `mapPartitions` emitting per-row outcomes into a pinned RDD. The job that
  * pins them also returns the execution's report (rows attempted and
  * succeeded, first error), and the success-filtered transactional
  * writeback reads the pin, so nothing between the sends and the
  * `_uploaded` append plans a SQL query. A run reads the clock once: the
  * renderers, the `_uploaded` lookback and the writeback share that
  * instant. No rows are ever materialized on the driver.
  */
final case class PipelineOptions(
    transport: Transport,
    notifier: ErrorNotifier = new LogNotifier,
    /** BigQuery-source offline analog: (dataset, table) → parquet path. */
    bqPathFor: (String, String) => String = (d, t) => s"/data/$d/$t.parquet",
    /** Spark format used for BigQuery-typed sources: "parquet" offline; in a
      * cluster deployment "bigquery" with the connector on the classpath and
      * `bqPathFor = (d, t) => s"$d.$t"`. Any registered format works —
      * exercised end-to-end with "json" in ReaderSeamSpec.
      */
    bqFormat: String = "parquet",
    /** `_uploaded` control-table location for a (data path, destination)
      * pair. The reference keys its sibling `<base>_uploaded` table/file by
      * source path only (`file_data_source.py:149-154`) — workable because
      * its branches run serially in registry order; with concurrent branches
      * a SHARED log makes the read-vs-append interleaving between two
      * destinations on one source timing-dependent (drop rows in one run,
      * double-upload in the next). Keying by destination type keeps each
      * branch's read→upload→append window self-contained and deterministic;
      * the reference's shared layout remains reachable by supplying a
      * function that ignores the destination (accepting its serial-order
      * assumption).
      */
    uploadedLogPathFor: (String, DestinationType) => String = (p, dt) =>
      p.replaceAll("\\.parquet$", "") + s"_uploaded_${dt.name}.parquet",
    /** The run's clock, read once per [[Pipeline.run]]. */
    nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)

final case class ExecutionResult(
    executionKey: String,
    destinationType: String,
    attempted: Long,
    succeeded: Long,
    error: Option[String])

final case class PipelineReport(results: Seq[ExecutionResult], distinctExecutions: Int) {
  def hasErrors: Boolean = results.exists(_.error.nonEmpty)
  def exitCode: Int = if (hasErrors) 1 else 0
  def totalUploaded: Long = results.map(_.succeeded).sum
}

/** Per-row sink outcome: feeds the report and the writeback (success-only
  * keys).
  */
final case class RowOutcome(
    executionKey: String,
    keys: Map[String, String],
    success: Boolean,
    error: Option[String])

object Pipeline {

  /** Bounded branch concurrency: Spark job submission is thread-safe, so
    * independent branches interleave their stages instead of paying a
    * serial ~19× wall-clock. The reference runs branches serially — an
    * artifact of its single-worker deploy, not a semantic requirement.
    */
  val BranchParallelism = 6

  def run(spark: SparkSession, executions: Seq[Execution], opts: PipelineOptions): PipelineReport = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration

    // 18+1 independent branches; an error in one never aborts the others
    // (error/error_handling.py semantics; exit code handled by caller).
    // Results are collected per-branch future, preserving branch order —
    // the report is identical to a serial run.
    val runMicros = opts.nowMicros()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(BranchParallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = Branches.all.map { branch =>
      Future {
        val handler = new ErrorHandler(branch.destinationType, opts.notifier)
        val branchResults = runBranch(spark, executions, branch, handler, opts, runMicros)
        handler.notifyErrors()
        branchResults
      }
    }
    val results =
      try Await.result(Future.sequence(futures), Duration.Inf).flatten
      finally pool.shutdown()

    // Consolidation (steps/last_step.py:26-56): flatten + dedup executions.
    val distinct = executions.map(_.key).distinct.size
    PipelineReport(results, distinct)
  }

  private def runBranch(spark: SparkSession, executions: Seq[Execution],
      branch: BranchSpec, handler: ErrorHandler, opts: PipelineOptions,
      runMicros: Long): Seq[ExecutionResult] = {
    val branchResults = Seq.newBuilder[ExecutionResult]
    val dt = branch.destinationType

    // Branch filter + group by source (load_executions_step.py:20-31,
    // batches_from_executions.py:161-167).
    val groups = executions.groupBy(_.source.name)
      .filter(_._2.exists(_.destination.destinationType == dt))

    groups.toSeq.sortBy(_._1).foreach { case (_, groupExecutions) =>
      val branchExecutions = groupExecutions.filter(_.destination.destinationType == dt)
      val ds = graft.io.DataSources.forSource(branchExecutions.head.source,
        opts.bqPathFor, p => opts.uploadedLogPathFor(p, dt), opts.bqFormat)

      // Read ONCE per (source, branch); schema ops are plan-time.
      val readAttempt = scala.util.Try(
        graft.io.DataSources.retrieveData(spark, ds, dt, branch.readTransactional, runMicros))

      readAttempt match {
        case scala.util.Failure(e) =>
          branchExecutions.foreach { ex =>
            handler.addError(ex, s"Error uploading data: ${e.getMessage}")
            branchResults += ExecutionResult(ex.key, dt.name, 0L, 0L, Some(e.getMessage))
          }
        case scala.util.Success(df0) =>
          // Writeback keys declared string by the schema must BE strings
          // before rows leave Spark: a physically-typed column (e.g. a
          // parquet TIMESTAMP `time`) stringified later via JVM toString
          // would render in the executor's default timezone and never
          // round-trip against the session-TZ anti-join cast — silently
          // disabling the transactional dedup.
          val wbKeys = branch.writebackTransactional.map(_.keyColumns).getOrElse(Seq.empty)
          val df = wbKeys.foldLeft(df0)((d, k) =>
            if (d.columns.contains(k) &&
                d.schema(k).dataType != org.apache.spark.sql.types.StringType)
              d.withColumn(k, col(k).cast("string"))
            else d)
          df.persist(StorageLevel.MEMORY_AND_DISK)
          // Driver-side failures past the read (an aborted send job) stay
          // INSIDE the execution: it reports the error, and the branch's
          // other executions and the other branches go on ("an error in one
          // never aborts the others"); only the group's writeback is skipped.
          val uploads = branchExecutions.map { ex =>
            ex -> scala.util.Try {
              val hashed = branch.hasher.fold(df)(h => h(df, ex.destination.metadata))
              uploadStage(spark, hashed, ex, branch, opts, runMicros)
            }
          }
          val sent = uploads.flatMap(_._2.toOption)
          val pins = sent.flatMap(_._1)
          try {
            // Transactional writeback: group successful rows of the whole
            // source, append keys once (transactional_events_results_writer
            // .py:29-78; ALL key cols — reference ORDER_ID_TIME bug fixed).
            // The reports already say whether there is any key to append.
            // An aborted send job skips the writeback for the whole group:
            // the log is shared by the group's executions, so keys another
            // execution sent would make the next run's anti-join drop the
            // rows the aborted one never delivered.
            val writebackError = branch.writebackTransactional
              .filter(_ => uploads.forall(_._2.isSuccess) && sent.exists(_._2.succeeded > 0))
              .flatMap { tt =>
                val keyCols = tt.keyColumns
                val keys = spark.sparkContext.union(pins)
                  .filter(_.success).map(o => Row.fromSeq(keyCols.map(o.keys)))
                val keySchema = StructType(keyCols.map(StructField(_, StringType)))
                scala.util.Try(UploadedLog(spark, ds.uploadedLogPath, tt, runMicros)
                    .append(spark.createDataFrame(keys, keySchema)))
                  .failed.toOption
                  .map(e => s"Error appending to the _uploaded log: ${e.getMessage}")
              }
            // Results are built after the writeback, so each execution
            // gets exactly one, carrying its send counts and any error.
            uploads.foreach { case (ex, upload) =>
              val result = upload match {
                case scala.util.Success((_, r)) =>
                  r.copy(error = (r.error ++ writebackError).reduceOption(_ + "; " + _))
                case scala.util.Failure(e) =>
                  ExecutionResult(ex.key, dt.name, 0L, 0L,
                    Some(s"Error uploading data: ${e.getMessage}"))
              }
              result.error.foreach(m => handler.addError(ex, m))
              branchResults += result
            }
          } finally {
            pins.foreach(_.unpersist())
            df.unpersist()
          }
      }
    }
    branchResults.result()
  }

  /** The sink stage: distributed batching + upload in ONE Spark job per
    * phase, returning the pinned per-row outcomes and the execution's
    * report. The job that sends also stores the outcomes (an RDD pin, see
    * [[graft.util.Checkpoints.RddPinOps]]) and returns each partition's
    * rows attempted and succeeded and its first error, so neither the
    * report nor the writeback runs the sends again: the truncated lineage
    * makes a silent re-send impossible. Sends run once per successful task
    * attempt; a retried task of the send job re-sends its partition's
    * batches. The reported error is the first failing row in (partition,
    * batch, row) order, the iteration-1 phase first.
    *
    * Batch `iteration` is GLOBAL per execution and 1-based (drives REPLACE
    * remove_all / DV create-vs-edit): partition batch offsets are
    * precomputed from per-partition row counts — deterministic, no
    * cross-partition coordination at upload time (SURVEY §7.4 item 1). The
    * counting pass is an EXTRA read of the (persisted, pre-hash) source
    * through the hash projection, so it only
    * runs for branches that need it: `needsIteration` renderers and
    * rate-limited branches (which divide a global budget across the
    * partitions that hold rows). Every other branch takes a partition-local
    * index its renderer never reads — one pass, not two, per execution.
    */
  private[pipeline] def uploadStage(spark: SparkSession, df: DataFrame,
      execution: Execution, branch: BranchSpec, opts: PipelineOptions,
      runMicros: Long): (Seq[RDD[RowOutcome]], ExecutionResult) = {
    val schema = df.schema
    val batchSize = branch.batchSize
    val keyCols = branch.writebackTransactional.map(_.keyColumns).getOrElse(Seq.empty)

    val rdd = df.rdd
    val needsCounts = branch.needsIteration || branch.rateLimitPerSec.isDefined
    // Counts MUST come from the POST-HASH frame `df`: the PII hashers drop
    // rows whose every emitted field is null when the source has no
    // passthrough columns (PiiHashing.dropAllNullRows) — counting the
    // pre-hash cache could pick a firstPid that is empty post-hash, so the
    // iteration-1 cleanup (REPLACE remove_all, data-import erase) would
    // silently never send, and an all-dropped source would bypass the
    // empty-batch path. The hash projection re-runs over the persisted
    // pre-hash cache — one extra codegen'd pass, only for branches that
    // need counts at all.
    val counts: Map[Int, Long] =
      if (needsCounts)
        rdd.mapPartitionsWithIndex { (pid, it) =>
          Iterator((pid, it.size.toLong))
        }.collect().toMap
      else Map.empty
    val sortedPids = counts.keys.toSeq.sorted
    val batchOffsets: Map[Int, Long] = sortedPids.zip(
      sortedPids.map(p => (counts(p) + batchSize - 1) / batchSize)
        .scanLeft(0L)(_ + _)).toMap

    val transport = opts.transport
    val renderer = branch.renderer(runMicros)
    // The API rate limit is GLOBAL (AppsFlyer 500 events/s,
    // appsflyer_s2s_uploader_async.py:135-139). Enforcing it verbatim per
    // partition would multiply the aggregate rate by the partition count, so
    // pace each batch by `rows × concurrency / limit` seconds, where
    // concurrency = min(partitions that hold rows, scheduler slots): at most
    // that many partitions send at once, so the aggregate rate stays within
    // the limit even when active partitions outnumber the per-second budget
    // (a per-partition integer rate would floor at 1/s and exceed it). When
    // fewer partitions than `concurrency` are actually running (stragglers)
    // this over-throttles — the bound is one-sided by design: never above
    // the API limit.
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val concurrency = math.max(1, math.min(counts.count(_._2 > 0), slots))
    val rateLimit = branch.rateLimitPerSec
    val execKey = execution.key

    // Per-batch render + send + outcome mapping, shared by every phase.
    def sendBatch(rows: Seq[Row], iteration: Long): Seq[RowOutcome] = {
      val start = System.nanoTime()
      val maps = rows.map(r => rowToMap(r, schema))
      val keyMaps = maps.map(m => keyCols.map(k => k -> m.get(k).map(v =>
        if (v == null) "" else v.toString).getOrElse("")).toMap)
      val out =
        try {
          val requests = renderer.render(execution, maps, iteration)
          val failures = Array.fill(rows.size)(Option.empty[String])
          var aborted = false
          requests.foreach { req =>
            // an execution-level failure ABORTS the batch's remaining
            // requests: later requests depend on it (the data-import
            // UPLOAD must not run after its ERASE failed — the reference's
            // eraser only yields the batch onward on success)
            if (!aborted) {
              val res = Transport.sendWithRetry(transport, execution, req)
              res.error match {
                case Some(msg) =>
                  // a request with NO row indices is execution-level (job
                  // create/run, data-import erase): its failure fails the
                  // whole batch — the reference's safe_call_api raise —
                  // not zero rows
                  if (req.rowIdx.isEmpty) {
                    rows.indices.foreach(i =>
                      if (failures(i).isEmpty) failures(i) = Some(msg))
                    aborted = true
                  } else req.rowIdx.foreach(i => failures(i) = Some(msg))
                case None => res.rejected.foreach { pos =>
                  req.rowIdx.lift(pos).foreach(i => failures(i) = Some("partial failure"))
                }
              }
            }
          }
          rows.indices.map(i => RowOutcome(execKey, keyMaps(i),
            failures(i).isEmpty, failures(i)))
        } catch {
          // safe_process (uploaders/utils.py:69-88): the batch fails, the
          // branch continues.
          case e: Exception =>
            val msg = s"Error uploading data: ${e.getMessage}"
            rows.indices.map(i => RowOutcome(execKey, keyMaps(i), success = false, Some(msg)))
        }
      // AppsFlyer-style pacing: a batch may not finish faster than
      // rows × concurrency / limit seconds
      // (appsflyer_s2s_uploader_async.py:135-139).
      rateLimit.foreach { limit =>
        val minNanos = rows.size.toLong * concurrency * 1000000000L / limit
        val elapsed = System.nanoTime() - start
        if (elapsed < minNanos)
          Thread.sleep((minNanos - elapsed) / 1000000L)
      }
      out
    }

    // Rows attempted and succeeded and the first error of a run of
    // outcomes, in their order.
    def summarise(outcomes: Iterator[RowOutcome]): (Long, Long, Option[String]) = {
      var attempted, succeeded = 0L
      var firstError = Option.empty[String]
      outcomes.foreach { o =>
        attempted += 1
        if (o.success) succeeded += 1
        else if (firstError.isEmpty) firstError = o.error
      }
      (attempted, succeeded, firstError)
    }
    def report(parts: Iterable[(Long, Long, Option[String])]): ExecutionResult =
      ExecutionResult(execKey, branch.destinationType.name, parts.map(_._1).sum,
        parts.map(_._2).sum, parts.flatMap(_._3).headOption)

    // Each pin runs the sends, stores their outcomes and cuts lineage:
    // executor loss or cache eviction fails a later read instead of
    // re-sending, and the `_uploaded` anti-join keeps a retried RUN
    // idempotent. At cluster scale `graft.checkpoint.reliable` makes the pin
    // durable.
    // Iteration-1 requests carry SIDE EFFECTS later batches depend on
    // (REPLACE remove_all, job create, data-import erase) — with all
    // partitions sending concurrently, a later batch could reach the API
    // first and be wiped or rejected. For `needsIteration` branches, phase A
    // runs ONLY the globally first batch and its pin job is the ordering
    // BARRIER; the send job then sends every other batch concurrently as
    // usual. Other branches have no first batch to hold back.
    val firstPid: Option[Int] =
      if (branch.needsIteration) sortedPids.find(p => counts(p) > 0L) else None
    if (branch.needsIteration && firstPid.isEmpty) {
      // Reference semantics: an EMPTY source still yields ONE empty batch
      // (batches_from_executions.py:113-131), so iteration-1 cleanup
      // actions (REPLACE remove_all, data-import erase) fire and stale
      // destination data is cleared. Rendered and sent on the driver; an
      // error surfaces as one synthetic failed outcome row.
      val errs =
        try renderer.render(execution, Seq.empty, 1L)
          .flatMap(req => Transport.sendWithRetry(transport, execution, req).error)
        catch { case e: Exception => Seq(e.getMessage) }
      val synthetic = errs.headOption.toSeq.map(msg =>
        RowOutcome(execKey, Map.empty, success = false,
          Some(s"Error uploading data: $msg")))
      (Seq(spark.sparkContext.parallelize(synthetic, 1)), report(Seq(summarise(synthetic.iterator))))
    } else {
      val phaseA = firstPid.map(first => rdd.mapPartitionsWithIndex { (pid, it) =>
        if (pid != first) Iterator.empty
        else it.grouped(batchSize).take(1).flatMap(rows => sendBatch(rows, 1L))
      }.pinned(spark)(summarise))
      val (sent, parts) = rdd.mapPartitionsWithIndex { (pid, it) =>
        val offset = batchOffsets.getOrElse(pid, 0L)
        it.grouped(batchSize).zipWithIndex.flatMap { case (rows, localIdx) =>
          if (firstPid.contains(pid) && localIdx == 0) Iterator.empty
          else sendBatch(rows, offset + localIdx + 1)
        }
      }.pinned(spark)(summarise)
      (phaseA.map(_._1).toSeq :+ sent,
        report(phaseA.toSeq.flatMap(_._2) ++ parts))
    }
  }

  /** Row → ordered field map (the reference's row dict), nested structs and
    * struct arrays included (address_info, customVariables).
    */
  private[pipeline] def rowToMap(row: Row, schema: org.apache.spark.sql.types.StructType): Map[String, Any] = {
    def convert(v: Any): Any = v match {
      case r: Row => ListMap(r.schema.fieldNames.toSeq.zip(r.toSeq.map(convert)): _*)
      case s: scala.collection.Seq[_] => s.toSeq.map(convert)
      case other => other
    }
    ListMap(schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) =>
      n -> convert(row.get(i))
    }: _*)
  }
}
