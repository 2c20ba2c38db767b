package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.config.JsonConfigSource
import graft.io.{DataSources, UploadedLog}
import graft.model.Execution
import graft.pipeline.{Branches, Pipeline, PipelineOptions, PipelineReport}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The daily activation run: `Pipeline.run` over a generated config, timed
  * from outside, checked against the generator's expectations.
  */
final class Activation(spark: SparkSession, work: String, inputs: ActivationInputs) {
  import Activation._

  private val executions: Seq[Execution] =
    JsonConfigSource.fromString(inputs.configJson).executions()
  private val opts = PipelineOptions(transport = TimedTransport(MemoryTransport()))

  /** Each log's key set after a correct run: every source key, once.
    * Computed at the first check, so the timed first run stays the first
    * Spark work of the process.
    */
  private lazy val logExpect = ActivationInputs.logDigests(spark, inputs)

  /** Clears transport output and puts every `_uploaded` log back to its
    * pre-run state (absent, or the seeded copy).
    */
  def reset(): Unit = {
    MemoryTransport.clear()
    inputs.sources.foreach { s =>
      s.log.foreach { p =>
        deleteTree(Paths.get(p))
        s.seeded.foreach(src => copyTree(Paths.get(src), Paths.get(p)))
      }
    }
    TimedTransport.drain()
  }

  /** One timed run with its outcome check. */
  def runOnce(): RunOutcome = {
    val t0 = System.nanoTime()
    val report = Pipeline.run(spark, executions, opts)
    val runS = (System.nanoTime() - t0) / 1e9
    val sends = TimedTransport.drain()
    val landing = sends.groupBy(_.execKey).map { case (k, rs) => k -> (rs.map(_.endNs).max - t0) / 1e9 }
    RunOutcome(runS, report, sends, landing, check(report, sends))
  }

  /** Failed execution keys with the reason, empty when the run is correct:
    * each execution sent exactly its expected rows in its expected number
    * of requests, and each `_uploaded` log ends up holding its source's keys.
    */
  def check(report: PipelineReport, sends: Seq[SendRec]): Map[String, String] = {
    val bad = scala.collection.mutable.Map.empty[String, String]
    val byKey = report.results.map(r => r.executionKey -> r).toMap
    val requests = sends.groupBy(_.execKey).map { case (k, v) => k -> v.size.toLong }
    inputs.execs.foreach { exp =>
      byKey.get(exp.key) match {
        case None => bad(exp.key) = "no result"
        case Some(r) =>
          if (r.error.nonEmpty) bad(exp.key) = s"error: ${r.error.get}"
          else if (r.attempted != exp.rows || r.succeeded != exp.rows)
            bad(exp.key) = s"rows ${r.succeeded}/${r.attempted}, expected ${exp.rows}"
          else if (requests.getOrElse(exp.key, 0L) != exp.requests)
            bad(exp.key) = s"requests ${requests.getOrElse(exp.key, 0L)}, expected ${exp.requests}"
      }
    }
    inputs.sources.filter(_.log.nonEmpty).foreach { s =>
      val got = ActivationInputs.keyDigest(spark.read.parquet(s.log.get), s.keys)
      if (got != logExpect(s.dest)) inputs.execs.filter(_.dest == s.dest).foreach { e =>
        bad.getOrElseUpdate(e.key, s"_uploaded log $got, expected ${logExpect(s.dest)}")
      }
    }
    bad.toMap
  }

  /** Per-branch attribution. Each branch's pieces are first called alone
    * (read, hash, render, append to a scratch log), each its own child span;
    * then the branch runs by itself through `Pipeline.run`, whose Spark jobs
    * become child spans bucketed by the graft method on their call site and
    * whose transport sends nest under the job that made them.
    */
  def traceBranches(probe: Probe, spans: SpanLog): Seq[BranchTrace] = {
    val nowMicros = System.currentTimeMillis() * 1000L
    Branches.all.flatMap { branch =>
      val dt = branch.destinationType
      val mine = executions.filter(_.destination.destinationType == dt)
      if (mine.isEmpty) None else Some {
        reset()
        val ds = DataSources.forSource(mine.head.source, opts.bqPathFor,
          p => opts.uploadedLogPathFor(p, dt), opts.bqFormat)
        val logRows = if (branch.readTransactional.keyColumns.isEmpty) 0L
          else UploadedLog(spark, ds.uploadedLogPath, branch.readTransactional).read().count()
        val srcRows = spark.read.parquet(ds.path).count()

        val root = spans.open(s"branch:${dt.name}", None)
        val (df, afterAnti) = spans.within("io.retrieveData", root) {
          val d = DataSources.retrieveData(spark, ds, dt, branch.readTransactional).cache()
          (d, d.count())
        }
        val (hashed, hashedRows) = spans.within("transform.hasher", root) {
          branch.hasher.map { h =>
            val xs = mine.map(e => h(df, e.destination.metadata).cache())
            (xs, xs.map(_.count()).sum)
          }.getOrElse((mine.map(_ => df), 0L))
        }
        // collecting the hashed rows to the driver is part of this span
        spans.within("sink.render", root) {
          val renderer = branch.renderer(nowMicros)
          mine.zip(hashed).foreach { case (e, h) =>
            val schema = h.schema
            h.collect().toSeq.grouped(branch.batchSize).zipWithIndex.foreach { case (batch, i) =>
              renderer.render(e, batch.map(r => rowMap(r, schema)), i + 1L)
            }
          }
        }
        val wbRows = branch.writebackTransactional.filter(_.keyColumns.nonEmpty).map { tt =>
          spans.within("io.uploadedLog.append", root) {
            UploadedLog(spark, s"$work/scratch-log/${dt.name}", tt)
              .append(hashed.head.select(tt.keyColumns.map(col): _*))
          }
          afterAnti
        }.getOrElse(0L)
        hashed.foreach(_.unpersist())
        df.unpersist()

        TimedTransport.drain()
        val run = spans.open("pipeline.run", Some(root))
        val report = Pipeline.run(spark, mine, opts)
        spans.close(run)
        spans.close(root)
        val sends = TimedTransport.drain()
        val runSpan = spans.get(run)
        val jobs = probe.jobsIn(spans.toMs(runSpan.startNs), spans.toMs(runSpan.endNs) + 1)
        val jobSpans = jobs.zip(buckets(jobs)).map { case (j, b) =>
          spans.add(s"job:$b", Some(run), spans.fromMs(j.startMs), spans.fromMs(j.endMs))
        }
        sends.foreach { s =>
          val parent = jobSpans.map(spans.get)
            .find(p => p.startNs <= s.startNs && s.startNs <= p.endNs).map(_.id).getOrElse(run)
          spans.add(s"send:${s.kind}", Some(parent), s.startNs, s.endNs)
        }
        BranchTrace(dt.name, mine.size, report, sends, jobs, spans, root, run,
          srcRows * mine.map(_.source.name).distinct.size, afterAnti, logRows,
          hashedRows, if (branch.hasher.isEmpty) 0L else afterAnti * mine.size - hashedRows,
          wbRows, branch.rateLimitPerSec.isDefined)
      }
    }
  }
}

final case class RunOutcome(runS: Double, report: PipelineReport, sends: Seq[SendRec],
    landing: Map[String, Double], failures: Map[String, String])

final case class BranchTrace(dest: String, execs: Int, report: PipelineReport,
    sends: Seq[SendRec], jobs: Seq[JobRec], spans: SpanLog, root: Int, run: Int,
    rowsRead: Long, rowsAfterAnti: Long, logRows: Long, hashedRows: Long,
    rowsDropped: Long, writebackRows: Long, rateLimited: Boolean) {
  def branchS: Double = spans.get(root).seconds
  def runS: Double = spans.get(run).seconds
  def isolatedS(name: String): Double =
    spans.children(root).filter(_.name == name).map(_.seconds).sum
  lazy val jobBuckets: Seq[String] = Activation.buckets(jobs)
  def jobS(bucket: String): Double =
    jobs.zip(jobBuckets).filter(_._2 == bucket).map(_._1.seconds).sum
  /** Pacing of a rate-limited branch: per sending task, the time from its
    * first send to the end of its job not spent inside a send.
    */
  def throttleS: Double = if (!rateLimited) 0.0 else sends.groupBy(_.thread).values.map { ss =>
    val lastEnd = ss.map(_.endNs).max
    val jobEnd = jobs.map(j => spans.fromMs(j.endMs)).filter(_ >= lastEnd).minOption.getOrElse(lastEnd)
    (jobEnd - ss.map(_.startNs).min - ss.map(s => s.endNs - s.startNs).sum) / 1e9
  }.sum
  /** The branch span minus its direct children and the run's jobs. */
  def selfS: Double = branchS - spans.children(root).filter(_.id != run).map(_.seconds).sum -
    Probe.unionSeconds(jobs.map(j => (j.startMs, j.endMs)))
}

object Activation {
  /** The graft method each job's call site names, for the jobs of one
    * branch run in start order. Adaptive query stages are submitted from a
    * Spark thread with no graft frame: after the branch's first outcome pin
    * they belong to the per-execution report aggregation.
    */
  def buckets(jobs: Seq[JobRec]): Seq[String] = {
    var pinned = false
    jobs.map { j =>
      val site = j.callSite
      val b =
        if (site.contains("UploadedLog.append")) "writeback"
        else if (site.contains("Checkpoints")) "outcome_pin"
        else if (site.contains("uploadStage")) "count_pass"
        else if (site.startsWith("collect at Pipeline")) "report"
        else if (site.contains("graft.io.Data")) "read"
        else if (pinned && site.contains("withThreadLocalCaptured")) "report"
        else "other"
      if (b == "outcome_pin") pinned = true
      b
    }
  }

  def rowMap(r: org.apache.spark.sql.Row, schema: org.apache.spark.sql.types.StructType): Map[String, Any] =
    scala.collection.immutable.ListMap(schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) =>
      n -> r.get(i)
    }: _*)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val t = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }
}
