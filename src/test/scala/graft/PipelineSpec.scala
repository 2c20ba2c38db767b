package graft

import graft.config.JsonConfigSource
import graft.model._
import graft.pipeline.{Pipeline, PipelineOptions}
import graft.sink.{RecordingTransport, RenderedRequest}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.scalatest.BeforeAndAfterEach

/** End-to-end pipeline: config → branch plan → sink → writeback →
  * idempotence / error isolation / REPLACE iteration semantics
  * (SURVEY §7.2 minimum slice, VERDICT round-1 item 1).
  */
class PipelineSpec extends SparkTestBase with BeforeAndAfterEach {
  import spark.implicits._

  override def beforeEach(): Unit = RecordingTransport.reset()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pipeline").toString

  private def writeOciSource(path: String, n: Int): Unit =
    (1 to n).map(i => (s"gclid_$i", f"2024-05-01T10:00:${i % 60}%02d.000000", s"$i.5"))
      .toDF("gclid", "time", "amount")
      .write.mode(SaveMode.Overwrite).parquet(path)

  private def ociConfig(srcPath: String): String =
    s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "oci src", "Type": "FILE", "Dataset": "parquet", "Table": "$srcPath"}],
      "Destinations": [{"Name": "oci dst", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv1"]}],
      "Connections": [{"Enabled": true, "Source": "oci src", "Destination": "oci dst"}]
    }"""

  test("OCI slice: first run uploads all rows, second run uploads 0 (idempotence)") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 25)
    val executions = JsonConfigSource.fromString(ociConfig(src)).executions()
    val opts = PipelineOptions(transport = graft.sink.RecordingTransport())

    val run1 = Pipeline.run(spark, executions, opts)
    assert(run1.exitCode == 0)
    assert(run1.totalUploaded == 25)
    // writeback landed next to the source, keyed by destination type (the
    // shared sibling file of the serial reference is timing-dependent under
    // concurrent branches — see PipelineOptions.uploadedLogPathFor)
    assert(new java.io.File(
      s"$dir/conversions_uploaded_ADS_OFFLINE_CONVERSION.parquet").exists())

    val run2 = Pipeline.run(spark, executions, opts)
    assert(run2.exitCode == 0)
    assert(run2.totalUploaded == 0) // anti-join excluded everything
  }

  test("sink requests carry the rendered conversion payloads") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 3)
    val executions = JsonConfigSource.fromString(ociConfig(src)).executions()
    Pipeline.run(spark, executions, PipelineOptions(transport = graft.sink.RecordingTransport()))
    val sent = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
    // one request per non-empty partition batch; all rows covered exactly once
    assert(sent.forall(_.req.kind == "upload_click_conversions"))
    val bodies = sent.map(_.req.body).mkString
    (1 to 3).foreach(i => assert(bodies.contains(s""""gclid": "gclid_$i"""")))
    assert(bodies.contains(""""conversion_value": 1.5"""))
    assert(bodies.contains("conversionActions/Conv1"))
  }

  test("failing branch flips exit code but other branches still run") {
    val dir = tmpDir()
    val ociSrc = s"$dir/conversions.parquet"
    writeOciSource(ociSrc, 5)
    val cmSrc = s"$dir/users.parquet"
    Seq(("a@gmail.com", "111"), ("b@x.com", "222"))
      .toDF("email", "phone").write.mode(SaveMode.Overwrite).parquet(cmSrc)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [
        {"Name": "oci src", "Type": "FILE", "Dataset": "parquet", "Table": "$ociSrc"},
        {"Name": "cm src", "Type": "FILE", "Dataset": "parquet", "Table": "$cmSrc"}
      ],
      "Destinations": [
        {"Name": "oci dst", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv1"]},
        {"Name": "cm dst", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": ["list1", "ADD"]}
      ],
      "Connections": [
        {"Enabled": true, "Source": "oci src", "Destination": "oci dst"},
        {"Enabled": true, "Source": "cm src", "Destination": "cm dst"}
      ]
    }"""
    val executions = JsonConfigSource.fromString(config).executions()
    RecordingTransport.failWhen = (e, _) =>
      if (e.destination.destinationType == DestinationType.AdsOfflineConversion)
        Some("API down") else None

    val report = Pipeline.run(spark, executions,
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    assert(report.exitCode == 1)
    val byType = report.results.groupBy(_.destinationType)
    assert(byType("ADS_OFFLINE_CONVERSION").head.succeeded == 0)
    assert(byType("ADS_OFFLINE_CONVERSION").head.error.contains("API down"))
    // customer match branch unaffected
    assert(byType("ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD").head.succeeded == 2)
    assert(byType("ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD").head.error.isEmpty)
    // failed rows were NOT written back: a rerun re-attempts all 5
    RecordingTransport.reset()
    val rerun = Pipeline.run(spark, executions,
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    assert(rerun.results.find(_.destinationType == "ADS_OFFLINE_CONVERSION").get.attempted == 5)
  }

  test("PII hashing branch hashes emails before rendering") {
    val dir = tmpDir()
    val cmSrc = s"$dir/users.parquet"
    Seq(("john.doe@gmail.com", "555"))
      .toDF("email", "phone").write.mode(SaveMode.Overwrite).parquet(cmSrc)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "cm src", "Type": "FILE", "Dataset": "parquet", "Table": "$cmSrc"}],
      "Destinations": [{"Name": "cm dst", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": ["list1", "ADD"]}],
      "Connections": [{"Enabled": true, "Source": "cm src", "Destination": "cm dst"}]
    }"""
    Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    val ops = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
      .find(_.req.kind == "add_offline_user_data_job_operations").get.req.body
    // sha256 of gmail-normalized "johndoe@gmail.com"
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("johndoe@gmail.com".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(ops.contains(expected), s"ops: $ops")
  }

  test("REPLACE emits remove_all exactly once across multiple global batches") {
    val dir = tmpDir()
    val cmSrc = s"$dir/users.parquet"
    // > 5000 rows forces multiple batches across partitions
    (1 to 10500).map(i => (s"user$i@x.com", s"$i"))
      .toDF("email", "phone").repartition(3)
      .write.mode(SaveMode.Overwrite).parquet(cmSrc)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "cm src", "Type": "FILE", "Dataset": "parquet", "Table": "$cmSrc"}],
      "Destinations": [{"Name": "cm dst", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": ["list1", "REPLACE"]}],
      "Connections": [{"Enabled": true, "Source": "cm src", "Destination": "cm dst"}]
    }"""
    Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    val sent = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
    val opsBodies = sent.filter(_.req.kind == "add_offline_user_data_job_operations").map(_.req.body)
    assert(opsBodies.length >= 3) // 10500 rows / 5000 across partitions
    assert(opsBodies.count(_.contains(""""remove_all": true""")) == 1)
    // list creation rendered once (iteration 1 only)
    assert(sent.count(_.req.kind == "ensure_user_list") == 1)
    // ORDERING: the remove_all (iteration-1) batch must reach the
    // transport BEFORE any concurrent add batch — otherwise it would wipe
    // users another partition already added (phase-A barrier semantics)
    assert(opsBodies.head.contains(""""remove_all": true"""),
      "iteration-1 remove_all was not the first operations request")
  }

  test("REPLACE on an EMPTY source still fires the iteration-1 cleanup (one empty batch)") {
    val dir = tmpDir()
    val cmSrc = s"$dir/users.parquet"
    Seq.empty[(String, String)].toDF("email", "phone")
      .write.mode(SaveMode.Overwrite).parquet(cmSrc)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "cm src", "Type": "FILE", "Dataset": "parquet", "Table": "$cmSrc"}],
      "Destinations": [{"Name": "cm dst", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": ["list1", "REPLACE"]}],
      "Connections": [{"Enabled": true, "Source": "cm src", "Destination": "cm dst"}]
    }"""
    val report = Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    assert(report.exitCode == 0)
    assert(report.totalUploaded == 0)
    val sent = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
    // the reference yields ONE empty batch so remove_all still clears the
    // stale audience (batches_from_executions.py:113-131)
    assert(sent.count(_.req.kind == "ensure_user_list") == 1)
    assert(sent.count(_.req.body.contains(""""remove_all": true""")) == 1)
  }

  test("read-once fan-out: two executions on one source each upload all rows") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 4)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "s", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
      "Destinations": [
        {"Name": "d1", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["ConvA"]},
        {"Name": "d2", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["ConvB"]}
      ],
      "Connections": [
        {"Enabled": true, "Source": "s", "Destination": "d1"},
        {"Enabled": true, "Source": "s", "Destination": "d2"}
      ]
    }"""
    val report = Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    assert(report.results.map(_.attempted) == Seq(4, 4))
    assert(report.distinctExecutions == 2)
  }

  test("schema validation failure records one error per execution and skips upload") {
    val dir = tmpDir()
    val src = s"$dir/bad.parquet"
    Seq(("x", "y")).toDF("not_gclid", "not_time").write.mode(SaveMode.Overwrite).parquet(src)
    val report = Pipeline.run(spark,
      JsonConfigSource.fromString(ociConfig(src)).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport()))
    assert(report.exitCode == 1)
    assert(report.results.head.attempted == 0)
    assert(report.results.head.error.exists(_.contains("missing")))
    assert(RecordingTransport.sent.isEmpty)
  }

  /** Spark jobs `body` starts on its own thread and the threads it creates. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("a failed _uploaded append gives each execution one result with its send counts") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 5)
    // the log is one parquet FILE with the log's schema: it reads as 0 rows,
    // and the append, which writes a file under it, fails
    val empty = s"$dir/empty_log"
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("timestamp TIMESTAMP, gclid STRING, time STRING"))
      .coalesce(1).write.parquet(empty)
    val part = new java.io.File(empty).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/log.parquet"))
    val report = Pipeline.run(spark,
      JsonConfigSource.fromString(ociConfig(src)).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport(),
        uploadedLogPathFor = (_, _) => s"$dir/log.parquet"))
    assert(report.results.size == 1, report.results)
    val r = report.results.head
    assert((r.attempted, r.succeeded) == ((5L, 5L)))
    assert(r.error.exists(_.startsWith("Error appending to the _uploaded log")), r.error)
    assert(report.exitCode == 1)
  }

  test("an _uploaded log path under a regular file fails the read, so nothing is sent") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 5)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/blocker"))
    val report = Pipeline.run(spark,
      JsonConfigSource.fromString(ociConfig(src)).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport(),
        uploadedLogPathFor = (_, _) => s"$dir/blocker/log.parquet"))
    assert(report.results.size == 1, report.results)
    val r = report.results.head
    assert((r.attempted, r.succeeded) == ((0L, 0L)))
    assert(r.error.exists(_.contains(s"$dir/blocker/log.parquet")), r.error)
    assert(RecordingTransport.sent.isEmpty, RecordingTransport.sent)
    assert(report.exitCode == 1)
  }

  test("an aborted send job skips the group's writeback, so the next run re-sends its rows") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    writeOciSource(src, 5)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "s", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
      "Destinations": [
        {"Name": "d1", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv1"]},
        {"Name": "d2", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv2"]}
      ],
      "Connections": [
        {"Enabled": true, "Source": "s", "Destination": "d1"},
        {"Enabled": true, "Source": "s", "Destination": "d2"}
      ]
    }"""
    val executions = JsonConfigSource.fromString(config).executions()
    val opts = PipelineOptions(transport = graft.sink.RecordingTransport())
    // an Error is no Exception: it escapes the per-batch catch and aborts
    // d2's send job
    RecordingTransport.failWhen = (ex, _) =>
      if (ex.destination.name == "d2") throw new Error("transport crashed") else None
    val run1 = Pipeline.run(spark, executions, opts)
    val byKey = run1.results.map(r => r.executionKey -> r).toMap
    assert(run1.results.size == 2, run1.results)
    assert((byKey("s -> d1").succeeded, byKey("s -> d1").error) == ((5L, None)))
    assert(byKey("s -> d2").succeeded == 0L)
    assert(byKey("s -> d2").error.exists(_.contains("transport crashed")), byKey("s -> d2"))
    assert(run1.exitCode == 1)
    assert(!new java.io.File(s"$dir/conversions_uploaded_ADS_OFFLINE_CONVERSION.parquet").exists())

    RecordingTransport.reset()
    val run2 = Pipeline.run(spark, executions, opts)
    assert(run2.exitCode == 0, run2.results)
    assert(run2.results.map(r => r.executionKey -> r.succeeded).toMap ==
      Map("s -> d1" -> 5L, "s -> d2" -> 5L))
    assert(RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
      .exists(_.executionKey == "s -> d2"))
  }

  test("one run timestamp: read once, stamped on every _uploaded row and CM payload") {
    val dir = tmpDir()
    val src = s"$dir/cm.parquet"
    (1 to 6).map(i => (s"u$i", s"g$i")).toDF("uuid", "gclid")
      .write.mode(SaveMode.Overwrite).parquet(src)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "CampaignManagerProfileId": "999",
      "Sources": [{"Name": "s", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
      "Destinations": [
        {"Name": "d1", "Type": "CM_OFFLINE_CONVERSION", "Metadata": ["act1", "cfg1"]},
        {"Name": "d2", "Type": "CM_OFFLINE_CONVERSION", "Metadata": ["act2", "cfg2"]}
      ],
      "Connections": [
        {"Enabled": true, "Source": "s", "Destination": "d1"},
        {"Enabled": true, "Source": "s", "Destination": "d2"}
      ]
    }"""
    val instant = 1717243200123456L // 2024-06-01T12:00:00.123456Z
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val report = Pipeline.run(spark, JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport(),
        nowMicros = () => { reads.incrementAndGet(); instant }))
    assert(report.exitCode == 0 && report.totalUploaded == 12, report.results)
    assert(reads.get == 1)
    val logged = spark.read.parquet(s"$dir/cm_uploaded_CM_OFFLINE_CONVERSION.parquet")
      .selectExpr("unix_micros(timestamp)").as[Long].collect()
    assert(logged.length == 12)
    assert(logged.toSet == Set(instant))
    val bodies = RecordingTransport.sent.toArray(Array.empty[RecordingTransport.Sent])
      .map(_.req.body)
    val stamps = bodies.flatMap(b => "\"timestampMicros\": (\\d+)".r.findAllMatchIn(b).map(_.group(1).toLong))
    assert(stamps.length == 12 && stamps.toSet == Set(instant), bodies.mkString("\n"))
  }

  test("job budget: one OCI execution runs 3 jobs, one REPLACE execution 4") {
    val dir = tmpDir()
    val ociSrc = s"$dir/conversions.parquet"
    writeOciSource(ociSrc, 25)
    val (oci, ociJobs) = jobsDuring(Pipeline.run(spark,
      JsonConfigSource.fromString(ociConfig(ociSrc)).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport())))
    assert(oci.exitCode == 0 && oci.totalUploaded == 25)
    // footer read, send, writeback
    assert(ociJobs <= 3, s"OCI execution ran $ociJobs jobs")

    val cmSrc = s"$dir/users.parquet"
    (1 to 20).map(i => (s"user$i@x.com", s"$i")).toDF("email", "phone").repartition(2)
      .write.mode(SaveMode.Overwrite).parquet(cmSrc)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "cm src", "Type": "FILE", "Dataset": "parquet", "Table": "$cmSrc"}],
      "Destinations": [{"Name": "cm dst", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": ["list1", "REPLACE"]}],
      "Connections": [{"Enabled": true, "Source": "cm src", "Destination": "cm dst"}]
    }"""
    val (cm, cmJobs) = jobsDuring(Pipeline.run(spark,
      JsonConfigSource.fromString(config).executions(),
      PipelineOptions(transport = graft.sink.RecordingTransport())))
    assert(cm.exitCode == 0 && cm.totalUploaded == 20)
    // footer read, count pass, phase A, phase B
    assert(cmJobs <= 4, s"REPLACE execution ran $cmJobs jobs")
  }

  test("the reported error is the first failing batch's, run after run") {
    val dir = tmpDir()
    val src = s"$dir/conversions.parquet"
    // two files read as two partitions, one batch each
    (1 to 6).map(i => (s"gclid_$i", "2024-05-01T10:00:00.000000", s"$i.5"))
      .toDF("gclid", "time", "amount").repartition(2)
      .write.mode(SaveMode.Overwrite).parquet(src)
    val firstRows = spark.read.parquet(src).select("gclid").as[String].rdd
      .mapPartitions(it => it.take(1)).collect()
    assert(firstRows.length == 2, firstRows.toSeq)
    val gclid = "\"gclid\": \"([^\"]+)\"".r
    RecordingTransport.failWhen = (_, req) =>
      Some(s"rejected batch from ${gclid.findFirstMatchIn(req.body).get.group(1)}")
    val errors = (1 to 3).map { _ =>
      val report = Pipeline.run(spark,
        JsonConfigSource.fromString(ociConfig(src)).executions(),
        PipelineOptions(transport = graft.sink.RecordingTransport()))
      assert(report.results.map(r => (r.attempted, r.succeeded)) == Seq((6L, 0L)))
      report.results.head.error
    }
    assert(errors.distinct == Seq(Some(s"rejected batch from ${firstRows.head}")), errors)
  }
}
