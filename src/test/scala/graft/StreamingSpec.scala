package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minutes: Long) = new java.sql.Timestamp(minutes * 60000L)

  test("watermarked hourly rollup emits closed windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming.hourlyRollup(input.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("rollup").outputMode(OutputMode.Append()).start()

    // two events in hour 0, then one far later to push the watermark
    input.addData(
      Event(1L, 1L, ts(10), "click", 2.0),
      Event(2L, 2L, ts(20), "click", 3.0),
      Event(3L, 1L, ts(15), "view", 1.0))
    query.processAllAvailable()
    input.addData(Event(4L, 1L, ts(600), "click", 1.0)) // watermark -> 570min
    query.processAllAvailable()
    val out = spark.table("rollup")
      .select("hour_start", "event_type", "n", "total_value")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    query.stop()
    assert(out.contains((0L, "click", 2L, 5.0)))
    assert(out.contains((0L, "view", 1L, 1.0)))
  }

  test("transitions state carries across batches and drops late arrivals") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{TransIn, Transition}
    val input = MemoryStream[TransIn]
    val query = Streaming.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("trans").outputMode(OutputMode.Append()).start()

    // batch 1: user 1 view -> click (one transition inside the batch)
    input.addData(TransIn(1L, 100L, 1L, "view"), TransIn(1L, 200L, 2L, "click"))
    query.processAllAvailable()
    // batch 2: cross-batch transition click -> buy, plus a LATE event
    // (ts 50 < held state ts 200) that must emit nothing
    input.addData(TransIn(1L, 300L, 3L, "buy"), TransIn(1L, 50L, 4L, "view"))
    query.processAllAvailable()
    val out = spark.table("trans").as[Transition].collect().toSet
    query.stop()
    assert(out === Set(
      Transition(1L, "view", "click"),
      Transition(1L, "click", "buy")))
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming.sessionize(input.toDS(), gapMinutes = 30, watermark = "5 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()

    // user 1: two events 10 min apart (one session), then a 60-min gap event
    // (closes session 1 in-batch); timestamps offset from epoch so nothing
    // sits exactly on the initial watermark.
    input.addData(
      Event(1L, 1L, ts(1000), "click", 1.0),
      Event(2L, 1L, ts(1010), "click", 2.0))
    query.processAllAvailable()
    input.addData(Event(3L, 1L, ts(1070), "click", 4.0))
    query.processAllAvailable()
    // advance watermark far past everything: timeout closes open sessions
    input.addData(Event(9L, 99L, ts(2000), "click", 0.0))
    query.processAllAvailable()
    input.addData(Event(10L, 98L, ts(3000), "click", 0.0))
    query.processAllAvailable()
    val sessions = spark.table("sessions").as[Session].collect()
    query.stop()

    val u1 = sessions.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    assert(u1.length == 2)
    assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
    assert(u1(0).session_start == ts(1000) && u1(0).session_end == ts(1010))
    assert(u1(1).n_events == 1 && u1(1).total_value == 4.0)
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming.dedupStream(input.toDF(), Seq("event_id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1L, 1L, ts(1000), "click", 1.0),
      Event(1L, 1L, ts(1000), "click", 1.0), // duplicate
      Event(2L, 1L, ts(1001), "click", 2.0))
    query.processAllAvailable()
    input.addData(Event(1L, 1L, ts(1000), "click", 1.0)) // late duplicate
    query.processAllAvailable()
    val n = spark.table("dedup").count()
    query.stop()
    assert(n == 2)
  }

  test("activation sink drives the batch pipeline per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    graft.sink.RecordingTransport.reset()
    val dir = java.nio.file.Files.createTempDirectory("graft_act").toString
    val input = MemoryStream[(String, String, String)]
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val query = Streaming.activationSink(
      input.toDF().toDF("gclid", "time", "amount"),
      runBatch = { batch =>
        val src = s"$dir/batch.parquet"
        batch.write.mode("overwrite").parquet(src)
        val config = s"""{
          "GoogleAdsAccountId": "1234567890",
          "Sources": [{"Name": "s", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
          "Destinations": [{"Name": "d", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv"]}],
          "Connections": [{"Enabled": true, "Source": "s", "Destination": "d"}]
        }"""
        val report = graft.pipeline.Pipeline.run(spark,
          graft.config.JsonConfigSource.fromString(config).executions(),
          graft.pipeline.PipelineOptions(transport = graft.sink.RecordingTransport(),
            uploadedLogPathFor = (_, _) => s"$dir/uploaded.parquet"))
        seen.addAndGet(report.totalUploaded)
        ()
      }).start()
    input.addData(("g1", "2024-05-01T10:00:00.000000", "1.5"))
    query.processAllAvailable()
    // redelivery of the same key is deduped by the _uploaded anti-join
    input.addData(("g1", "2024-05-01T10:00:00.000000", "1.5"),
      ("g2", "2024-05-01T10:00:01.000000", "2.5"))
    query.processAllAvailable()
    query.stop()
    assert(seen.get() == 2) // g1 once, g2 once
  }

  test("file-streamed hourly rollup equals the oracle-checked batch q_hourly_rollup") {
    import org.apache.spark.sql.functions.{expr, timestamp_micros, unix_timestamp}
    import org.apache.spark.sql.streaming.Trigger
    val dir = sf("sf0.001")
    // the real events table tailed as a file stream (availableNow: drain
    // and stop) — FileStreamSource wants a directory, so the single parquet
    // file lands in a temp landing zone; ts arrives as an ns-epoch long
    // (nanosAsLong) and is truncated to µs exactly like the batch query's tsUs
    val landing = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      landing.resolve("events.parquet"))
    val evStream = Streaming.readParquetStream(spark, landing.toString)
      .transform(graft.io.EventTs.toTimestamp)
    val query = Streaming.hourlyRollup(evStream, watermark = "2 hours")
      .writeStream.format("memory").queryName("rollup_file")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    val streamed = spark.table("rollup_file")
      .select((unix_timestamp($"hour_start") / 3600).cast("long").as("hour_id"),
        $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = SparkEntry.queries("q_hourly_rollup")(spark, dir)
      .collect().map(r => (r.getAs[Long]("hour_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("total_value")))
      .toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streamed sessionization equals the oracle-checked batch q_sessionize") {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    implicit val sqlCtx = spark.sqlContext
    val dir = sf("sf0.001")
    val events = graft.io.EventTs.toTimestamp(spark.read.parquet(s"$dir/events.parquet"))
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      .as[Event].collect().toSeq
    val input = MemoryStream[Event]
    val query = Streaming.sessionize(input.toDS(), gapMinutes = 30, watermark = "0 minutes")
      .writeStream.format("memory").queryName("sessions_eq")
      .outputMode(OutputMode.Append()).start()
    input.addData(events: _*)
    query.processAllAvailable()
    // two sentinel batches: the first advances the watermark past every
    // session's (lastTs + gap), the second lets the event-time timeouts
    // fire and flush the still-open sessions
    val maxMs = events.map(_.ts.getTime).max
    input.addData(Event(-1L, -1L, new java.sql.Timestamp(maxMs + 86400000L), "z", 0.0))
    query.processAllAvailable()
    input.addData(Event(-2L, -1L, new java.sql.Timestamp(maxMs + 86401000L), "z", 0.0))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("sessions_eq").as[Session].collect()
      .filter(_.user_id >= 0L)
      .groupBy(_.user_id)
      .map { case (u, ss) => (u, ss.length.toLong, ss.map(_.n_events).sum) }
      .toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_events")))
      .toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionizer runs unchanged on the RocksDB state store (scale config)") {
    val scaled = Streaming.scaleStateStore(spark, shufflePartitions = 4)
    implicit val sqlCtx = scaled.sqlContext
    val input = MemoryStream[Event]
    val query = Streaming.sessionize(input.toDS(), gapMinutes = 30, watermark = "0 minutes")
      .writeStream.format("memory").queryName("sessions_rocks")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1L, 1L, ts(1000), "click", 1.0),
      Event(2L, 1L, ts(1010), "click", 2.0),
      Event(3L, 2L, ts(1005), "view", 1.0))
    query.processAllAvailable()
    input.addData(Event(9L, 99L, ts(5000), "z", 0.0))
    query.processAllAvailable()
    input.addData(Event(10L, 98L, ts(9000), "z", 0.0))
    query.processAllAvailable()
    query.stop()
    val sessions = scaled.table("sessions_rocks").as[Session].collect()
      .filter(_.user_id <= 2L)
    assert(sessions.map(s => (s.user_id, s.n_events, s.total_value)).toSet ==
      Set((1L, 2L, 3.0), (2L, 1L, 1.0)))
    assert(scaled.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
  }

  test("streaming rollup agrees with the batch rollup on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = (1 to 200).map(i =>
      Event(i.toLong, i % 7L, ts(i % 90L), if (i % 2 == 0) "a" else "b", i * 0.5))
    val input = MemoryStream[Event]
    val query = Streaming.hourlyRollup(input.toDF(), watermark = "0 minutes")
      .writeStream.format("memory").queryName("rollup2").outputMode(OutputMode.Append()).start()
    input.addData(events: _*)
    query.processAllAvailable()
    // close remaining windows
    input.addData(Event(0L, 0L, ts(10000), "z", 0.0))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("rollup2")
      .where($"event_type".isin("a", "b"))
      .select($"hour_start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = events.toDF()
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.sum($"value"), 2).as("total_value"))
      .select($"window.start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("interval join pairs rows within the window, both bounds enforced") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = Streaming.intervalJoin(
      clicks.toDF().select($"user_id", $"ts", $"event_id"),
      buys.toDF().select($"user_id", $"ts", $"event_id"),
      "user_id", "ts", windowSeconds = 1800L)
    val query = joined.select($"event_id".as("click_id"), $"r_event_id".as("buy_id"))
      .writeStream.format("memory").queryName("ij").outputMode(OutputMode.Append()).start()
    // times sit well past epoch 0 — the initial watermark — so nothing is late
    clicks.addData(
      Event(1L, 1L, ts(1000), "click", 0.0),
      Event(2L, 2L, ts(1000), "click", 0.0))
    buys.addData(
      Event(11L, 1L, ts(1020), "purchase", 1.0), // inside the 30-min window
      Event(12L, 1L, ts(1040), "purchase", 1.0), // past the window
      Event(13L, 2L, ts(990), "purchase", 1.0))  // before the click
    query.processAllAvailable()
    query.stop()
    val got = spark.table("ij").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 11L)))
  }

  test("asofEnrich: in-batch event-time walk, cross-batch state, ties to max") {
    import Streaming.{AsofIn, AsofOut}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofIn]
    val query = Streaming.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append()).start()
    // batch 1: dim updates at t=10 (ties 5.0/9.0 -> 9.0), event before any
    // dim (t=5 -> null), event at the tie ts (-> 9.0), event after (-> 9.0)
    input.addData(
      AsofIn(1L, 10L, 0, 0L, 5.0), AsofIn(1L, 10L, 0, 0L, 9.0),
      AsofIn(1L, 5L, 1, 100L, 0.0), AsofIn(1L, 10L, 1, 101L, 0.0),
      AsofIn(1L, 20L, 1, 102L, 0.0))
    query.processAllAvailable()
    // batch 2: the state carries the t=10 dim; a newer dim replaces it, a
    // STALE dim (t=8) must not regress the state
    input.addData(
      AsofIn(1L, 30L, 0, 0L, 2.0), AsofIn(1L, 8L, 0, 0L, 7.0),
      AsofIn(1L, 40L, 1, 103L, 0.0), AsofIn(1L, 35L, 1, 104L, 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("asof").as[AsofOut].collect()
      .map(o => o.id -> o.payload).toMap
    assert(got === Map(100L -> None, 101L -> Some(9.0), 102L -> Some(9.0),
      103L -> Some(2.0), 104L -> Some(2.0)))
  }

  test("asofEnrich: event-only batches write NO state (RocksDB write-skip)") {
    import Streaming.AsofIn
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsofIn]
    val qn = s"asof_skip_${System.nanoTime()}"
    val query = Streaming.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append()).start()
    // batch 1: a dim update -> exactly one state row written
    input.addData(AsofIn(1L, 10L, 0, 0L, 5.0), AsofIn(1L, 20L, 1, 100L, 0.0))
    query.processAllAvailable()
    assert(query.lastProgress.stateOperators.head.numRowsUpdated === 1L,
      "the dim update must write its state row")
    // batch 2: events and a STALE dim only -> the state is unchanged, and
    // the walk must not rewrite it (under RocksDB every unchanged-value
    // update is a real per-key write — see the scaladoc / SCALING.md)
    input.addData(AsofIn(1L, 30L, 1, 101L, 0.0), AsofIn(1L, 5L, 0, 0L, 7.0),
      AsofIn(2L, 40L, 1, 102L, 0.0))
    query.processAllAvailable()
    assert(query.lastProgress.stateOperators.head.numRowsUpdated === 0L,
      "event-only / stale-dim groups must skip the state write")
    query.stop()
    // and the enrichment output is unaffected by the skip
    val got = spark.table(qn).as[Streaming.AsofOut].collect()
      .map(o => o.id -> o.payload).toMap
    assert(got === Map(100L -> Some(5.0), 101L -> Some(5.0), 102L -> None))
  }

  test("stream-static anti-join: the uploaded side is a SNAPSHOT until restart") {
    val dir = java.nio.file.Files.createTempDirectory("uploaded_ctl").toString
    Seq(1L).toDF("event_id").write.mode("overwrite").parquet(dir)
    val uploaded = spark.read.parquet(dir)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val qn = s"anti_refresh_${System.nanoTime()}"
    val query = graft.transform.Transforms.antiJoinUploaded(
        input.toDF.withColumnRenamed("value", "event_id"), uploaded, Seq("event_id"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    input.addData(1L, 2L, 3L)
    query.processAllAvailable()
    // batch 1: id 1 blocked
    assert(spark.table(qn).as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // a writeback APPENDS id 2 mid-query: the documented snapshot contract
    // means the RUNNING query must still pass it (file listing captured at
    // start; even refreshByPath does not reach inside the analyzed plan)
    Seq(2L).toDF("event_id").write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    input.addData(2L, 4L)
    query.processAllAvailable()
    query.stop()
    assert(spark.table(qn).as[Long].collect().sorted.toSeq == Seq(2L, 2L, 3L, 4L))
    // a RESTARTED query (fresh static DataFrame) sees the appended row
    val input2 = MemoryStream[Long]
    val qn2 = s"anti_refresh2_${System.nanoTime()}"
    val q2 = graft.transform.Transforms.antiJoinUploaded(
        input2.toDF.withColumnRenamed("value", "event_id"),
        spark.read.parquet(dir), Seq("event_id"))
      .writeStream.format("memory").queryName(qn2)
      .outputMode("append").start()
    input2.addData(1L, 2L, 5L)
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table(qn2).as[Long].collect().sorted.toSeq == Seq(5L))
  }

  test("ingest dedup: digest-log state survives across batches AND queries") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_spec")
    val log = s"$base/digests.parquet"
    val out = s"$base/kept"
    def run(rows: Seq[(Long, String)]): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming.ingestDedupSink(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", log, out).start()
      rows.grouped(2).foreach { g => input.addData(g: _*); q.processAllAvailable() }
      q.stop()
    }
    // query 1, two micro-batches: in-batch dup (2) and cross-batch dup (3)
    run(Seq((1L, "aa"), (2L, "aa"), (3L, "aa"), (4L, "bb")))
    val kept1 = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 4L))
    // query 2 (a RESTART): state store is gone, the log is not — the
    // re-delivered text is still dropped, only the new one lands
    run(Seq((5L, "bb"), (6L, "cc")))
    val kept2 = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(1L, 4L, 6L))
  }

  test("bounded top-k aggregate merges state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = input.toDF()
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour").as("w"))
      .agg(graft.functions.TopKAggregate.topKByScore($"value", $"event_id", 2).as("top"))
      .writeStream.format("memory").queryName("topk_state")
      .outputMode(OutputMode.Complete()).start()
    // batch 1: two events in hour 0
    input.addData(Event(1L, 1L, ts(10), "a", 5.0), Event(2L, 2L, ts(20), "a", 1.0))
    query.processAllAvailable()
    // batch 2: a higher-valued event in the SAME hour must evict id 2 from
    // the k=2 heap restored from the state store
    input.addData(Event(3L, 3L, ts(30), "a", 9.0))
    query.processAllAvailable()
    val out = spark.table("topk_state")
      .select(org.apache.spark.sql.functions.posexplode($"top").as(Seq("pos", "e")))
      .collect().map(r => (r.getInt(0), r.getStruct(1).getLong(1))).toSet
    query.stop()
    assert(out == Set((0, 3L), (1, 1L))) // 9.0 then 5.0; 1.0 evicted
  }

  test("cdc apply: replayed batch publishes identical content (at-least-once safe)") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("cdc_replay").toString + "/s"
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("k", "x", "v")
    graft.io.Versioned.write(base, store)
    val batch = Seq((2L, "B", 1L, "U"), (3L, "c", 1L, "D"), (4L, "d", 1L, "U"))
      .toDF("k", "x", "v", "op")
    def applyOnce(): Unit = {
      val merged = graft.transform.Transforms.mergeCdc(
        graft.io.Versioned.read(spark, store), batch, Seq("k"), "v", "op")
      graft.io.Versioned.write(merged, store); ()
    }
    applyOnce()
    val after1 = graft.io.Versioned.read(spark, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after1 == Set((1L, "a"), (2L, "B"), (4L, "d")))
    applyOnce() // the crash-replay: same batch merged again
    val after2 = graft.io.Versioned.read(spark, store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after2 == after1, "replay changed the published snapshot")
    assert(graft.io.Versioned.latestVersion(spark, store).contains(3))
  }

  test("a registry drain never writes the caller's confs or catalog") {
    import scala.jdk.CollectionConverters._
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointLocation",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    def confs(): Seq[Option[String]] = keys.map(spark.conf.getOption)
    val before = confs()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
    @volatile var draining = true
    // polls the caller's session from a second thread for the whole drain
    val poller = new Thread(() => while (draining) { seen.add(confs()); Thread.sleep(1) })
    poller.start()
    val out = try SparkEntry.queries("s_rollup_stream")(spark, sf("sf0.001"))
      finally { draining = false; poller.join() }
    assert(seen.asScala.toSet == Set(before), s"caller's confs changed mid-drain: $seen")
    assert(out.sparkSession eq spark)
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(!views.exists(_.startsWith("s_rollup_stream_")), views.mkString(", "))
    assert(out.count() > 0)
  }
}
