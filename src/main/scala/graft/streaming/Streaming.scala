package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators: the streaming duals of the batch
  * event-table queries (q_hourly_rollup, q_sessionize), built the
  * Spark-first way — `readStream` → event-time watermark → windowed agg /
  * `flatMapGroupsWithState` → `writeStream`.
  *
  * The reference engine is bounded-batch only (SURVEY §2: "streaming /
  * watermarks — none"), so this module is part of the beyond-the-reference
  * surface: the same pipeline shapes running continuously.
  *
  * Scale notes: the windowed rollup is a streaming state-store aggregation
  * partitioned by (window, event_type) — partial aggregation happens
  * map-side per micro-batch; the sessionizer keys state by user_id, and the
  * watermark bounds state size (sessions close and are evicted once the
  * watermark passes lastTs + gap).
  */
object Streaming {

  final case class Event(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  final case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Long,
      totalValue: Double)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Tumbling-window rollup with a watermark: count + value sum per
    * (1-hour window, event_type). Append mode emits a window once the
    * watermark passes its end.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** SLIDING (hopping) window rollup: every event lands in length/slide
    * overlapping windows (Spark's `window(ts, length, slide)` expands the
    * event to its covering windows before the keyed aggregation — the
    * streaming dual of an explode + tumbling rollup). State is
    * length/slide × the tumbling row count, bounded by the watermark as
    * usual; the trailing edge of a dashboard's "last hour, refreshed every
    * half hour" metric.
    */
  def slidingRollup(events: DataFrame, length: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** A row of either side of the streaming as-of enrichment: `side` 0 =
    * dimension update (payload meaningful), 1 = event (id meaningful).
    */
  final case class AsofIn(key: Long, ts: Long, side: Int, id: Long, payload: Double)

  final case class AsofState(ts: Long, payload: Double)

  final case class AsofOut(key: Long, ts: Long, id: Long, payload: Option[Double])

  /** Streaming as-of enrichment: events carry the LATEST dimension payload
    * with dim.ts <= event.ts — the continuous dual of
    * [[graft.operators.Temporal.asofJoin]] (stream enrichment against a
    * slowly-changing dimension), as keyed state: one `AsofState` per key
    * (the latest dim seen), with each micro-batch's rows walked in
    * event-time order. Ties among same-timestamp dim updates resolve to
    * the max payload — the same deterministic rule as the batch
    * pre-aggregation.
    *
    * Ordering note: event-time order is exact WITHIN a micro-batch (the
    * group's rows are sorted before the walk) and monotone across batches
    * via the state's timestamp; a dim update arriving in a LATER batch
    * than an event it should have enriched is missed — the standard
    * low-latency enrichment trade. An exact-across-batches variant buffers
    * events until the watermark passes, paying latency for order.
    */
  def asofEnrich(in: Dataset[AsofIn]): Dataset[AsofOut] = {
    import in.sparkSession.implicits._
    def walk(key: Long, rows: Iterator[AsofIn],
        state: GroupState[AsofState]): Iterator[AsofOut] = {
      val sorted = rows.toIndexedSeq.sortBy(r => (r.ts, r.side, r.payload))
      val initial = state.getOption
      var cur = initial
      val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
      sorted.foreach { r =>
        if (r.side == 0) {
          cur match {
            case Some(s) if s.ts > r.ts => // stale update: keep newer state
            case Some(s) if s.ts == r.ts =>
              cur = Some(AsofState(r.ts, math.max(s.payload, r.payload)))
            case _ => cur = Some(AsofState(r.ts, r.payload))
          }
        } else {
          // a cross-batch LATE event must not be enriched with a FUTURE
          // dim payload (state.ts > event.ts) — it misses enrichment, the
          // same trade as a late dim update
          out += AsofOut(key, r.ts, r.id,
            cur.filter(_.ts <= r.ts).map(_.payload))
        }
      }
      // Write state only when the walk CHANGED it: under RocksDB every
      // state.update is a per-key write+changelog cost, and the common
      // enrichment batch (many events, few dim updates) would otherwise
      // rewrite every active key unchanged — measured at sf10 as the
      // difference between 28× and linear scaling (SCALING.md, streaming
      // second decade). Groups whose rows were all events/stale updates
      // skip the write; the stored value is identical either way.
      if (cur != initial) cur.foreach(state.update)
      out.iterator
    }
    in.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(walk)
  }

  /** Gap-based sessionization (30-minute inactivity) as custom keyed state:
    * the streaming dual of the batch lag+running-sum composition. Sessions
    * are emitted (append) when the event-time timeout fires — i.e. the
    * watermark passed lastTs + gap — which simultaneously evicts the state.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val closed = Seq.newBuilder[Session]
      if (state.hasTimedOut) {
        val s = state.get
        closed += Session(userId, new java.sql.Timestamp(s.sessionStart),
          new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue)
        state.remove()
      } else {
        // fold this micro-batch's events into the session, closing on gaps
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastTs <= gapMs =>
              // min() on the start: a cross-batch late event (t within the
              // gap but before the stored start) extends the session
              // BACKWARD — otherwise session_start could postdate its
              // earliest member event
              cur = Some(s.copy(sessionStart = math.min(s.sessionStart, t),
                lastTs = math.max(s.lastTs, t),
                nEvents = s.nEvents + 1,
                totalValue = s.totalValue + e.value))
            case Some(s) =>
              closed += Session(userId, new java.sql.Timestamp(s.sessionStart),
                new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue)
              cur = Some(SessionState(t, t, 1L, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastTs + gapMs)
        }
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  final case class TransIn(user_id: Long, ts: Long, event_id: Long,
      event_type: String)
  final case class TransState(ts: Long, eventId: Long, eventType: String)
  final case class Transition(user_id: Long, src_type: String, dst_type: String)

  /** First-order event transitions as keyed streaming state — the
    * streaming dual of the batch lead-window Markov derivation
    * (`q_markov`): per user the state is ONLY the last event seen
    * (constant per key — the minimal-state shape), and each arriving
    * event emits one (previous type → this type) transition row.
    * In-batch events walk in (ts, event_id) order; an event older than
    * the held state is LATE and is dropped rather than allowed to emit a
    * time-reversed transition (the asofEnrich stale-guard discipline).
    * Downstream, transition counts/probabilities are a plain streaming
    * aggregation over the emitted rows.
    */
  def transitionsStream(in: Dataset[TransIn]): Dataset[Transition] = {
    import in.sparkSession.implicits._
    def walk(key: Long, rows: Iterator[TransIn],
        state: GroupState[TransState]): Iterator[Transition] = {
      val sorted = rows.toIndexedSeq.sortBy(r => (r.ts, r.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
      sorted.foreach { r =>
        cur match {
          // late arrival OR redelivery: anything at-or-before the held
          // state in the (ts, event_id) walk order never emits backwards
          // (equal-ts/smaller-id across a batch boundary would otherwise
          // order opposite to the batch lead-window derivation)
          case Some(c) if r.ts < c.ts ||
              (r.ts == c.ts && r.event_id <= c.eventId) => ()
          case _ =>
            cur.foreach(c => out += Transition(key, c.eventType, r.event_type))
            cur = Some(TransState(r.ts, r.event_id, r.event_type))
        }
      }
      cur.foreach(state.update)
      out.iterator
    }
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(walk)
  }

  /** State-store scale configuration, returned as a clone of `spark` that
    * carries it ([[graft.util.Sessions.scoped]]; `spark` is left unchanged):
    * start the streams on the returned session (the stateful shuffle width
    * is frozen into the checkpoint at the first start). RocksDB-backed
    * state keeps large keyed state (hundreds of millions of live sessions
    * / dedup keys) off the executor heap with incremental checkpointing —
    * the 100 TB-stream setting, where the default in-memory
    * HDFSBackedStateStore would OOM or GC-thrash. `shufflePartitions` sizes
    * the stateful operator's parallelism: wide enough that each partition's
    * state fits the store's memtable budget, narrow enough that per-batch
    * store open/commit fixed cost doesn't dominate (micro-benches here run
    * 8; a 1000-executor cluster runs thousands).
    */
  def scaleStateStore(spark: SparkSession, shufflePartitions: Int = 32,
      rocksDb: Boolean = true): SparkSession = {
    val rocks = if (!rocksDb) Nil else Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    graft.util.Sessions.scoped(spark,
      ("spark.sql.shuffle.partitions" -> shufflePartitions.toString) +: rocks: _*)(identity)
  }

  /** Source wiring: a parquet directory tailed as a stream (schema from the
    * existing files — the standard pattern for landing-zone ingestion).
    * `options` pass through to the source (e.g. maxFilesPerTrigger for
    * bounded micro-batches).
    */
  def readParquetStream(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).options(options).parquet(path)
  }

  /** Sink wiring: append the rollup/sessions to a parquet directory with a
    * checkpoint — exactly-once via the checkpoint + file-sink log.
    */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", path)

  /** Streaming CDC apply: each micro-batch of change rows (an op column
    * with 'U' upsert / 'D' delete, a version column for latest-wins)
    * merges into the latest published snapshot of a
    * [[graft.io.Versioned]] store via
    * [[graft.transform.Transforms.mergeCdc]], publishing one new
    * IMMUTABLE version per batch — the continuous dual of the batch CDC
    * merge (`q_merge_cdc`), and the Delta-style "MERGE INTO from a
    * stream" shape: readers keep time-travel over every applied batch,
    * and a crashed apply never corrupts the published snapshot (the
    * Versioned write is publish-by-rename).
    *
    * At-least-once note: a replayed batch re-merges the same changes into
    * the snapshot that already contains them — mergeCdc is idempotent per
    * (key, version) (latest-wins picks the same winners), so the replay
    * publishes an extra version with IDENTICAL content, not duplicates.
    *
    * Scale: each apply is one hash shuffle of snapshot+changes on the
    * merge keys (the mergeCdc shape) and a full snapshot rewrite — the
    * rewrite is the simple-store trade documented in Versioned; a
    * partitioned store would rewrite only touched partitions.
    */
  def cdcApplySink(changes: DataFrame, storePath: String, keys: Seq[String],
      versionCol: String, opCol: String) =
    changes.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val base = graft.io.Versioned.read(spark, storePath)
        val merged = graft.transform.Transforms
          .mergeCdc(base, batch, keys, versionCol, opCol)
        graft.io.Versioned.write(merged, storePath)
        ()
      }
    }

  /** Streaming INGEST dedup against the persistent digest log: each
    * micro-batch anti-joins [[graft.operators.Dedup.incrementalExactDedup]]
    * (first occurrence per content digest survives, the log appends), and
    * survivors append to `outPath` — the production landing-zone shape
    * where dedup state must outlive the stream (restarts, multiple
    * ingests, batch backfills all share ONE log), which watermark-bounded
    * `dropDuplicates` state cannot: its state dies with the query.
    * Exactly the `_uploaded` control-table feedback loop run as a stream.
    *
    * Retry safety (foreachBatch is at-least-once): the survivors land in
    * `outPath` FIRST and their digests append to the log only AFTER. A
    * replay after a crash between the two re-computes the same survivors
    * (the log hasn't changed) and re-appends them — duplicate output rows,
    * the standard at-least-once contract, dedupable downstream by content
    * digest. The REVERSE order would be silent loss: the replayed batch
    * anti-joins against its own just-appended digests and drops every row
    * with the output never written. (Per-batch-id overwrite partitions
    * would NOT fix this: batch ids restart at 0 for each new query, so
    * two queries sharing an outPath would clobber each other.)
    */
  def ingestDedupSink(docs: DataFrame, byCol: String, idCol: String,
      digestLogPath: String, outPath: String) =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        graft.io.UploadedLog.lockFor(digestLogPath).synchronized {
          val kept = graft.operators.Dedup
            .incrementalDedupSurvivors(batch, byCol, idCol, digestLogPath)
          kept.drop("digest").write.mode("append").parquet(outPath)
          graft.operators.Dedup.appendDigestLog(kept, digestLogPath)
        }
    }

  /** Streaming data-quality monitoring: run the one-pass
    * [[graft.operators.Expectations.audit]] over every micro-batch and
    * append the report rows stamped with the batch id — the
    * quality-dashboard feed of a landing zone (alert when a batch's
    * completeness dips), sharing the batch audit's exact-integer report
    * so thresholds behave identically online and offline. Report rows
    * land as a per-batch-id partition under dynamic overwrite, so an
    * at-least-once foreachBatch replay rewrites its own partition instead
    * of appending duplicate report rows.
    */
  def qualityMonitorSink(stream: DataFrame,
      checks: Seq[graft.operators.Expectations.Check], outPath: String) =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      graft.operators.Expectations.audit(batch, checks)
        .withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(outPath)
    }

  /** Streaming exact dedup: drop duplicate keys within the watermark
    * horizon (Spark keeps one state entry per key until the watermark
    * passes its event time — the streaming dual of the batch
    * digest-keyed exact dedup, with bounded state).
    */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Streaming trailing-window distinct entities per day — the incremental
    * dual of [[graft.operators.Temporal.slidingDistinct]]. Each event
    * fans out to the `windowDays` days it keeps its entity active for
    * (covered_ts, a bounded ≤windowDays× explode), streaming dedup keeps
    * ONE state row per (entity, covered day), and the downstream count per
    * day never re-aggregates a distinct; chained dedup→aggregation is one
    * of Spark's supported multi-stateful shapes.
    *
    * Watermark semantics: the watermark rides covered_ts, which sits up
    * to windowDays−1 days AHEAD of the true event time — so a delay of D
    * days on covered_ts tolerates only D − (windowDays − 1) days of real
    * event disorder (an event's EARLIEST covered day is its own day,
    * while the global watermark chases the latest fan-out). The
    * `latenessDays` parameter is therefore the true tolerated disorder;
    * the covered_ts delay is derived as latenessDays + windowDays − 1 so
    * callers reason in event time, not fan-out time.
    */
  def activeEntitiesWindow(df: DataFrame, entityCol: String, tsCol: String,
      windowDays: Int = 7, latenessDays: Int = 2): DataFrame =
    df.select(col(entityCol),
        explode(sequence(lit(0L), lit(windowDays - 1L))).as("__k"),
        floor(unix_timestamp(col(tsCol)) / 86400L).as("__day"))
      .select(col(entityCol),
        timestamp_seconds((col("__day") + col("__k")) * 86400L)
          .as("covered_ts"))
      .withWatermark("covered_ts",
        s"${latenessDays + windowDays - 1} days")
      .dropDuplicates(entityCol, "covered_ts")
      .groupBy(col("covered_ts"))
      .agg(count(lit(1)).as("n_distinct"))

  /** Watermarked stream-stream interval join (click→conversion attribution):
    * left rows match right rows of the same key whose event time falls in
    * [left.ts, left.ts + windowSeconds]. Both sides carry watermarks and the
    * join condition bounds the time range in BOTH directions, so Spark can
    * evict buffered state once the watermark passes a row's last possible
    * match — the state-bounded stream-stream join shape (an unbounded
    * condition would buffer a side forever at 100 TB/day rates).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, windowSeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.toDF(right.columns.map(c => s"r_$c"): _*)
    val r = r0.withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** LEFT OUTER stream-stream interval join: matched pairs stream out
    * like [[intervalJoin]]; an unmatched left row emits ONCE,
    * null-extended, when the watermark passes the end of its join window
    * and its state evicts — the "click with no conversion inside the
    * window" attribution shape. The same two-sided time bound keeps both
    * sides' state finite; the unmatched emission is exactly the state
    * eviction, so completeness needs the watermark to eventually pass the
    * data (a later batch or a sentinel in tests/drains).
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, windowSeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.toDF(right.columns.map(c => s"r_$c"): _*)
    val r = r0.withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $windowSeconds SECONDS"),
      "left_outer")
  }

  /** Streaming ACTIVATION bridge: drive the batch pipeline's sink stage
    * from a stream via foreachBatch — each micro-batch flows through the
    * same branch plan (hashing → batching → renderer → transport →
    * writeback) as a batch run, so a Kafka/file stream of conversions
    * activates continuously with the identical payload contract. The
    * `_uploaded` anti-join inside the pipeline keeps redelivered
    * micro-batches idempotent.
    */
  def activationSink(stream: DataFrame, runBatch: DataFrame => Unit) =
    stream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch((batch: DataFrame, _: Long) => runBatch(batch))
}
