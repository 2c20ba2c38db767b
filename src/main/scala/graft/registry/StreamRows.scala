package graft.registry

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.operators.Dedup
import graft.registry.Shared._

/** Registry rows `s_*`: streaming queries under the oracle gate. The
  * stream runs (availableNow / micro-batches) and its output is
  * hash-compared to the DuckDB batch oracle, so stream/batch equivalence
  * is a correctness row, not just a test. */
object StreamRows extends Family {

  /** Drain shuffle width, auto-sized from the sf dir's events table (the
    * input every one of these streams tails): the round-8 width probe
    * (SCALING.md) measured width ~indifferent at sf0.1 (fixed per-
    * partition state-store open/commit cost dominates the single-burst
    * drains; 21.8/21.2/21.6 s at 2/4/8) but a 30% total win at sf1
    * (61.1 → 42.6 s at width 8) where the keyed-state walk outweighs the
    * per-partition fixed cost. One partition per ~3 MB of events parquet,
    * clamped to [2, 32]: sf0.1 → 2, sf1 → 8, a decade up saturates the
    * local core budget.
    */
  private val streamPartsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def autoStreamParts(dir: String): String =
    streamPartsCache.computeIfAbsent(dir, { _ =>
      val bytes =
        try java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/events.parquet"))
        catch { case _: Exception => 0L }
      math.max(2L, math.min(32L, bytes / (3L << 20))).toString
    })

  /** Runs the stream `build` wires up to one availableNow drain, on a clone
    * of `s` scoped to the drain confs ([[graft.util.Sessions.scoped]]), and
    * returns the clone once the drain has finished. The caller's session is
    * never written. Every frame the stream touches must be built from the
    * session `build` is given. The drain confs:
    *  - stateful shuffle narrowed to [[autoStreamParts]]: state-store
    *    open/commit is a fixed per-partition cost in these single-burst
    *    drains;
    *  - checkpoints under the scratch root, one subdirectory per query;
    *  - no trailing no-data micro-batch. It exists to advance the watermark
    *    once more after the last data batch, and every drain here runs in
    *    Complete mode, emits within its data batch, or advances its
    *    watermark with explicit sentinel batches, so the extra empty batch
    *    is pure fixed cost on all 21 drains. The oracle gate on the 21 s_*
    *    rows pins that disabling it is output-neutral.
    * The state-store provider is the caller's: the in-memory default is
    * right for single-burst drains (state fits the executor heap and dies
    * with the query). A long-running deployment whose keyed state outgrows
    * memory sets Spark's `spark.sql.streaming.stateStore.providerClass` to
    * RocksDB, which the clone inherits — per-partition RocksDB instances
    * with changelog checkpointing, measured at sf1 on the same width-8
    * drains at 0.7-1.9x the in-memory time: the bounded constant paid for
    * state that never OOMs (SCALING.md).
    */
  private def drainSink(s: SparkSession, dir: String)(
      build: SparkSession => DataStreamWriter[Row]): SparkSession =
    graft.util.Sessions.scoped(s,
      "spark.sql.shuffle.partitions" -> autoStreamParts(dir),
      "spark.sql.streaming.checkpointLocation" ->
        streamScratchRoot.resolve("ckpt").toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") { c =>
      build(c).trigger(Trigger.AvailableNow()).start().awaitTermination()
      c
    }

  /** [[drainSink]] into a memory sink under a unique `name_<nanos>` query
    * name; returns the drained rows as a frame of `s`, so everything
    * planned on top of them runs under the caller's confs. The sink's temp
    * view exists only in the drain's clone, never in the caller's catalog.
    */
  private def drainToMemory(s: SparkSession, dir: String, name: String,
      mode: OutputMode)(build: SparkSession => DataFrame): DataFrame = {
    val qn = s"${name}_${System.nanoTime()}"
    val drained = drainSink(s, dir)(c =>
      build(c).writeStream.format("memory").queryName(qn).outputMode(mode))
    GraftExpressionBridge.rebind(s, drained.table(qn))
  }

  /** One READ-ONLY landing directory per (sf dir, table), shared by every
    * streaming query that only TAILS the table: the per-query temp-dir +
    * file copy was pure fixed cost repeated on every drain. Queries that
    * MUTATE their landing dir (sentinel appenders driving watermark
    * advancement) keep private copies.
    */
  private val landingCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedLanding(dir: String, table: String): String =
    landingCache.computeIfAbsent(s"$dir/$table", { _ =>
      val d = scratch(s"land_$table")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/$table.parquet"),
        d.resolve(s"$table.parquet"))
      d.toString
    })

  /** Max events.ts (ns) per sf dir — probed once per JVM, shared by every
    * sentinel-building stream harness (each used to pay its own agg job).
    */
  private val maxTsCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def maxEventTsNs(s: SparkSession, dir: String): Long =
    maxTsCache.computeIfAbsent(dir, { _ =>
      val r = graft.io.EventTs.toNsLong(s.read.parquet(s"$dir/events.parquet"))
        .agg(max(col("ts"))).head()
      // empty landing: any sentinel epoch works — the streams that use
      // this watermark then simply drain zero data rows
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })

  /** The watermarked streaming hourly rollup over the real events table,
    * drained with availableNow into a memory sink; output reshaped to the
    * q_hourly_rollup schema. Equivalence to the batch plan is exact: same
    * window arithmetic, same µs truncation.
    */
  private def sRollupStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_rollup_stream", OutputMode.Complete()) { c =>
      val ev = graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
      graft.streaming.Streaming.hourlyRollup(ev, watermark = "2 hours")
    }.select(
      (unix_timestamp(col("hour_start")) / 3600).cast("long").as("hour_id"),
      col("event_type"), col("n"), col("total_value"))
  }
  // the STREAMING rollup must reproduce the batch result exactly
  row("s_rollup_stream", sRollupStream)(sqlHourlyRollup)

  /** STREAMING sample-ratio-mismatch guardrail — the continuous dual of
    * [[QueryRows.qAbSrmCheck]]: per 6-hour tumbling window, the same deterministic
    * arm assignments aggregate to per-(window, experiment, arm) counts
    * inside a watermarked streaming groupBy (O(arms) state per window),
    * and the drained table folds to the chi-square per (window,
    * experiment) with the identical one-division arithmetic — the alarm
    * that pages BEFORE a skewed assignment poisons a week of data. One
    * oracle (the batch window replay) proves both paths.
    */
  private def sSrmStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_srm_stream", OutputMode.Complete()) { c =>
      val ev = graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .select(col("ts"), explode(array(
          struct(lit("exp_even").as("experiment"),
            when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B").as("arm")),
          struct(lit("exp_skewed").as("experiment"),
            when(pmod(col("user_id"), lit(10)) < 4, "A").otherwise("B").as("arm"))))
          .as("e"))
        .select(col("ts"), col("e.experiment").as("experiment"),
          col("e.arm").as("arm"))
      ev.withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "6 hours"), col("experiment"), col("arm"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("experiment"),
          col("arm"), col("n"))
    }.groupBy((unix_timestamp(col("w_start")) / 21600).cast("long").as("w_id"),
        col("experiment"))
      .agg(sum(when(col("arm") === "A", col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", col("n")).otherwise(0L)).as("n_b"))
      .select(col("w_id"), col("experiment"), col("n_a"), col("n_b"),
        round(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")), 6).as("chi2"))
  }
  row("s_srm_stream", sSrmStream)(
    """WITH u AS (SELECT epoch_us(ts) // 21600000000 AS w_id, user_id
           FROM events),
         a AS (
           SELECT w_id, 'exp_even' AS experiment,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM u
           UNION ALL
           SELECT w_id, 'exp_skewed' AS experiment,
             CASE WHEN user_id % 10 < 4 THEN 'A' ELSE 'B' END AS arm FROM u),
         c AS (SELECT w_id, experiment,
             sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b
           FROM a GROUP BY 1, 2)
         SELECT w_id, experiment, n_a, n_b,
           round(((n_a - n_b) * (n_a - n_b))::DOUBLE / (n_a + n_b), 6) AS chi2
         FROM c""")

  /** The custom bounded top-k AGGREGATE under INCREMENTAL streaming
    * execution: per tumbling hour, the top-3 events by value through
    * [[graft.functions.TopKAggregate]] inside a watermarked streaming
    * groupBy — the k-bounded heap buffer is what the state store
    * serializes between micro-batches, so per-window state is O(k), not
    * O(events). Drained complete-mode sink posexploded to ranked rows;
    * the oracle is the plain batch window ranking.
    */
  private def sTopkStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_topk_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(graft.functions.TopKAggregate.topKByScore(
          col("value"), col("event_id"), 3).as("top"))
    }.select((unix_timestamp(col("w.start")) / 3600).cast("long").as("hour_id"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("hour_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("event_id"), col("e.score").as("value"))
  }
  row("s_topk_stream", sTopkStream)(
    """SELECT hour_id, rank, event_id, value FROM (
           SELECT epoch_us(ts) // 3600000000 AS hour_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY epoch_us(ts) // 3600000000
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
           FROM events) WHERE rank <= 3""")

  /** SLIDING-window streaming rollup under the oracle gate
    * ([[graft.streaming.Streaming.slidingRollup]]): 1-hour windows hopping
    * every 30 minutes, so each event lands in TWO windows — the oracle
    * replays the expansion as an explicit explode + tumbling group.
    */
  private def sSlidingStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_sliding_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.slidingRollup(
        graft.streaming.Streaming.readParquetStream(c, landing)
          .transform(graft.io.EventTs.toTimestamp))
    }.select(
      (unix_timestamp(col("win_start")) / 60).cast("long").as("win_min"),
      col("event_type"), col("n"), col("total_value"))
  }
  // the STREAMING sliding rollup must equal the batch explode + tumble
  row("s_sliding_stream", sSlidingStream)(
    """WITH ev AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
         x AS (SELECT (t // 1800000000 - d) * 30 AS win_min, event_type, value
           FROM ev, unnest(range(0, 2)) AS u(d))
         SELECT win_min, event_type, count(*) AS n,
           round(sum(value), 2) AS total_value
         FROM x GROUP BY 1, 2""")

  /** Streaming trailing 7-day distinct active users under the oracle gate
    * ([[graft.streaming.Streaming.activeEntitiesWindow]]): bounded
    * coverage fan-out + streaming dedup + count — chained multi-stateful
    * (dedup→agg), never a distinct re-count per day. Hash-equal to the
    * batch interval-coverage rewrite's independent brute-force oracle.
    */
  private def sActiveUsersStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_active_users_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.activeEntitiesWindow(
        graft.streaming.Streaming.readParquetStream(c, landing)
          .transform(graft.io.EventTs.toTimestamp),
        "user_id", "ts")
    }.select((unix_timestamp(col("covered_ts")) / 86400).cast("long")
          .as("day_id"),
        col("n_distinct").as("active_users_7d"))
  }
  // The streaming dual must converge to the same brute-force answer.
  row("s_active_users_stream", sActiveUsersStream)(
    """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id
           FROM events),
         dom AS (SELECT DISTINCT day_id + o AS day FROM days, range(0, 7) t(o))
         SELECT day AS day_id, count(DISTINCT user_id)::BIGINT AS active_users_7d
         FROM dom JOIN days ON day_id BETWEEN day - 6 AND day
         GROUP BY 1""")

  /** Streaming as-of enrichment under the oracle gate
    * ([[graft.streaming.Streaming.asofEnrich]]): the event stream and the
    * order-update stream union into one keyed stateful walk; every event
    * must carry the latest order price as of its time, hash-equal to
    * DuckDB's native ASOF LEFT JOIN over the same tables.
    */
  private def sAsofStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streaming.AsofIn
    val landingE = sharedLanding(dir, "events")
    val landingO = sharedLanding(dir, "orders")
    drainToMemory(s, dir, "s_asof_stream", OutputMode.Append()) { c =>
      import c.implicits._
      val ev = graft.streaming.Streaming.readParquetStream(c, landingE)
        .transform(graft.io.EventTs.toNsLong)
        .select(col("user_id").as("key"), expr("ts div 1000").as("ts"),
          lit(1).as("side"), col("event_id").as("id"), lit(0.0).as("payload"))
        .as[AsofIn]
      val ord = graft.streaming.Streaming.readParquetStream(c, landingO)
        .select(col("o_custkey").as("key"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
          lit(0).as("side"), lit(0L).as("id"),
          round(col("o_totalprice"), 2).as("payload"))
        .as[AsofIn]
      graft.streaming.Streaming.asofEnrich(ev.unionByName(ord)).toDF()
    }.select(col("id").as("event_id"), col("key").as("user_id"),
      col("ts").as("ts_us"), col("payload").as("last_order_price"))
  }
  row("s_asof_stream", sAsofStream)(
    """WITH o AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS p
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.p AS last_order_price
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND epoch_us(e.ts) >= o.o_us""")

  /** Streaming Markov transitions under the oracle gate: the events table
    * streams through [[graft.streaming.Streaming.transitionsStream]]'s
    * last-event-per-user keyed state, and the drained transition rows are
    * counted per (src, dst) — which must equal the batch lead-window
    * derivation the oracle runs. Constant state per user, append-only
    * emission.
    */
  private def sTransitionsStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streaming.TransIn
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_transitions_stream", OutputMode.Append()) { c =>
      import c.implicits._
      val ev = graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toNsLong)
        .select(col("user_id"), tsUs.as("ts"), col("event_id"), col("event_type"))
        .as[TransIn]
      graft.streaming.Streaming.transitionsStream(ev).toDF()
    }.groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
  }
  // the STREAMING as-of enrichment must equal DuckDB's native ASOF JOIN
  row("s_transitions_stream", sTransitionsStream)(
    """WITH seq AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
           FROM events)
         SELECT event_type AS src_type, next_type AS dst_type,
           CAST(count(*) AS BIGINT) AS n
         FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2""")

  /** Streaming exact dedup under the oracle gate: the events table lands
    * TWICE in the stream's directory (the redelivery/duplicate-file case),
    * and the watermarked `dropDuplicates` state drops every second copy —
    * the batch aggregate over the drained sink must equal the plain
    * per-user counts of the ORIGINAL table. Single availableNow batch: all
    * duplicates fall inside the watermark horizon, so the dedup is exact by
    * construction (the horizon bounds state at real scale).
    */
  private def sDedupStream(s: SparkSession, dir: String): DataFrame = {
    val landing = java.nio.file.Paths.get(assembledLanding(s"dedup:$dir") { d =>
      Seq("a.parquet", "b.parquet").foreach { n =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
          d.resolve(n))
      }
    })
    drainToMemory(s, dir, "s_dedup_stream", OutputMode.Append()) { c =>
      graft.streaming.Streaming.dedupStream(
        graft.streaming.Streaming.readParquetStream(c, landing.toString)
          .transform(graft.io.EventTs.toTimestamp),
        Seq("event_id"), "ts", "1 day")
    }.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
  }
  row("s_dedup_stream", sDedupStream)("SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id")

  /** Streaming quality monitoring ([[graft.streaming.Streaming
    * .qualityMonitorSink]]): the events corpus lands twice, two
    * micro-batches each run the one-pass expectations audit, and the
    * drained report holds one row per (check, batch) — identical
    * observed ratios per batch because the batches are identical, which
    * is exactly what the oracle replays (batch audit × batch ids).
    */
  private def sQualityMonitorStream(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val landing = java.nio.file.Paths.get(assembledLanding(s"qmon:$dir") { d =>
      Seq("a.parquet", "b.parquet").foreach { n =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
          d.resolve(n))
      }
    })
    val out = scratch("qmon_out").toString + "/report"
    drainSink(s, dir) { c =>
      val ev = graft.streaming.Streaming.readParquetStream(c, landing.toString,
        Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.Streaming.qualityMonitorSink(ev, Seq(
          Completeness("user_id"),
          Bounds("value", 0.0, 400.0),
          InSet("event_type", Seq("view", "click", "purchase", "signup"))),
        out)
    }
    s.read.parquet(out)
      .select(col("batch_id"), col("check"), col("target"),
        col("observed_e6"), col("pass"))
  }
  // duplicate-file redelivery deduped back to the original per-user counts
  row("s_quality_monitor_stream", sQualityMonitorStream)(
    """WITH m AS (SELECT count(*) AS n, count(user_id) AS c_uid,
           count(CASE WHEN value >= 0 AND value <= 400 THEN 1 END) AS in_b,
           count(value) AS n_v,
           count(CASE WHEN event_type IN ('view', 'click', 'purchase', 'signup')
             THEN 1 END) AS in_s,
           count(event_type) AS n_et
           FROM events),
         r AS (
           SELECT 'completeness' AS "check", 'user_id' AS target,
             c_uid * 1000000 // n AS observed_e6 FROM m
           UNION ALL SELECT 'bounds', 'value', in_b * 1000000 // n_v FROM m
           UNION ALL SELECT 'in_set', 'event_type',
             in_s * 1000000 // n_et FROM m)
         SELECT CAST(b.b AS BIGINT) AS batch_id, "check", target,
           CAST(observed_e6 AS BIGINT) AS observed_e6,
           observed_e6 >= 1000000 AS pass
         FROM r CROSS JOIN (VALUES (0), (1)) AS b(b)""")

  /** Streaming ingest dedup against the PERSISTENT digest log
    * ([[graft.streaming.Streaming.ingestDedupSink]]): the corpus lands
    * twice, maxFilesPerTrigger=1 forces two micro-batches, and the
    * foreachBatch incremental dedup keeps exactly the first occurrence
    * per content digest ACROSS batches — batch 2 contributes nothing
    * because the log already holds every digest. Cross-batch state lives
    * in the log (restart-proof, shared with batch backfills), not the
    * state store. The oracle is the batch first-occurrence derivation.
    */
  private def sIngestDedupStream(s: SparkSession, dir: String): DataFrame = {
    val landing = java.nio.file.Paths.get(assembledLanding(s"ingest:$dir") { d =>
      Seq("a.parquet", "b.parquet").foreach { n =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
          d.resolve(n))
      }
    })
    val log = scratch("ingest_log").toString +
      "/digests.parquet"
    val out = scratch("ingest_out").toString + "/kept"
    drainSink(s, dir) { c =>
      val docs = graft.streaming.Streaming.readParquetStream(c, landing.toString,
        Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.Streaming.ingestDedupSink(docs, "text", "doc_id", log, out)
    }
    s.read.parquet(out).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
  }
  row("s_ingest_dedup_stream", sIngestDedupStream)(
    """WITH k AS (SELECT doc_id, lang,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM k WHERE rn = 1 GROUP BY lang""")

  /** Stream-static ANTI-JOIN under the oracle gate
    * ([[graft.transform.Transforms.antiJoinUploaded]]): the transactional
    * activation dedup as a stream — events whose ids are already in the
    * static uploaded set are dropped per micro-batch, state-free. The
    * drained output must equal the batch NOT-EXISTS the oracle runs.
    */
  private def sAntiJoinStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_anti_join", OutputMode.Append()) { c =>
      val uploaded = t(c, dir, "events")
        .filter(col("event_id") % 3 === 0).select(col("event_id"))
      graft.transform.Transforms
        .antiJoinUploaded(graft.streaming.Streaming.readParquetStream(c, landing),
          uploaded, Seq("event_id"))
        .select(col("event_id"), col("event_type"))
    }.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
  }
  row("s_anti_join_stream", sAntiJoinStream)(
    """SELECT event_type, count(*) AS n FROM events
         WHERE event_id % 3 <> 0 GROUP BY 1""")

  /** Watermarked stream-stream INTERVAL join under the oracle gate
    * ([[graft.streaming.Streaming.intervalJoin]]): click→purchase
    * attribution within 30 minutes per user, both sides of the self-join
    * read from the same landing stream. One availableNow batch emits every
    * pair (nothing is late), so the drained output equals the batch
    * interval join the oracle runs; at real scale the watermark + two-sided
    * time bound is what keeps the join state finite.
    */
  private def sIntervalJoinStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_interval_join", OutputMode.Append()) { c =>
      val ev = graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.streaming.Streaming
        .intervalJoin(clicks, purchases, "user_id", "ts", windowSeconds = 1800L)
        .select(col("user_id"))
    }.groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
  }
  row("s_interval_join_stream", sIntervalJoinStream)(
    """SELECT l.user_id, count(*) AS n_pairs
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND l.event_type = 'click' AND r.event_type = 'purchase'
          AND epoch_us(r.ts) >= epoch_us(l.ts)
          AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
         GROUP BY 1""")

  /** LEFT OUTER watermarked interval join under the oracle gate
    * ([[graft.streaming.Streaming.intervalJoinLeftOuter]]): per user,
    * purchases within 30 min of each click AND the clicks that never
    * convert — the null-extended rows emit when the watermark passes a
    * click's window, so the drain appends two sentinel files (one click +
    * one purchase row each, a day past the data) exactly like
    * [[sSessionizeStream]]'s flush: batch 2's watermark evicts every real
    * click's state and flushes the unmatched side. Sentinel users (&lt;0)
    * are filtered from the aggregate.
    */
  private def sOuterIntervalStream(s: SparkSession, dir: String): DataFrame = {
    val landing = java.nio.file.Paths.get(assembledLanding(s"outer:$dir") { d =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        d.resolve("events.parquet"))
      val base = s.read.parquet(d.toString)
      val maxTsNs = maxEventTsNs(s, dir)
      def writeSentinel(name: String, tsNs: Long, eid: Long): Unit = {
        val tmp = scratch("sentinel_o")
        // two rows per sentinel file: one click + one purchase, so BOTH join
        // sides' watermarks advance on every micro-batch
        val rows = Seq(("click", eid), ("purchase", eid - 1000L))
        rows.map { case (et, id) =>
          s.range(1).select(base.schema.fields.map { f =>
            (f.name match {
              case "event_id"   => lit(id)
              case "ts" if f.dataType == org.apache.spark.sql.types.LongType => lit(tsNs)
              case "ts"         => timestamp_micros(lit(tsNs / 1000L))
              case "user_id"    => lit(-1L)
              case "event_type" => lit(et)
              case "value"      => lit(0.0)
              case _            => lit("{}")
            }).cast(f.dataType).as(f.name)
          }: _*)
        }.reduce(_ unionByName _)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, d.resolve(name))
      }
      writeSentinel("zz_sentinel1.parquet", maxTsNs + 86400L * 1000000000L, -10L)
      writeSentinel("zz_sentinel2.parquet", maxTsNs + 86500L * 1000000000L, -20L)
      val t0 = java.nio.file.Files.getLastModifiedTime(d.resolve("events.parquet"))
        .toMillis
      Seq("zz_sentinel1.parquet" -> 1000L, "zz_sentinel2.parquet" -> 2000L)
        .foreach { case (n, off) =>
          java.nio.file.Files.setLastModifiedTime(d.resolve(n),
            java.nio.file.attribute.FileTime.fromMillis(t0 + off))
        }
    })
    drainToMemory(s, dir, "s_outer_interval", OutputMode.Append()) { c =>
      val ev = graft.streaming.Streaming.readParquetStream(c, landing.toString,
          Map("maxFilesPerTrigger" -> "2"))
        .transform(graft.io.EventTs.toTimestamp)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.streaming.Streaming
        .intervalJoinLeftOuter(clicks, purchases, "user_id", "ts",
          windowSeconds = 1800L)
        .select(col("user_id"), col("r_event_id"))
    }.filter(col("user_id") >= 0L)
      .groupBy(col("user_id"))
      .agg(sum(when(col("r_event_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("r_event_id").isNull, 1L).otherwise(0L)).as("n_no_conv"))
  }
  row("s_outer_interval_stream", sOuterIntervalStream)(
    """WITH c AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_us(ts) AS t FROM events
               WHERE event_type = 'purchase')
         SELECT c.user_id,
           CAST(count(p.t) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (p.t IS NULL) AS BIGINT) AS n_no_conv
         FROM c LEFT JOIN p
           ON c.user_id = p.user_id
          AND p.t >= c.t AND p.t <= c.t + 1800000000
         GROUP BY 1""")

  /** Spark's NATIVE session-window aggregation under the oracle gate —
    * the built-in dual of the custom flatMapGroupsWithState sessionizer
    * ([[sSessionizeStream]]): `session_window(ts, gap)` merges per-key
    * windows in the session state store, no user state code. Same 30-min
    * gap, same q_sessionize oracle — the two implementations must agree
    * exactly. Complete-mode availableNow drain (no sentinels needed),
    * output reshaped to per-user session/event counts.
    */
  private def sSessionWindowStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_session_window", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
    }.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
  }
  // and so must the NATIVE session_window implementation
  row("s_session_window_stream", sSessionWindowStream)(sqlSessionize)

  /** The stateful streaming sessionizer over the real events table as a
    * FILE stream — no driver-side row materialization at any scale. The
    * landing dir gets the events file plus two watermark-advancing sentinel
    * files; maxFilesPerTrigger=2 packs them into TWO micro-batches
    * (events+sentinel1, then sentinel2): the watermark after batch 1 sits a
    * day past every real event, so every session's event-time timeout fires
    * during batch 2 and flushes. File→batch assignment is pinned by
    * explicit modification times (the file source orders by modTime); even
    * a pathological (events+sentinel2, sentinel1) grouping yields the same
    * output — sentinel1 would arrive late and be dropped, but the timeouts
    * fire regardless, and sentinel users (&lt;0) are filtered. The stateful
    * shuffle is narrowed for the drain (state-store open/commit cost is
    * per-partition × per-batch — micro-batch FIXED cost, not a data term;
    * at real scale you'd widen it back out and flip on RocksDB via
    * [[graft.streaming.Streaming.scaleStateStore]]). Output aggregated to
    * the q_sessionize shape.
    */
  private def sSessionizeStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streaming
    val landing = java.nio.file.Paths.get(assembledLanding(s"sess:$dir") { d =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        d.resolve("events.parquet"))
      val base = s.read.parquet(d.toString)
      val maxTsNs = maxEventTsNs(s, dir)
      // Sentinels must land in the SAME physical ts encoding as the real
      // events file (the stream's inferred schema covers both).
      def writeSentinel(name: String, tsNs: Long, eid: Long): Unit = {
        val tmp = scratch("sentinel")
        s.range(1).select(base.schema.fields.map { f =>
          (f.name match {
            case "event_id"   => lit(eid)
            case "ts" if f.dataType == org.apache.spark.sql.types.LongType => lit(tsNs)
            case "ts"         => timestamp_micros(lit(tsNs / 1000L))
            case "user_id"    => lit(-1L)
            case "event_type" => lit("z")
            case "value"      => lit(0.0)
            case _            => lit("{}")
          }).cast(f.dataType).as(f.name)
        }: _*).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, d.resolve(name))
      }
      writeSentinel("zz_sentinel1.parquet", maxTsNs + 86400L * 1000000000L, -1L)
      writeSentinel("zz_sentinel2.parquet", maxTsNs + 86401L * 1000000000L, -2L)
      // Pin the source's modTime ordering: events first, sentinels after.
      val t0 = java.nio.file.Files.getLastModifiedTime(d.resolve("events.parquet"))
        .toMillis
      Seq("zz_sentinel1.parquet" -> 1000L, "zz_sentinel2.parquet" -> 2000L)
        .foreach { case (n, off) =>
          java.nio.file.Files.setLastModifiedTime(d.resolve(n),
            java.nio.file.attribute.FileTime.fromMillis(t0 + off))
        }
    })
    drainToMemory(s, dir, "s_sessionize_stream", OutputMode.Append()) { c =>
      import c.implicits._
      val ev = Streaming.readParquetStream(c, landing.toString,
          Map("maxFilesPerTrigger" -> "2"))
        .transform(graft.io.EventTs.toTimestamp)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      Streaming.sessionize(ev.as[Streaming.Event],
        gapMinutes = 30, watermark = "0 minutes").toDF()
    }.filter(col("user_id") >= 0L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
  }
  // the STREAMING sessionizer must reproduce the batch result exactly
  row("s_sessionize_stream", sSessionizeStream)(sqlSessionize)

  /** STREAMING CUSUM feed-health monitor: the hourly per-type counts come
    * off a watermarked streaming window aggregate (≤ types×hours rows of
    * state), then the drained counts run through the SAME scoring as
    * `q_cusum_shift` ([[Shared.cusumScore]] — plant, exact-integer cumsum, argmax
    * hour, σ√n normalization). The continuous level-shift alarm next to
    * s_psi_stream's mix alarm; one oracle form proves both paths.
    */
  private def sCusumStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    cusumScore(drainToMemory(s, dir, "s_cusum_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("c"))
    }.select(col("event_type"),
      (unix_timestamp(col("w.start")) / 3600).cast("long").as("hour_id"),
      col("c")))
  }
  // streaming dual: the drained hourly counts run through the same
  // scoring, so the batch replay IS the oracle
  row("s_cusum_stream", sCusumStream)(sqlCusumShift)

  /** STREAMING EWMA anomaly bands: daily purchase revenue comes off a
    * watermarked 1-day streaming window aggregate (≤ days rows of state),
    * then the drained day-grain frame runs through the SAME dyadic-decay
    * scoring as `q_ewma_anomaly` ([[Shared.ewmaScore]]) — the revenue-level
    * alarm next to [[sCusumStream]]'s count-level alarm; one oracle form
    * proves both paths.
    */
  private def sEwmaStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    ewmaScore(drainToMemory(s, dir, "s_ewma_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(sum(round(col("value") * 100.0, 0).cast("long")).as("rev_e2"))
    }.select(
      (unix_timestamp(col("w.start")) / 86400).cast("long").as("day_id"),
      col("rev_e2")))
  }
  // One oracle form proves both the batch and the streaming EWMA path
  // (the s_cusum_stream precedent).
  row("s_ewma_stream", sEwmaStream)(sqlEwmaAnomaly)

  /** Streaming CDC apply into the versioned store
    * ([[graft.streaming.Streaming.cdcApplySink]]): a base snapshot of
    * orders, then two change batches replayed as separate micro-batches
    * (updates bump price and restamp status; deletes remove keys), each
    * publishing an immutable version. The drained store's LATEST snapshot
    * aggregate must equal the oracle's sequential merge replay.
    */
  private def sCdcStream(s: SparkSession, dir: String): DataFrame = {
    val landing = java.nio.file.Paths.get(assembledLanding(s"cdc:$dir") { d =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("UPD").as("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit(1L).as("v"), lit("U").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(d.resolve("tmp1").toString)
      base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(2L).as("v"), lit("D").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(d.resolve("tmp2").toString)
      Seq("tmp1" -> "b1.parquet", "tmp2" -> "b2.parquet").foreach { case (tmp, n) =>
        val part = new java.io.File(d.resolve(tmp).toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, d.resolve(n))
      }
      // pin apply order: b1 strictly older than b2
      val t0 = java.nio.file.Files.getLastModifiedTime(d.resolve("b1.parquet")).toMillis
      java.nio.file.Files.setLastModifiedTime(d.resolve("b2.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L))
      java.nio.file.Files.setLastModifiedTime(d.resolve("b1.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L))
      // the landing holds ONLY the change files
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(d.resolve("tmp1").toFile); rm(d.resolve("tmp2").toFile)
    })
    // the store is MUTATED by the apply — fresh per invocation
    val store = scratch("cdc_store").toString + "/store"
    drainSink(s, dir) { c =>
      graft.io.Versioned.write(
        t(c, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), lit(0L).as("v")), store)
      val changes = graft.streaming.Streaming.readParquetStream(c,
        landing.toString, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.Streaming
        .cdcApplySink(changes, store, Seq("o_orderkey"), "v", "op")
    }
    graft.io.Versioned.read(s, store)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }
  row("s_cdc_stream", sCdcStream)(
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
             o_totalprice AS price FROM orders),
         u AS (SELECT k, 'UPD' AS st, price + 10.0 AS price
           FROM base WHERE k % 7 = 0),
         m1 AS (SELECT * FROM base WHERE k % 7 <> 0
           UNION ALL SELECT * FROM u),
         m2 AS (SELECT * FROM m1 WHERE k % 11 <> 0)
         SELECT st AS o_orderstatus, count(*) AS n,
           round(sum(price), 2) AS total
         FROM m2 GROUP BY 1""")

  /** STREAMING HyperLogLog maintenance: per-6h-window distinct users kept
    * as a register sketch inside a watermarked streaming aggregation —
    * per-window state is ≤ 2^p registers (one long each) NO MATTER how
    * many events or distinct users arrive, the streaming-cardinality
    * contract sketches exist for. The drained register table finishes
    * through the same [[graft.operators.Sketches.hllEstimate]] fold the
    * batch sketch uses; the oracle replays windows, registers, and the
    * estimate exactly.
    */
  private def sHllStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    val p = 9 // 512 registers/window — small state, LC-accurate for this corpus
    val regs = drainToMemory(s, dir, "s_hll_stream", OutputMode.Complete()) { c =>
      val h = Dedup.shingleHash(col("user_id").cast("string"))
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "6 hours").as("w"),
          graft.operators.Sketches.hllRegister(h, p).as("reg"))
        .agg(max(graft.operators.Sketches.hllRank(h)).as("rho"))
    }.select(
      (unix_timestamp(col("w.start")) / 21600).cast("long").as("win_id"),
      col("reg"), col("rho"))
    graft.operators.Sketches.hllEstimate(regs, Seq("win_id"), p)
  }
  row("s_hll_stream", sHllStream) {
    val Seq((a1, b1), (a2, b2)) = Dedup.minhashCoeffs(2)
    val p = 9; val m = 1 << p
    val scale = graft.operators.Sketches.hllScaleNum(p)
    val prime = Dedup.MinhashP
    s"""WITH d AS (
           SELECT DISTINCT epoch_us(ts) // 21600000000 AS win_id,
             ${sqlPh("user_id::VARCHAR", 31L, 1000000007L)} AS h
           FROM events),
         r AS (SELECT win_id,
             (($a1 * h + $b1) % $prime) % $m AS reg,
             CASE WHEN (($a2 * h + $b2) % $prime) = 0 THEN 31
                  ELSE 31 - length(bin(($a2 * h + $b2) % $prime)) END AS rho
           FROM d),
         regs AS (SELECT win_id, reg, max(rho) AS rho FROM r GROUP BY 1, 2),
         per AS (SELECT win_id, sum(1::BIGINT << (31 - rho))::BIGINT AS sp,
                   count(*) AS present
                 FROM regs GROUP BY 1),
         e AS (SELECT win_id, sp + ($m - present) * 2147483648::BIGINT AS hsum,
                 $m - present AS zr FROM per)
         SELECT win_id,
           round(CASE WHEN zr > 0 AND ($scale::DOUBLE / hsum) <= ${2.5 * m}::DOUBLE
              THEN $m::DOUBLE * ln($m::DOUBLE / zr)
              ELSE $scale::DOUBLE / hsum END, 4) AS hll_est
         FROM e"""
  }

  /** STREAMING PSI drift monitor: per-6h-window event-type mix scored
    * against the whole-corpus baseline — the continuous version of
    * `q_psi_drift` (is THIS window's traffic mix off?). The stream
    * maintains only (window, type) counts — ≤ #types rows of state per
    * window; the PSI fold happens on the drained counts against a
    * baseline the batch side aggregates once. Types absent from a window
    * contribute nothing (no row — same convention both sides); terms are
    * 1e6-scaled integers so the per-window sum is exact.
    */
  private def sPsiStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    val win = drainToMemory(s, dir, "s_psi_stream", OutputMode.Complete()) { c =>
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }.select(
      (unix_timestamp(col("w.start")) / 21600).cast("long").as("win_id"),
      col("event_type"), col("n"))
    val base = s.read.parquet(s"$landing/events.parquet")
      .groupBy(col("event_type")).agg(count(lit(1)).as("bn"))
      .withColumn("bt", sum(col("bn")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("win_id"))
    val joined = win
      .withColumn("wt", sum(col("n")).over(wt))
      .join(broadcast(base), "event_type")
    val pa = col("n").cast("double") / col("wt")
    val pb = col("bn").cast("double") / col("bt")
    joined
      .select(col("win_id"),
        round((pa - pb) * log(pa / pb) * 1000000.0, 0).cast("long").as("term_e6"))
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("term_e6")).as("psi_e6"))
  }
  row("s_psi_stream", sPsiStream)(
    """WITH win AS MATERIALIZED (
           SELECT epoch_us(ts) // 21600000000 AS win_id, event_type,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         base AS (SELECT event_type, count(*)::BIGINT AS bn,
             (SELECT count(*) FROM events)::BIGINT AS bt
           FROM events GROUP BY 1),
         wt AS (SELECT win_id, sum(n)::BIGINT AS wt FROM win GROUP BY 1),
         terms AS (SELECT w.win_id,
             round((w.n::DOUBLE / t.wt - b.bn::DOUBLE / b.bt) *
               ln((w.n::DOUBLE / t.wt) / (b.bn::DOUBLE / b.bt)) * 1000000.0,
               0)::BIGINT AS term_e6
           FROM win w JOIN wt t USING (win_id) JOIN base b USING (event_type))
         SELECT win_id, count(*)::BIGINT AS n_types, sum(term_e6)::BIGINT AS psi_e6
         FROM terms GROUP BY 1""")

  /** STREAMING AMS F2 monitor: per-6h-window self-join size of the user
    * key maintained as 32 signed counters inside the windowed streaming
    * aggregation ([[graft.operators.Sketches.amsSigns]]) — fixed 32 longs
    * of state per window however many events arrive, finished by the same
    * integer mean-of-squares the batch sketch uses. The burst/skew alarm
    * (one user dominating a window spikes F2 quadratically) as a
    * streaming-native sketch.
    */
  private def sF2Stream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    val d = 32
    drainToMemory(s, dir, "s_f2_stream", OutputMode.Complete()) { c =>
      val h = Dedup.shingleHash(col("user_id").cast("string"))
      val signs = graft.operators.Sketches.amsSigns(h, d)
      graft.streaming.Streaming.readParquetStream(c, landing)
        .transform(graft.io.EventTs.toTimestamp)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "6 hours").as("w"))
        .agg(sum(signs.head).as("z0"),
          signs.tail.zipWithIndex.map { case (sg, i) =>
            sum(sg).as(s"z${i + 1}") }: _*)
    }.select(
      (unix_timestamp(col("w.start")) / 21600).cast("long").as("win_id"),
      graft.operators.Sketches.amsF2FromZ(d).as("ams_f2_est"))
  }
  row("s_f2_stream", sF2Stream) {
    val half = Dedup.MinhashP / 2
    val coefRows = Dedup.minhashCoeffs(32).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""WITH h AS MATERIALIZED (
           SELECT epoch_us(ts) // 21600000000 AS win_id,
             ${sqlPh("user_id::VARCHAR", 31L, 1000000007L)} AS h
           FROM events),
         coef(r, ca, cb) AS (VALUES $coefRows),
         sgn AS (SELECT win_id, r,
             sum(CASE WHEN (ca * h + cb) % ${Dedup.MinhashP} < $half
                 THEN 1 ELSE -1 END)::BIGINT AS z
           FROM h, coef GROUP BY 1, 2)
         SELECT win_id, (sum(z * z)::BIGINT // 32)::BIGINT AS ams_f2_est
         FROM sgn GROUP BY 1"""
  }
}
