package graft

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.model._
import graft.schema.DestinationSchemas
import graft.transform.{PiiHashing, Transforms}
import graft.functions.{Multimodal, TextAnalysis, VectorOps}
import graft.operators.{Dedup, Similarity}

/** Driver contract — one `queries` entry per operator from SURVEY.md §2,
  * plus the training-data-pipeline operators (dedup / similarity / text).
  *
  * Column names are aliased identically in the Spark plan and the oracle SQL
  * (the driver's compare sorts columns by name before hashing values).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts has shipped as both TIMESTAMP(NANOS)→ns-long and plain µs
    // TIMESTAMP across testdata regenerations; normalize to the internal
    // ns-epoch-long convention here so no query sees the difference.
    if (name == "events") graft.io.EventTs.toNsLong(raw) else raw
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1PricingSummary(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // Core relational queries (engine capability + bench headliners)
  // ------------------------------------------------------------------

  /** TPC-H-Q1-shaped aggregation: map-side-combinable, one shuffle. */
  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H-Q3-shaped join + top-k: broadcast dims, single agg shuffle,
    * rank stabilized by rounding + key tiebreak.
    */
  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("date"))
    val li = t(s, dir, "lineitem")
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def qPartAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))

  /** events.ts is normalized to an ns-epoch long at read time whatever
    * the parquet encoding ([[graft.io.EventTs]]); all ts logic truncates
    * to µs — DuckDB's native timestamp resolution — for EXACT integer
    * parity with the oracle.
    */
  private def tsUs: Column = expr("ts div 1000")

  /** ANSI-safe denominator: 0 → NULL, the Column mirror of SQL
    * `NULLIF(x, 0)`. Spark 4 runs with ANSI semantics, where even
    * double division by zero is a runtime DIVIDE_BY_ZERO error — a
    * degenerate corpus (constant series, single-row group, one-class
    * label) must degrade to NULL statistics, not crash the job. Every
    * oracle mirrors the guard with NULLIF so parity is unchanged.
    */
  private def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)

  /** The ANSI ranking-function suite — percent_rank, cume_dist,
    * ntile(4), dense_rank per nation over (balance desc, custkey) —
    * WITHOUT the bounded-partition sort. `Window.partitionBy(nation)`
    * would sort the whole customer table in 25 tasks (~4 TB/task at
    * 100 TB); instead the total order is encoded into one 63-bit long
    * (nation · 2⁵⁸ + descCents · 2³⁷ + custkey — ascending long order IS
    * (nation, balance DESC, custkey) order) and [[Scan.prefixSum]]
    * produces the global row number with a range-partitioned
    * partition-local scan. Per-nation rank is the global running count
    * minus the previous nation's cumulative total (≤ 25-row collect →
    * two literal lookup maps). The ordering key is unique per row
    * (custkey is), so rank = dense_rank = row_number and every ranking
    * function is closed-form in (rn, n):
    * percent_rank = (rn−1)/(n−1) (0 when n = 1), cume_dist = rn/n,
    * ntile(4) by the standard first-(n mod 4)-buckets-get-⌈n/4⌉ split.
    * Same hashes as the window formulation; nothing sorts more than a
    * partition slice (the q_winsorized_mean device at ROW grain).
    */
  private def qRankSuite(s: SparkSession, dir: String): DataFrame = {
    // cent-grain balances: acctbal ∈ [-999.99, 9999.99] is 2-decimal
    // money, so descCents = 999999 − cents ∈ [0, 1099998] < 2²¹ and the
    // double→cents map is injective on observed values
    val descCents = lit(999999L) -
      round(col("c_acctbal") * 100.0, 0).cast("long")
    val keyed = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nat"),
        col("c_acctbal"))
      .withColumn("_rk",
        when(col("nat").between(0L, 24L) &&
            descCents.between(0L, (1L << 21) - 1) &&
            col("c_custkey").between(0L, (1L << 37) - 1),
          shiftleft(col("nat"), 58) + shiftleft(descCents, 37) +
            col("c_custkey"))
          .otherwise(raise_error(concat(
            lit("rank-suite key out of range (need 0 <= nation < 25, " +
              "-999.99 <= acctbal <= 9999.99, 0 <= custkey < 2^37): "),
            col("nat").cast("string"), lit("/"),
            col("c_acctbal").cast("string"), lit("/"),
            col("c_custkey").cast("string")))))
      .withColumn("_one", lit(1L))
    val scanned = graft.operators.Scan.prefixSum(keyed, "_rk", "_one", "_cum")
    // ≤ 25 rows: each nation's cumulative total through the global order;
    // exclusive offset = previous nation's total, size = the difference
    val cumTotals = scanned.groupBy(col("nat"))
      .agg(max(col("_cum")).as("_t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offs = cumTotals.map(_._1)
      .zip(0L +: cumTotals.map(_._2).dropRight(1)).toMap
    val sizes = cumTotals.map { case (g, tt) => g -> (tt - offs(g)) }.toMap
    scanned
      .withColumn("_rn", col("_cum") - element_at(typedLit(offs), col("nat")))
      .withColumn("_n", element_at(typedLit(sizes), col("nat")))
      .select(col("c_custkey"), col("nat").cast("int").as("c_nationkey"),
        when(col("_n") === 1L, lit(0.0))
          .otherwise(round((col("_rn") - 1L).cast("double") /
            (col("_n") - 1L).cast("double"), 6)).as("pr"),
        round(col("_rn").cast("double") / col("_n").cast("double"), 6)
          .as("cd"),
        // ntile(4): q = n div 4, r = n mod 4; the first r buckets hold
        // q+1 rows (the branch guard keeps the q = 0 division unevaluated)
        when(col("_rn") <= (col("_n") % 4L) * (expr("_n div 4") + 1L),
          expr("(_rn - 1) div (_n div 4 + 1) + 1"))
          .otherwise(expr(
            "_n % 4 + (_rn - _n % 4 * (_n div 4 + 1) - 1) div (_n div 4) + 1"))
          .cast("long").as("quartile"),
        col("_rn").as("drk"))
  }

  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("event_id"), col("user_id"), col("rn"))
  }

  /** Gap-based sessionization (30-min inactivity): lag + running sum —
    * the standard two-window composition, one shuffle on user_id.
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("ts_us", tsUs)
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(run))
      .groupBy(col("user_id"))
      .agg(max(col("session_idx")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Streaming-shaped tumbling-window rollup (same plan Structured Streaming
    * produces for a 1h window + event_type groupBy).
    */
  private def qHourlyRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(expr("ts div 1000 div 3600000000").as("hour_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** Top-3 events by value per user through the custom bounded top-k
    * AGGREGATE ([[graft.functions.TopKAggregate]]) — the no-sort,
    * map-side-combining alternative to the q_window_rank plan: the shuffle
    * carries ≤ k pairs per (user, partition) instead of every event row,
    * and no group is ever sorted.
    */
  private def qTopkAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(graft.functions.TopKAggregate.topKByScore(
        col("value"), col("event_id"), 3).as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("event_id"), col("e.score").as("value"))

  private def qTopUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)

  // ------------------------------------------------------------------
  // Megalista data-plane operators (SURVEY §2.2–2.3) on testdata analogs
  // ------------------------------------------------------------------

  /** Transactional dedup, single-key (UUID shape): anti join against the
    * already-uploaded key set (broadcast).
    */
  private def qAntiJoinKey(s: SparkSession, dir: String): DataFrame = {
    val uploaded = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"))
    Transforms.antiJoinUploaded(t(s, dir, "lineitem"), uploaded, Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(col("l_quantity"), 2).as("l_quantity"))
  }

  /** Transactional dedup, composite-key ((gclid,time) shape). */
  private def qAntiJoin2Key(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val uploaded = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"))
    Transforms.antiJoinUploaded(li, uploaded, Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
  }

  /** Schema-regex column pruning (reference get_cols_names) through a real
    * destination schema; Catalyst pushes the projection to the scan.
    */
  private def qPruneUserId(s: SparkSession, dir: String): DataFrame = {
    val mapped = t(s, dir, "customer")
      .select(col("c_name").as("user_id"), col("c_acctbal").as("not_in_schema"))
    DestinationSchemas.prune(mapped, DestinationType.AdsCustomerMatchUserIdUpload)
  }

  /** PII hashing, Ads shape: gmail-dot normalization + SHA-256, pure column
    * expressions (reference mappers/ads_user_list_pii_hashing_mapper.py).
    */
  private def qPiiHashAds(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "customer").select(
      col("c_custkey").as("crm_id"),
      concat(regexp_replace(lower(col("c_name")), "#", "."), lit("@gmail.com")).as("email"),
      col("c_custkey").cast("string").as("phone"))
    PiiHashing.adsShape(users)
      .select(col("crm_id"), col("hashed_email"), col("hashed_phone_number"))
  }

  /** PII hashing, DV360 shape (reference
    * mappers/dv_user_list_pii_hashing_mapper.py:25-68): flat hashed columns
    * + country/zip passthrough, same gmail normalization.
    */
  private def qPiiHashDv(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "customer").select(
      col("c_custkey").as("crm_id"),
      concat(regexp_replace(lower(col("c_name")), "#", "."), lit("@gmail.com")).as("email"),
      col("c_custkey").cast("string").as("phone"),
      lower(col("c_name")).as("mailing_address_first_name"),
      lower(col("c_mktsegment")).as("mailing_address_last_name"),
      lit("BR").as("mailing_address_country"),
      col("c_custkey").cast("string").as("mailing_address_zip"))
    PiiHashing.dvShape(users)
      .select(col("crm_id"), col("hashedEmails"), col("hashedPhoneNumbers"),
        col("hashedFirstName"), col("hashedLastName"),
        col("countryCode"), col("zipCodes"))
  }

  /** CM customVariables fold (reference data_schemas.py:401-413): group-
    * concat of per-uuid JSON fragments, deterministic via sort.
    */
  private def qCmCustvarsFold(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id").cast("string").as("uuid"),
        concat(lit("{ \"type\": \""), col("event_type"),
          lit("\", \"value\": \""), get_json_object(col("props"), "$.k"),
          lit("\"}")).as("cv"))
      .groupBy(col("uuid"))
      .agg(concat(lit("["), array_join(array_sort(collect_list(col("cv"))), ", "),
        lit("]")).as("customVariables"))

  /** 15-day retention window applied to the uploaded log at read
    * (reference file_data_source.py:140-147), anchored at max(ts).
    */
  private def qRetentionFilter(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", tsUs)
    val maxTs = ev.agg(max(col("ts_us")).as("max_ts_us"))
    ev.crossJoin(broadcast(maxTs))
      .filter(col("ts_us") >= col("max_ts_us") - lit(15L * 86400L * 1000000L))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** JSON column parse + declared-type cast (reference BQ JSON read +
    * update_data_types_not_string).
    */
  private def qJsonExtractCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"))

  /** Batching arithmetic (reference _BatchElements): ceil(n/size) with the
    * empty-input→1 quirk, per execution group.
    */
  private def qBatchCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("n_batches", floor((col("n_rows") - 1) / 5) + 1)

  /** Final consolidation: union-all + global dedup (reference last_step). */
  private def qConsolidate(s: SparkSession, dir: String): DataFrame =
    Transforms.consolidate(Seq(
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")),
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))))

  /** Digits-only id normalization (reference utils.py:18-23). */
  private def qDigitsFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), Transforms.digitsOnly(col("c_name")).as("digits"))

  /** Skew-salted equi-join under the oracle gate: a third of the events
    * collapse onto ONE hot key (every user_id % 3 == 0 → key 0 — the
    * degenerate-key regime where a plain hash join puts the whole hot key
    * in one straggler task), joined to a per-key dim through
    * [[Transforms.saltedJoin]] with factor 8. The oracle is the PLAIN join
    * — salting must be semantically invisible; `TransformsSpec` separately
    * asserts the hot key's rows actually spread across all 8 salts. The dim
    * is built from a second independent scan, not the left frame's lineage
    * (a derived right side can silently resolve join keys to the left).
    */
  private def qSaltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    def keyed = t(s, dir, "events").select(col("event_id"),
      when(col("user_id") % 3 === 0, lit(0L)).otherwise(col("user_id")).as("k"),
      col("value"))
    val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("k_freq"))
    Transforms.saltedJoin(keyed, dim, Seq("k"), factor = 8)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(col("k_freq")).as("k_freq"),
        round(sum(col("value")), 2).as("total_value"))
  }

  // ------------------------------------------------------------------
  // Training-data pipeline: dedup / text / similarity
  // ------------------------------------------------------------------

  /** Exact-dup grouping over the corpus UNION a re-ingested slice (every
    * 7th doc re-keyed past the id range) — the re-crawl shape. The union
    * guarantees duplicate groups exist whatever the generated corpus
    * looks like, so the query exercises the operator non-degenerately at
    * every scale/regeneration.
    */
  private def dExactDupGroups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val reingest = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    Dedup.exactDuplicateGroups(docs.unionByName(reingest), "text", "doc_id")
      .select(col("canonical_id"), col("dup_count"))
  }

  private def dExactDedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))

  /** Inverted-index-blocked word-3-gram Jaccard pairs. Emitted values are
    * always exact (capped pairs re-verify on full arrays); candidates are
    * exact whenever no shingle's df exceeds the cap — true by construction
    * at sf0.01 (500 docs < cap 1000), so the all-pairs DuckDB oracle
    * matches the blocked plan's output exactly.
    */
  private def dNgramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.2)

  /** Prefix-filtered EXACT high-threshold Jaccard pairs
    * ([[Dedup.prefixJaccardPairs]], τ = 0.9): the lossless candidate bound
    * — every true pair must collide inside the rarest ~10% of each side's
    * shingles — so the independent all-pairs DuckDB oracle matches
    * exactly with NO cap caveat, at a fraction of [[dNgramJaccardPairs]]'s
    * index volume.
    */
  private def dPrefixJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.9)

  /** Contamination-detection shape for [[Dedup.containmentPairs]]: every
    * 11th document yields a PROBE (its first half, word-boundary-safe,
    * re-keyed past the id range — the "eval excerpt" side), and the query
    * reports which corpus documents contain each probe at ≥ 0.5 shingle
    * containment. The probe construction tokenizes exactly like the
    * shingle kernel (split on `\s+`, re-joined with single spaces), so
    * the probe's 3-gram set is a true subset of its source's and the
    * all-pairs DuckDB oracle reproduces it verbatim.
    */
  private def dContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val probes = docs.where(col("doc_id") % 11 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        array_join(slice(toks, lit(1),
          greatest(lit(3), (size(toks) / 2).cast("int"))), " ").as("text"))
    Dedup.containmentPairs(docs.unionByName(probes), "doc_id", "text",
        n = 3, threshold = 0.5)
      .where(col("src_id") >= 2000000L && col("dst_id") < 2000000L)
  }

  private def dMinhashLshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)

  /** LSH recall harness: banded-LSH pairs vs the exact all-pairs shingle
    * jaccard ground truth at the same 0.5 threshold ([[Dedup.lshRecall]])
    * over a FIXED-SIZE evaluation slice (first 1000 ids — the whole
    * corpus at sf0.01): a recall estimate doesn't sharpen with corpus
    * size, and the slice keeps the quadratic ground-truth side bounded
    * at any scale factor.
    */
  private def dLshRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.lshRecall(t(s, dir, "documents").where(col("doc_id") < 1000),
      "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)

  private def dSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDistance = 3)

  /** Skew-guard stress: the documents corpus with planted degeneracy — 10%
    * of docs emptied (shingle-less) and 10% replaced by one shared
    * boilerplate line — through minhash-LSH with a tight bucket cap. Empty
    * docs are excluded by the signature filter; the boilerplate group floods
    * every band bucket past the cap and drops out of candidate generation;
    * the rest of the corpus is unaffected. The oracle replicates banding,
    * cap, and exact jaccard, so the guard SEMANTICS are hash-checked — the
    * degenerate groups' pairs are provably absent, not just "it ran".
    */
  private def dLshSkewGuard(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(""))
        .when(col("doc_id") % 10 === 1,
          lit("terms of service apply to every page of this corpus"))
        .otherwise(col("text")).as("text"))
    Dedup.minhashLshPairs(planted, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5, maxBucket = 20)
  }

  /** Incremental cross-run exact dedup as a two-run fixpoint (the dedup
    * analog of p_pipeline_idempotence): run 1 keeps one row per distinct
    * text and logs the digests; run 2 over the SAME corpus keeps nothing.
    */
  private def dIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = scratch("digests").toString +
      "/digests.parquet"
    val docs = t(s, dir, "documents")
    val run1 = Dedup.incrementalExactDedup(docs, "text", "doc_id", log).count()
    val run2 = Dedup.incrementalExactDedup(docs, "text", "doc_id", log).count()
    Seq((1L, run1), (2L, run2)).toDF("run", "n_new")
  }

  /** C4-style corpus-frequent line removal over a corpus with planted
    * boilerplate: every 5th doc gains a shared footer sentence; the df cap
    * strips it back out (plus any naturally-frequent sentence, identically
    * on both engines). Clean text AND kept-count are hash-checked.
    */
  private def dLineDedup(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(". all rights reserved worldwide")))
        .otherwise(col("text")).as("text"))
    Dedup.lineDedup(planted, "doc_id", "text", maxDf = 5)
      .select(col("id").as("doc_id"), col("clean_text"), col("n_kept"))
  }

  /** Per-language token-budget curation (data-mixture building): keep each
    * language's highest-quality documents until its token budget fills.
    * Budgets are metered in REAL BPE tokens ([[TextAnalysis.bpeTokenCount]],
    * frozen merge table) — the counts that actually bound a training run —
    * not whitespace words. The per-language running sum rides
    * [[graft.operators.Scan.groupedPrefixSum]] over (quality DESC,
    * doc_id): range-partitioned, partition-local scan — the retired
    * `Window.partitionBy(lang)` shape put a whole language in ONE task,
    * so a dominant language meant a corpus-scale single-partition sort.
    * Same output (the scan replays the identical total order), no task
    * sorts more than its slice at any language skew.
    */
  private def tTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("_nt", col("n_tokens").cast("long"))
    graft.operators.Scan.groupedPrefixSum(d, Seq("lang"),
        Seq(col("quality").desc, col("doc_id")), "_nt", "cum_tokens", "_tot")
      .filter(col("cum_tokens") <= 2000L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
  }

  /** Near-dup CLUSTER resolution: minhash pairs → connected components →
    * (doc_id, comp); dedup keeps comp == doc_id. The oracle replays the
    * same pair set and closes it with a recursive CTE.
    */
  private def dNeardupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
    Dedup.connectedComponents(docs, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("comp"))
  }

  /** SOFT dedup: near-duplicates are DOWN-WEIGHTED instead of dropped —
    * every document stays, carrying `weight = 1/|cluster|` (1e-6 ints) so
    * a training sampler sees each near-dup CLUSTER with total mass 1
    * (SemDeDup/D4-adjacent: removal loses paraphrase diversity; soft
    * weighting keeps it without over-counting the duplicated content).
    * One aggregation over the [[dNeardupComponents]] labels; cluster
    * sizes join back on the comp key both sides already shuffle on.
    */
  private def dSoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val comp = dNeardupComponents(s, dir).pinned()
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("doc_id"), col("comp"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_e6"))
  }

  private def eCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Exact MIPS top-k over the raw (unnormalized) embeddings — the
    * dot-product retrieval baseline next to [[eCosineTopK]]'s cosine one;
    * [[graft.operators.Similarity.mipsAugment]] reduces this ranking to
    * the cosine indexes at scale (SimilaritySpec pins the equivalence).
    */
  private def eMipsTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.mipsTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Prefix-dimension rerank ([[Similarity.truncatedTopK]]): coarse top-30
    * by first-16-dim dot product, exact cosine rescoring to top-10 — the
    * Matryoshka/truncation ANN path whose coarse scan reads 1/4 of the
    * vector bytes. Fully deterministic, so the oracle replays both stages.
    */
  private def eTruncRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.truncatedTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", prefixDim = 16, k = 10, candidates = 30)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** MMR-diversified rerank ([[graft.operators.Similarity.mmrRerank]]):
    * top-[[MmrN]] cosine candidates for the vec_id=0 query, then the greedy
    * `lambda*rel - (1-lambda)*maxCosToPicked` selection down to [[MmrK]] —
    * the slate a RAG/few-shot selector wants, where near-duplicate hits
    * cannot crowd out coverage. lambda=0.75 so `1-lambda` is exact in
    * binary (a 0.7 literal would make Scala's `1 - 0.7` and the oracle's
    * `0.25` disagree in the 17th digit). The oracle replays the greedy
    * rounds as chained MATERIALIZED CTEs like `c_kcenter_select`.
    */
  private def eMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    // empty corpus (no query vector to rerank against) → empty slate
    val qRow = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect().headOption
    val picks = qRow match {
      case None => Seq.empty[(Int, Long, Double, Double)]
      case Some(row) =>
        val q = row.getSeq[Number](0).map(_.doubleValue()).toArray
        Similarity.mmrRerank(q, emb, "vec_id", "embedding",
          n = MmrN, k = MmrK, lambda = MmrLambda)
    }
    picks.toDF("mmr_rank", "id", "rel", "mmr_score")
  }

  /** SRP-LSH bucketed near-dup pairs (24 tables × 4 bits). The oracle
    * replicates the exact algorithm (identical ±1 planes + identical FP fold
    * order), so this is a full hash-match check of the scalable path, not a
    * rows-only smoke test. The planted pairs sit at cosine ≈ 0.45-0.55,
    * where SRP collision probability is ~0.65/bit — 24×4 holds measured
    * recall 1.0 on sf0.001/sf0.01; production near-dup thresholds (≥ 0.9)
    * would use fewer tables × more bits for a much sharper prune.
    */
  private def eNeardupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.45, numTables = 24, bitsPerTable = 4, dim = 64)

  private def eAnnSrpTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.srpTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10, numPlanes = 12, dim = 64, probeRadius = 4)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF-style cell-partitioned ANN: coarse cells from 8 deterministic ±1
    * centroids (cosine ignores centroid norm), corpus assigned narrow,
    * queries probe 2 cells. The 100 TB layout: cell-keyed equi-join, no
    * cross join.
    */
  private def eIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** FILTERED vector search — ANN under a metadata predicate (the RAG/
    * curation staple: "nearest neighbors among label-1 vectors only").
    * PRE-filter semantics: the predicate lands on the corpus scan BEFORE
    * cell assignment joins, so recall within the probed cells is exact and
    * the filter pushes to parquet like any other predicate — against
    * post-filtering a fixed candidate cut, which silently loses recall as
    * the filter gets more selective. Cell layout is per-vector, so
    * filtering the corpus leg changes no cell assignment; the oracle
    * replays the same chain with the same WHERE on the corpus CTE.
    */
  private def eFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5),
      emb.filter(col("label") === 1),
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Hard-negative mining for contrastive retrieval training (DPR/ANCE
    * recipe): per query, the highest-cosine candidates BELOW a similarity
    * ceiling τ — close enough to be informative negatives, but candidates
    * at/above τ are presumed positives/near-duplicates and excluded. Runs
    * entirely through the IVF cell-keyed machinery (a wider candidate cut,
    * then filter + re-rank over ≤ buffer rows per query), so the mining
    * pass inherits the ANN scale shape — no brute-force scan. Both filter
    * and rank use the 6-dp-rounded cosine, so the cut is cross-engine
    * exact; the oracle replays the IVF chain, the ceiling, and the
    * re-rank.
    */
  private def eHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cand = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = HardNegBuffer, nprobe = 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.filter(col("cosine") < HardNegTau)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 10)
      .select(col("query_id"), col("neg_rank"), col("neighbor_id"),
        col("cosine"))
  }
  private val HardNegBuffer = 30
  private val HardNegTau = 0.98

  /** MIPS served through the IVF index via [[graft.operators.Similarity
    * .mipsAugment]] — the reduction actually doing its job: corpus vectors
    * augmented with sqrt(M² − |x|²) (M = exact max corpus norm, one agg),
    * queries with 0, then the UNCHANGED cosine IVF machinery (65-dim ±1
    * centroids, nprobe 2) ranks by augmented cosine = inner-product order.
    * The oracle replays the augmentation and the full IVF pipeline in SQL
    * — the hash match proves the reduction is engine-exact, not just
    * rank-preserving in expectation.
    */
  private def eMipsIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val m2Row = emb.agg(max(aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))).head()
    // empty corpus: the max-norm scalar is undefined but also unused —
    // any positive value keeps the (empty) augmentation well-formed
    val mNorm = if (m2Row.isNullAt(0)) 1.0 else math.sqrt(m2Row.getDouble(0))
    val aug = Similarity.mipsAugment(emb, "embedding", mNorm)
    val augQ = Similarity.mipsAugment(emb.filter(col("vec_id") < 5),
      "embedding", mNorm, isQuery = true)
    Similarity.ivfTopK(augQ, aug, "vec_id", "embedding",
      centroids = VectorOps.rademacherPlanes(8, 65), k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF over a MATERIALIZED index: the corpus is written once partitioned
    * by coarse cell (`Similarity.writeIvfIndex` — the directory layout IS
    * the index at 100 TB), then searched via the partition column with
    * dynamic partition pruning. Semantics identical to e_ivf_topk, so the
    * oracle is the same SQL — the hash match proves the persisted layout
    * loses nothing.
    */
  private def eIvfIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val path = scratch("ivf_idx").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path)
    Similarity.ivfIndexTopK(s, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      centroids, path, k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF with TRAINED coarse centroids: spherical k-means over the sf0.01
    * embeddings (5 Lloyd iterations), frozen as compile-time literals in
    * [[graft.operators.TrainedCentroids]] — the 100 TB practice of training
    * on a sample offline and shipping centroids as a small artifact. The
    * oracle replays the identical doubles, so cell assignment, probing, and
    * ranking are hash-checked end-to-end.
    */
  private def eIvfTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = graft.operators.TrainedCentroids.sf001,
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** SemDeDup-style semantic dedup over the embeddings table with the
    * frozen trained centroids: within-cell cosine pairs → clusters → keep
    * min-id representative. The oracle replays cell assignment (identical
    * centroid doubles), the within-cell pair set, and the recursive
    * component closure, so the cluster-scoped dedup semantics are
    * hash-checked end-to-end.
    */
  private def eSemdedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.semDedupKeep(t(s, dir, "embeddings"), "vec_id", "embedding",
      centroids = graft.operators.TrainedCentroids.sf001, threshold = 0.45)
      .select(col("id").as("vec_id"), col("cell"))

  // ------------------------------------------------------------------
  // Multimodal columns: binary payloads with typed metadata
  // ------------------------------------------------------------------

  /** Synthetic media payloads derived from the documents table (the test
    * corpus has no binary column): doc_id picks the container, the header
    * encodes REAL dimensions (n_chars × doc_id mod 100) in the documented
    * byte layout, the document text is the body. The operators then
    * re-derive everything from the BYTES alone.
    */
  private def mediaPayloads(s: SparkSession, dir: String): DataFrame = {
    def be32(c: Column) = unhex(lpad(hex(c), 8, "0"))
    def le16(c: Column) = unhex(concat(
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 3, 2),
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 1, 2)))
    t(s, dir, "documents").select(
      col("doc_id"), col("n_chars"),
      when(col("doc_id") % 3 === 0,
        // PNG: signature + IHDR length/tag + width/height (big-endian)
        concat(unhex(lit("89504E470D0A1A0A0000000D49484452")),
          be32(col("n_chars")), be32(col("doc_id") % 100), encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 3 === 1,
          // GIF89a: signature + logical screen w/h (little-endian uint16)
          concat(unhex(lit("474946383961")),
            le16(col("n_chars")), le16(col("doc_id") % 100), encode(col("text"), "UTF-8")))
        .otherwise(
          // RIFF/WAVE audio container
          concat(unhex(lit("52494646")), be32(length(encode(col("text"), "UTF-8")) + 36),
            unhex(lit("57415645")), encode(col("text"), "UTF-8")))
        .as("payload"))
  }

  /** Modality sniffing from magic bytes + byte-size stats per modality. */
  private def mModalityStats(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .select(Multimodal.sniffModality(col("payload")).as("modality"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n"), round(avg(col("byte_len")), 4).as("avg_bytes"))

  /** Image dimensions parsed from container headers (PNG big-endian IHDR,
    * GIF little-endian screen descriptor) — the oracle states the encoded
    * ground truth independently, so the byte parsing is fully checked.
    */
  private def mImageDims(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .withColumn("dims", Multimodal.imageDims(col("payload")))
      .filter(col("dims").isNotNull)
      .select(col("doc_id"), col("dims.width").as("width"), col("dims.height").as("height"))

  /** The resize seam over the planted image payloads: headers transform
    * exactly (dims halve), bodies subsample to ceil(n/2) bytes, and the
    * standard dims operator reads the RESIZED payloads — proving the seam
    * composes with the rest of the multimodal surface.
    */
  private def mResizeStub(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .withColumn("rz", Multimodal.resizeStub(col("payload"), 2))
      .withColumn("dims", Multimodal.imageDims(col("rz")))
      .filter(col("dims").isNotNull)
      .select(col("doc_id"), col("dims.width").as("width"),
        col("dims.height").as("height"),
        length(col("rz")).cast("long").as("byte_len"))

  /** Content fingerprint + deterministic stub embedding (the decoder seam):
    * both are engine-reproducible byte folds the oracle replays over the
    * same constructed payloads.
    */
  private def mMediaFingerprint(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .select(col("doc_id"),
        Multimodal.mediaFingerprint(col("payload")).as("fp"),
        round(element_at(Multimodal.fakeEmbedding(col("payload"), 4), 1), 6).as("embed_0"))

  /** Perceptual-hash image near-dup: dHash over the first 61 decoded body
    * bytes ([[Multimodal.dhash60]]) on the image payloads, paired by the
    * same exact 15-bit pigeonhole blocking the text SimHash uses
    * ([[graft.operators.Dedup.hammingPairs60]]) — the image half of
    * near-dup removal, sharing the text half's join machinery. The oracle
    * recomputes the gradient-sign hash from the body bytes and verifies
    * the full pair set.
    */
  private def mPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val body = when(col("doc_id") % 3 === 0, substring(col("payload"), 25, 61))
      .otherwise(substring(col("payload"), 11, 61))
    val sigs = mediaPayloads(s, dir)
      .filter(col("doc_id") % 3 =!= 2) // images only; audio has no pixels
      .select(col("doc_id").as("id"), Multimodal.dhash60(body).as("sig"))
      .filter(col("sig").isNotNull)
    graft.operators.Dedup.hammingPairs60(sigs, maxDistance = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Frame-sampling plumbing: 16-byte windows every 64 bytes, exploded with
    * frame indices — the shape a video decoder plugs into.
    */
  private def mFrameSample(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(Multimodal.frameWindows(col("payload"), 16, 64)).as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        hex(col("frame")).as("frame_hex"))

  /** Scene-cut detection over the sampled frame stream: per-frame dHash
    * signatures, each snapped to its 3-frame group head (the planted
    * "still segment" — a real decoder feeds actual frames; the detector
    * logic is what's under test), then a cut wherever consecutive
    * signatures differ by > 10 bits. One narrow explode + two windows per
    * document — frame-count-scale, the text never shuffles; the oracle
    * replays container bytes, windows, per-frame dHash, the group snap,
    * and the hamming gate.
    */
  private def mSceneCuts(s: SparkSession, dir: String): DataFrame = {
    val frames = mediaPayloads(s, dir)
      .select(col("doc_id"),
        posexplode(Multimodal.frameWindows(col("payload"), 64, 64))
          .as(Seq("fi", "frame")))
      .withColumn("sig", Multimodal.dhash60(col("frame")))
      .filter(col("sig").isNotNull) // trailing sub-61-byte frames carry no hash
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), expr("fi div 3")).orderBy(col("fi"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fi"))
    frames
      .withColumn("gsig", first(col("sig")).over(wg))
      .withColumn("prev", lag(col("gsig"), 1).over(w))
      .withColumn("is_cut", when(col("prev").isNotNull &&
        bit_count(col("gsig").bitwiseXOR(col("prev"))) > 10, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("is_cut")).as("n_cuts"))
  }

  /** Audio feature extraction from the WAV payloads: RMS + peak over the
    * PCM body bytes — the oracle recomputes both from the text bytes the
    * container was built from, so the byte-offset arithmetic is fully
    * checked.
    */
  private def mAudioEnergy(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(Multimodal.sniffModality(col("payload")) === "audio/wav")
      .withColumn("st", Multimodal.wavAudioStats(col("payload")))
      .select(col("doc_id"), round(col("st.rms"), 6).as("rms"), col("st.peak").as("peak"))

  /** JPEG dimensions via the SOF marker-segment walk
    * ([[graft.functions.Kernels.jpegDims]]): planted JPEGs are SOI + JFIF
    * APP0 + (even doc_id) a DHT filler segment + SOF0/SOF2 carrying real
    * planted dimensions + SOS + the document text as entropy body. The SOF
    * sits at a VARIABLE offset (extra segment, baseline vs progressive), so
    * unlike PNG/GIF the oracle cannot state fixed offsets — it replays the
    * same segment walk as a recursive byte-walk CTE over the hex rendering.
    */
  private def mJpegDims(s: SparkSession, dir: String): DataFrame = {
    val h16 = lpad(hex(col("doc_id") % 300 + 1), 4, "0")
    val w16 = lpad(hex(col("n_chars") % 1000 + 1), 4, "0")
    val ph = concat(
      lit("FFD8FFE000104A46494600010100000100010000"),
      when(col("doc_id") % 2 === 0, lit("FFC4000500AABB")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("FFC0")).otherwise(lit("FFC2")),
      lit("001108"), h16, w16, lit("03011100021101031101"),
      lit("FFDA000C03010002110311003F00"),
      hex(encode(col("text"), "UTF-8")))
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(ph).as("payload"))
      .withColumn("dims", Multimodal.imageDims(col("payload")))
      .select(col("doc_id"), col("dims.width").as("width"), col("dims.height").as("height"))
  }

  /** WAV metadata extraction over properly-chunked RIFF payloads: every doc
    * becomes a WAV whose fmt chunk carries planted sample rate / channels /
    * bit depth, with (even ids) a LIST/INFO chunk inserted BEFORE fmt — the
    * fmt offset varies, so only the chunk walk
    * ([[graft.functions.Kernels.wavFormat]]) recovers the values the
    * oracle states independently from the planting formulas.
    */
  private def mWavFormat(s: SparkSession, dir: String): DataFrame = {
    def le16(c: Column) = unhex(concat(
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 3, 2),
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 1, 2)))
    def le32(c: Column) = {
      val h = lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0")
      unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)))
    }
    val sampleRate = element_at(
      typedLit(Seq(8000L, 16000L, 22050L, 44100L)), (col("doc_id") % 4 + 1).cast("int"))
    val channels = col("doc_id") % 2 + 1
    val bits = (col("doc_id") % 2 + 1) * 8
    val data = encode(col("text"), "UTF-8")
    val listChunk = when(col("doc_id") % 2 === 0,
      concat(unhex(lit("4C495354")), le32(lit(4L)), unhex(lit("494E464F"))))
      .otherwise(lit(Array.empty[Byte]))
    val fmtChunk = concat(unhex(lit("666D7420")), le32(lit(16L)),
      le16(lit(1L)), le16(channels), le32(sampleRate),
      le32(sampleRate * channels * (col("doc_id") % 2 + 1)),
      le16(channels * (col("doc_id") % 2 + 1)), le16(bits))
    val riffSize = lit(4L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) +
      lit(24L) + lit(8L) + length(data)
    val payload = concat(unhex(lit("52494646")), le32(riffSize),
      unhex(lit("57415645")), listChunk, fmtChunk,
      unhex(lit("64617461")), le32(length(data)), data)
    t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      .withColumn("f", Multimodal.wavFormat(col("payload")))
      .select(col("doc_id"), col("f.sample_rate").as("sample_rate"),
        col("f.channels").as("channels"), col("f.bits").as("bits"))
  }

  /** MP4 movie-header recovery through the ISO-BMFF box walk: payloads are
    * planted with a variable layout (an optional `free` sibling before
    * `mvhd` inside `moov`, like m_wav_format's optional LIST chunk) so the
    * kernel must actually hop box headers; the oracle states the planting
    * formulas as ground truth.
    */
  private def mMp4Meta(s: SparkSession, dir: String): DataFrame = {
    def be32(c: Column) = unhex(lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0"))
    val timescale = element_at(
      typedLit(Seq(600L, 1000L, 24000L, 90000L)), (col("doc_id") % 4 + 1).cast("int"))
    val duration = (col("n_chars") % 10000L) * 100L + col("doc_id") % 100L
    val ftyp = concat(be32(lit(16L)), lit("ftyp".getBytes), lit("isom".getBytes),
      be32(lit(0L)))
    val mvhd = concat(be32(lit(28L)), lit("mvhd".getBytes), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0L)), be32(timescale), be32(duration))
    val free = when(col("doc_id") % 2 === 0,
      concat(be32(lit(12L)), lit("free".getBytes), be32(lit(0L))))
      .otherwise(lit(Array.empty[Byte]))
    val moovSize = lit(8L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) + lit(28L)
    val data = encode(col("text"), "UTF-8")
    val mdat = concat(be32(length(data).cast("long") + 8L), lit("mdat".getBytes), data)
    val payload = concat(ftyp, be32(moovSize), lit("moov".getBytes), free, mvhd, mdat)
    t(s, dir, "documents").select(col("doc_id"), col("n_chars"), payload.as("payload"))
      .withColumn("m", Multimodal.mp4Meta(col("payload")))
      .select(col("doc_id"), col("m.timescale").as("timescale"),
        col("m.duration").as("duration"))
  }

  /** Frequency-domain audio features over the WAV payloads: per-bin power
    * from the windowed integer-twiddle 8-point DFT
    * ([[Multimodal.audioSpectrum8]]) plus the dominant bin — real DSP
    * arithmetic (the voice-activity/tone-detection front end) kept exact
    * int64 on both engines, so the oracle replays every re/im/power fold
    * bit for bit over the same body bytes as `m_audio_energy`.
    */
  private def mAudioSpectrum(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(Multimodal.sniffModality(col("payload")) === "audio/wav")
      // each array materialized in its OWN projection — see the
      // audioSpectrum8Powers scaladoc on HOF re-evaluation
      .withColumn("bytes", Multimodal.byteValues(col("payload"), 13))
      .withColumn("ps", Multimodal.audioSpectrum8Powers(col("bytes")))
      .select(col("doc_id"),
        array_position(col("ps"), array_max(col("ps"))).as("dom_bin"),
        element_at(col("ps"), 1).as("p1"), element_at(col("ps"), 2).as("p2"),
        element_at(col("ps"), 3).as("p3"), element_at(col("ps"), 4).as("p4"))

  /** AVI main-header recovery through the RIFF list walk: payloads are
    * planted with a variable layout (an optional JUNK padding chunk before
    * `LIST hdrl`, as real muxers emit) so the kernel must actually hop
    * chunk headers; the oracle states the planting formulas as ground
    * truth. The REAL pixel path over this container —
    * [[graft.functions.ImageDecode.aviMjpegFrameGrids]] decoding `00dc`
    * MJPEG frame chunks, including table-less frames — is spec-covered
    * (`AviDecodeSpec`), like the GIF/JPEG decoders: a codec round-trip
    * cannot be replayed in the SQL oracle.
    */
  private def mAviMeta(s: SparkSession, dir: String): DataFrame = {
    def le32(c: Column) = {
      val h = lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0")
      unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)))
    }
    val usPerFrame = element_at(
      typedLit(Seq(16666L, 33333L, 40000L, 41666L)), (col("doc_id") % 4 + 1).cast("int"))
    val width = col("n_chars") % 1000 + 16
    val height = col("doc_id") % 480 + 16
    val frames = col("doc_id") % 200 + 1
    val avihBody = concat(le32(usPerFrame), le32(lit(0L)), le32(lit(0L)),
      le32(lit(0L)), le32(frames), le32(lit(0L)), le32(lit(1L)), le32(lit(0L)),
      le32(width), le32(height),
      le32(lit(0L)), le32(lit(0L)), le32(lit(0L)), le32(lit(0L))) // dwReserved[4]
    val hdrlList = concat(lit("LIST".getBytes), le32(lit(68L)),
      lit("hdrl".getBytes), lit("avih".getBytes), le32(lit(56L)), avihBody)
    val junk = when(col("doc_id") % 2 === 0,
      concat(lit("JUNK".getBytes), le32(lit(4L)), le32(lit(0L))))
      .otherwise(lit(Array.empty[Byte]))
    val data = encode(col("text"), "UTF-8")
    val moviList = concat(lit("LIST".getBytes), le32(length(data) + 12L),
      lit("movi".getBytes), lit("00dc".getBytes), le32(length(data).cast("long")), data)
    val riffSize = lit(4L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) +
      lit(76L) + lit(20L) + length(data)
    val payload = concat(lit("RIFF".getBytes), le32(riffSize),
      lit("AVI ".getBytes), junk, hdrlList, moviList)
    t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      .withColumn("m", Multimodal.aviMeta(col("payload")))
      .select(col("doc_id"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.frames").as("frames"),
        col("m.us_per_frame").as("us_per_frame"))
  }

  private def tTokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"))

  /** Real-BPE token counts per document next to the whitespace counts —
    * direct oracle coverage of the merge-table tokenizer (the budget query
    * exercises it only through the cumulative filter).
    */
  private def tBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))

  /** Tokenizer fertility audit by language: BPE tokens per whitespace token
    * — the standard multilingual tokenizer-quality metric (fertility far
    * above the corpus norm on a language flags under-trained merges and
    * inflated training cost for that slice). One codegen'd kernel pass,
    * one 5-group aggregation; no text ever shuffles.
    */
  private def tFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("ws_tokens"),
      sum(TextAnalysis.bpeTokenCount(col("text"))).as("bpe_tokens"))
    .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
      round(col("bpe_tokens") / col("ws_tokens"), 6).as("fertility"))

  private def tQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  /** TRAINED model-based quality filter (the fasttext-style weak-supervision
    * pattern: a cheap deterministic label + surface features train a model
    * that then scores every document). Training is
    * [[graft.operators.Classifier.trainLogistic]] — full-batch GD where each
    * iteration is one map-side-combined aggregation and the driver receives
    * only the (k+1)-double gradient row; scoring inlines the weights into a
    * codegen'd column. The learned weights ride along as constant columns so
    * the oracle checks the MODEL, not just the scores: DuckDB replays the
    * identical 5-iteration chain as chained CTEs.
    */
  private def tQualityLr(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val raw = t(s, dir, "documents").select(
      col("doc_id"),
      (length(col("text")) / lit(100.0)).as("f1"),
      (size(words) / lit(10.0)).as("f2"),
      (length(col("text")).cast("double") / size(words)).as("f3"),
      (size(array_distinct(words)).cast("double") / size(words)).as("f4"),
      when(size(words) >= 40, 1.0).otherwise(0.0).as("y"))
      .pinned(true) // read by stats + 5 gradient jobs + scoring
    val fcols = Seq("f1", "f2", "f3", "f4")
    // standardize (all-positive raw features would saturate the sigmoid
    // before GD can discriminate): one agg job -> 2k driver doubles
    val st = raw.agg(avg("f1"), stddev_pop("f1"), avg("f2"), stddev_pop("f2"),
      avg("f3"), stddev_pop("f3"), avg("f4"), stddev_pop("f4")).head()
    // empty corpus: no stats, no model — empty scored frame with the
    // same schema (every downstream row — auc, calibration, conformal,
    // kappa — then degrades to its own empty/NULL shape)
    if (st.isNullAt(0))
      return raw.limit(0).select(col("doc_id"), col("y").as("label"),
        lit(0.0).as("score"), lit(0.0).as("wb"), lit(0.0).as("w1"),
        lit(0.0).as("w2"), lit(0.0).as("w3"), lit(0.0).as("w4"))
    val feats = raw.select(col("doc_id") +: col("y") +:
      fcols.zipWithIndex.map { case (c, i) =>
        val sd = st.getDouble(2 * i + 1)
        ((col(c) - lit(st.getDouble(2 * i))) /
          lit(if (sd == 0.0) 1.0 else sd)).as(c) }: _*)
    // Bounded training sample (deterministic, oracle-replayable): the 5
    // gradient passes are the only ∝-corpus loop here, and at 100 TB they
    // dominate everything downstream of this model (auc, calibration,
    // conformal, kappa). Train on doc_id % m == 0 with
    // m = max(1, n_docs / 4000): caps gradient input near 4-8k rows at any
    // scale while standardization and SCORING stay full-corpus. m == 1
    // below 8k docs, so small-SF results are bit-identical to full-batch
    // (the Similarity.boundedTrainingSample precedent).
    val m = math.max(1L, raw.count() / 4000L)
    val train = if (m == 1L) feats
      else feats.filter(col("doc_id") % m === 0).pinned(true)
    val w = graft.operators.Classifier.trainLogistic(train, fcols, "y",
      iterations = 5, learningRate = 0.5)
    feats.select(col("doc_id"), col("y").as("label"),
      round(graft.operators.Classifier.scoreLogistic(fcols.map(col), w), 5).as("score"),
      round(lit(w(0)), 6).as("wb"), round(lit(w(1)), 6).as("w1"),
      round(lit(w(2)), 6).as("w2"), round(lit(w(3)), 6).as("w3"),
      round(lit(w(4)), 6).as("w4"))
  }

  /** ROC-AUC of the trained quality filter, computed distributed WITHOUT
    * the n_pos x n_neg pair join: group by (rounded) score, cumulative-sum
    * the group sizes for below-count, and apply the tie-aware Mann-Whitney
    * identity AUC = (Σ_pos avgrank − n_pos(n_pos+1)/2) / (n_pos·n_neg).
    * The only single-task step is the window over DISTINCT 5-decimal
    * scores — bounded at ≤100001 rows regardless of corpus size.
    */
  private def tLrAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = tQualityLr(s, dir).select(col("label"), col("score"))
    val bySc = scored.groupBy("score").agg(
      count(lit(1)).cast("double").as("n_eq"),
      sum(col("label")).as("n_pos_eq"))
    val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    bySc
      .withColumn("cnt_less", coalesce(sum(col("n_eq")).over(w), lit(0.0)))
      .agg(
        sum(col("n_pos_eq") * (col("cnt_less") + (col("n_eq") + lit(1.0)) / lit(2.0)))
          .as("rank_pos"),
        sum(col("n_pos_eq")).as("n_pos"),
        sum(col("n_eq")).as("n_all"))
      .select(
        round((col("rank_pos") - col("n_pos") * (col("n_pos") + lit(1.0)) / lit(2.0)) /
          nz(col("n_pos") * (col("n_all") - col("n_pos"))), 6).as("auc"),
        col("n_pos").cast("long").as("n_pos"),
        (col("n_all") - col("n_pos")).cast("long").as("n_neg"))
  }

  private def tLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))

  private def tFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Gopher-style repetition quality signals: top-2-gram fraction and
    * duplicate-3-gram fraction, from one codegen'd all-integer stats kernel
    * per row (the oracle recomputes the same 30-bit n-gram hashes).
    */
  private def tRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      round(TextAnalysis.topNgramFraction(col("text"), 2), 6).as("top_2gram_frac"),
      round(TextAnalysis.duplicateNgramFraction(col("text"), 3), 6).as("dup_3gram_frac"))

  /** Regex PII scrubbing over text with planted emails/long numbers: the
    * redacted text AND the audit match count are both hash-checked (the
    * patterns are RE2-compatible on purpose, so DuckDB replays them).
    */
  private def tRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call "),
          lpad(col("doc_id").cast("string"), 7, "0")).as("raw"))
      .select(col("doc_id"),
        TextAnalysis.piiMatchCount(col("raw")).cast("long").as("n_pii"),
        TextAnalysis.redactPii(col("raw")).as("clean"))

  /** C4/Gopher-style composite keep-filter: quality score + duplicate-3-gram
    * bound + minimum length, the canonical pre-training cleanup gate.
    */
  /** Split-conformal prediction sets for the LR quality classifier — the
    * distribution-free coverage guarantee (Vovk; Angelopoulos & Bates):
    * calibrate on the deterministic doc_id%5 split, q̂ = the
    * ⌈(n+1)(1−α)⌉-th smallest true-class nonconformity (an EXACT order
    * statistic — found via [[graft.operators.Scan.prefixSum]] over
    * value-grouped counts, never a global sort), then each test doc's
    * prediction set keeps every class whose nonconformity ≤ q̂. Reports
    * the set-type census and empirical coverage, which the conformal
    * theorem lower-bounds by 1−α = 0.9 in expectation. Scores are the
    * rounded LR outputs, so every comparison is over identical doubles
    * cross-engine.
    */
  private def tConformal(s: SparkSession, dir: String): DataFrame = {
    val scored = tQualityLr(s, dir)
      .select(col("doc_id"), col("score"), col("label"))
      .pinned() // LR trains once; cal + test both read it
    val cal = scored.filter(col("doc_id") % 5 === 0)
      .select(when(col("label") === 1.0, lit(1.0) - col("score"))
        .otherwise(col("score")).as("s"))
    val grouped = cal.groupBy(col("s")).agg(count(lit(1)).as("c"))
    val nCal = cal.count() // driver scalar: calibration size is metadata
    val k = math.ceil((nCal + 1) * 0.9).toLong
    // conformal convention: too few calibration points (k > n_cal) means
    // no finite threshold exists — q̂ = +∞, every class enters every set,
    // coverage 1 (NOT a NULL that would zero the census)
    val qh = graft.operators.Scan.prefixSum(grouped, "s", "c", "cum")
      .filter(col("cum") >= k)
      .agg(coalesce(min(col("s")), lit(Double.PositiveInfinity)).as("qhat"))
    scored.filter(col("doc_id") % 5 =!= 0)
      .crossJoin(broadcast(qh))
      .select(col("label"),
        ((lit(1.0) - col("score")) <= col("qhat")).as("has1"),
        (col("score") <= col("qhat")).as("has0"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("has1") && col("has0"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("has1") && !col("has0"), 1L).otherwise(0L)).as("n_only1"),
        sum(when(col("has0") && !col("has1"), 1L).otherwise(0L)).as("n_only0"),
        sum(when(!col("has0") && !col("has1"), 1L).otherwise(0L)).as("n_empty"),
        sum(when((col("label") === 1.0 && col("has1")) ||
          (col("label") === 0.0 && col("has0")), 1L).otherwise(0L)).as("n_cov"),
        max(col("qhat")).as("qhat"))
      .select(lit(nCal).as("n_cal"), round(col("qhat"), 5).as("qhat"),
        col("n_test"), col("n_both"), col("n_only1"), col("n_only0"),
        col("n_empty"),
        round(col("n_cov").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }

  /** The heuristic quality gate's signals — ONE definition shared by the
    * filter query and the kappa rater audit (and mirrored by ONE shared
    * oracle CTE block, [[sqlQualityGateCtes]]): a threshold tweak edits
    * exactly two places, never four.
    */
  private def qualityGateFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      round(TextAnalysis.duplicateNgramFraction(col("text"), 3), 6).as("dup3"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))

  /** The gate predicate over [[qualityGateFrame]]'s columns. */
  private def qualityGate: Column =
    col("quality") >= 0.25 && col("dup3") <= 0.2 && col("n_tokens") >= 5

  private def tQualityFilter(s: SparkSession, dir: String): DataFrame =
    qualityGateFrame(s, dir).filter(qualityGate).select("doc_id", "quality")

  /** Cohen's kappa agreement between the corpus's two quality raters —
    * the heuristic gate (t_quality_filter's exact predicate) and the
    * trained LR classifier at 0.5 (t_quality_lr's rounded score): the
    * standard rater-agreement audit run before trusting either gate to
    * curate alone (raw accuracy overstates agreement when both raters
    * mostly say "keep"; kappa subtracts chance). One join on doc_id +
    * one 2×2 contingency aggregation; kappa is exact integer counts until
    * a final double expression.
    */
  private def tRaterKappa(s: SparkSession, dir: String): DataFrame = {
    val heur = qualityGateFrame(s, dir)
      .select(col("doc_id"), when(qualityGate, 1L).otherwise(0L).as("a"))
    val lr = tQualityLr(s, dir).select(col("doc_id"),
      when(col("score") >= 0.5, 1L).otherwise(0L).as("b"))
    val pe = (col("na") * col("nb") +
      (col("n") - col("na")) * (col("n") - col("nb"))).cast("double") /
      (col("n") * col("n")).cast("double")
    heur.join(lr, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"),
        sum(col("a")).as("na"), sum(col("b")).as("nb"))
      .select(col("n"), col("n11"), col("n00"), col("na"), col("nb"),
        // Degenerate-rater guard: if both raters are constant (pe = 1 —
        // e.g. both always "keep"), kappa is 0/0-undefined; emit NULL
        // (mirrored in the oracle CASE) instead of NaN, which Spark and
        // DuckDB would not hash-agree on.
        when(pe === 1.0, lit(null).cast("double")).otherwise(
          round(((col("n11") + col("n00")).cast("double") /
            col("n").cast("double") - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** EXACT per-language length deciles — corpus QA profiling (the
    * distribution sheet a curation run starts and ends with), at VALUE
    * grain on the scan: lengths collapse to one row per (lang, n_chars)
    * and [[graft.operators.Scan.groupedPrefixSum]] attaches each value's
    * within-language cumulative count — the q_winsorized_mean device.
    * Decile d's value is then `min(n_chars) WHERE 10·cum ≥ d·n` (exact
    * integer arithmetic, equivalent to the retired row-grain
    * `row_number/count ≥ d/10` because a value qualifies iff its LAST
    * row does). The retired `Window.partitionBy(lang)` sorted the whole
    * corpus in |langs| tasks; nothing here sorts more than a partition
    * slice of the distinct-length table. `percentile_approx` would be
    * the lossy alternative — this is exact AND scan-shaped.
    */
  private def tLengthDeciles(s: SparkSession, dir: String): DataFrame = {
    val vc = t(s, dir, "documents")
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("cnt"))
    graft.operators.Scan.groupedPrefixSum(vc, Seq("lang"),
        Seq(col("n_chars")), "cnt", "cum", "n")
      .select(col("lang"), col("n_chars"), col("cum"), col("n"),
        explode(array((1 to 9).map(lit(_)): _*)).as("decile"))
      .filter(col("cum") * 10 >= col("n") * col("decile"))
      .groupBy(col("lang"), col("decile").cast("long").as("decile"))
      .agg(min(col("n_chars")).as("value"))
  }

  /** Fixed-size token chunking — the retrieval/embedding prep staple: each
    * document splits into consecutive 64-token windows, exploded with chunk
    * indices. Narrow per-row transform + explode: no shuffle at any scale,
    * and the scan prunes to (doc_id, text).
    */
  private def tChunks(s: SparkSession, dir: String): DataFrame = {
    val chunkLen = 64
    val toks = TextAnalysis.tokens(col("text"))
    val n = size(toks)
    val chunks = when(n === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0L), floor((n - 1) / lit(chunkLen)).cast("long")),
        j => concat_ws(" ", slice(toks, (j * chunkLen + 1).cast("int"), lit(chunkLen)))))
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        TextAnalysis.tokenCount(col("chunk")).cast("long").as("chunk_tokens"),
        col("chunk"))
  }

  /** Cross-document sequence packing (context-window building): per
    * language, documents concatenate back-to-back in doc_id order; each
    * doc's pack is the fixed 2048-BPE-token window its first token lands
    * in, with a flag for docs straddling a boundary (where the loader
    * splits). The per-language running sum rides
    * [[graft.operators.Scan.groupedPrefixSum]] (same device as
    * t_token_budget): the retired `Window.partitionBy(lang)` held a whole
    * language in one task; the scan sorts only partition slices.
    */
  private def cPackSequences(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"))
      .withColumn("_nt", col("n_tokens").cast("long"))
    graft.operators.Scan.groupedPrefixSum(d, Seq("lang"),
        Seq(col("doc_id")), "_nt", "cum", "_tot")
      .withColumn("pack_id", expr("(cum - n_tokens) div 2048"))
      .withColumn("crosses",
        expr("((cum - 1) div 2048) > ((cum - n_tokens) div 2048) AND n_tokens > 0"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"), col("crosses"))
  }

  /** Benchmark decontamination — drop every training document that shares
    * a word 3-gram with the eval set (docs 0-9 stand in for the benchmark).
    * The classic pre-training hygiene pass (real pipelines use 8-13-grams;
    * 3 keeps the planted corpus overlap non-trivial). Scale shape: the eval
    * side explodes to a DISTINCT n-gram hash set — tiny (benchmarks are
    * MBs, corpora are TBs) so the left-anti join broadcasts under the same
    * size gate as the `_uploaded` control table; the training side streams
    * through exploded → anti-join → distinct-id, never shuffling text.
    */
  private def cDecontaminate(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("g"))
    val docs = t(s, dir, "documents")
    val evalGrams = grams(docs.filter(col("doc_id") < 10)).select("g").distinct()
    val evalHinted =
      if (evalGrams.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(Transforms.BroadcastGateBytes)) broadcast(evalGrams)
      else evalGrams
    val trainGrams = grams(docs.filter(col("doc_id") >= 10))
    val contaminated = trainGrams.join(evalHinted, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") >= 10)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }

  /** Benchmark-contamination REPORT — the audit side of decontamination
    * (Dolma/GPT-3-style appendix tables): per eval document, how much of
    * it leaked into the training corpus. Columns: distinct 3-gram count,
    * how many of those grams occur ANYWHERE in the train split (n_hit,
    * overlap_frac), and the single worst train document by shared
    * distinct grams (ties to the smaller doc id). Scale shape: the eval
    * side is benchmark-sized (MBs) so its gram set broadcasts; the train
    * side streams exploded grams through one semi-ish join. The per-PAIR
    * attribution join is additionally gated on gram document frequency
    * (df ≤ maxGramDf): a boilerplate gram occurring in half the corpus
    * would make pair output |eval grams|×|corpus| — dropping
    * non-discriminative grams bounds pair fan-out at maxGramDf per gram
    * while the OVERALL overlap fraction still counts every gram (that
    * path's output is bounded by the eval gram set alone).
    */
  private def cContaminationReport(s: SparkSession, dir: String): DataFrame = {
    val maxGramDf = 100
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("g"))
      .distinct()
    val docs = t(s, dir, "documents")
    val ev = grams(docs.filter(col("doc_id") < 10))
      .withColumnRenamed("doc_id", "eval_id")
    val evHinted =
      if (ev.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(Transforms.BroadcastGateBytes)) broadcast(ev)
      else ev
    val tg = grams(docs.filter(col("doc_id") >= 10))
      .withColumnRenamed("doc_id", "train_id")
    val evTotals = ev.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
    val hit = tg.select(col("g")).distinct()
      .join(evHinted, Seq("g"))
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    val rareGrams = tg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxGramDf).select(col("g"))
    val pair = tg.join(rareGrams, Seq("g"))
      .join(evHinted, Seq("g"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
    val worst = pair.groupBy(col("eval_id"))
      .agg(max(struct(col("shared"), (-col("train_id")).as("nt"))).as("m"))
      .select(col("eval_id"), col("m.shared").as("worst_shared"),
        (-col("m.nt")).as("worst_train_doc"))
    evTotals.join(hit, Seq("eval_id"), "left").join(worst, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("overlap_frac"),
        coalesce(col("worst_shared"), lit(0L)).as("worst_shared"),
        coalesce(col("worst_train_doc"), lit(-1L)).as("worst_train_doc"))
  }

  /** Deterministic stratified downsampling — mixture rebalancing, the step
    * that turns "too much src0, not enough books" into a target data mix.
    * Each source stratum keeps a configured per-mille fraction, selected by
    * a content-stable polynomial hash of (source, doc_id): reproducible
    * across runs, engines, and partitionings (no RNG state, unlike
    * `df.sample`), and at 100 TB it is a NARROW filter fused into the scan —
    * no shuffle, no sort, prunes to two columns.
    */
  private def cStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("source").isin("src0", "src1", "src2", "src3"), 250L)
      .when(col("source").isin("src4", "src5", "src6"), 500L)
      .otherwise(1000L)
    val bucket = pmod(Dedup.polyHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string")),
      31L, 1000000007L), lit(1000L))
    t(s, dir, "documents")
      .filter(bucket < rate)
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis '06, algorithm A-ES): per source, keep the k documents with
    * the largest ln(u)/w, where u = (h+1)/(P+1) is a content-stable
    * uniform from the polynomial hash and w = n_chars — inclusion
    * probability proportional to document weight, yet fully reproducible
    * across runs, engines, and partitionings (no RNG state). Weight-0
    * documents are never sampled. Scale shape: the key is a narrow
    * per-row projection and the selection is the bounded top-k AGGREGATE
    * ([[graft.functions.TopKAggregate]]) — map-side combine ships ≤ k
    * rows per (source, partition); no per-group sort of the corpus, which
    * is what a rank-window sampler would pay at 100 TB.
    */
  private def cWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val h = Dedup.polyHash(
      concat(col("source"), lit(":"), col("doc_id").cast("string")), 31L, P)
    val key = log((h + 1).cast("double") / lit((P + 1).toDouble)) /
      col("n_chars").cast("double")
    t(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), key.as("k"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAggregate.topKByScore(
        col("k"), col("doc_id"), 20).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"))
  }

  /** Leakage-safe train/validation split: the split unit is the NEAR-DUP
    * CLUSTER, not the document — the cluster representative id is hashed
    * to a bucket, so paraphrase near-duplicates can never straddle the
    * boundary (the contamination mistake per-document hashing makes: a
    * val document's near-copy trains). ~5% of clusters go to val. Cost on
    * top of the cluster resolution ([[dNeardupComponents]], the same
    * checkpointed label propagation the dedup family shares): one narrow
    * hash over the component labels, no extra shuffle.
    */
  private def cLeakageSplit(s: SparkSession, dir: String): DataFrame =
    dNeardupComponents(s, dir)
      .select(col("doc_id"), col("comp"),
        when(Dedup.polyHash(concat(lit("split:"), col("comp").cast("string")),
            31L, 1000000007L) % 100 < 5, lit("val"))
          .otherwise(lit("train")).as("split"))

  /** Greedy k-center (farthest-point) coreset selection over the embedding
    * corpus — diversity-based data pruning: 8 centers, each round one
    * narrow max-of-struct aggregation, the driver receiving exactly
    * k×(dim+2) values ([[graft.operators.Similarity.kCenterGreedy]]). The
    * oracle replays the identical greedy rounds as chained CTEs (same
    * index-order squared-L2 fold, same smaller-id tiebreak).
    */
  private def cKcenterSelect(s: SparkSession, dir: String): DataFrame = {
    val picks = graft.operators.Similarity.kCenterGreedy(
      t(s, dir, "embeddings"), "vec_id", "embedding", k = KcenterK)
    import s.implicits._
    picks.toDF("sel_round", "vec_id", "radius")
      .select(col("sel_round"), col("vec_id"), round(col("radius"), 6).as("radius"))
  }

  /** K-anonymity audit — re-identification risk of the quasi-identifier
    * tuple (event_type, UTC day-of-week, UTC hour): per QI cell, k =
    * distinct users sharing it; cells bucketed by k (1 / 2-4 / 5-9 / 10+).
    * A release is k-anonymous at threshold K iff no bucket below K is
    * populated — the audit a privacy review runs before activation data
    * leaves the warehouse (megalista's PII hashing governs VALUES; this
    * governs COMBINATIONS). Scale shape: the QI space is bounded
    * (types × 7 × 24), the distinct-user count is a two-phase aggregate on
    * that bounded key, and the bucket rollup runs over the tiny cell
    * table. Time fields derive from integer µs arithmetic (1970-01-01 =
    * Thursday), replayed exactly by the oracle.
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type"), tsUs.as("ts_us"), col("user_id"))
      .withColumn("dow", expr("(ts_us div 86400000000 + 4) % 7"))
      .withColumn("hr", expr("(ts_us div 3600000000) % 24"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(countDistinct(col("user_id")).as("k"))
    cells
      .select(when(col("k") === 1, "k=1").when(col("k") < 5, "k=2-4")
        .when(col("k") < 10, "k=5-9").otherwise("k>=10").as("k_bucket"),
        col("k"))
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n_cells"), sum(col("k")).as("n_users"))
  }

  /** L-diversity audit — the companion to [[qKAnonymity]]: a QI cell whose
    * users all share ONE sensitive value leaks that value even at high k
    * (homogeneity attack). Sensitive attribute here: the event value's
    * hundred-bucket. Per QI cell l = distinct sensitive values; cells
    * bucketed by l. Same bounded-QI-space shape as the k audit: the
    * distinct count is a two-phase aggregate, output is O(buckets).
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), tsUs.as("ts_us"),
        floor(col("value") / 100.0).cast("long").as("sv"))
      .withColumn("dow", expr("(ts_us div 86400000000 + 4) % 7"))
      .withColumn("hr", expr("(ts_us div 3600000000) % 24"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(countDistinct(col("sv")).as("l"))
      .select(when(col("l") === 1, "l=1").when(col("l") === 2, "l=2")
        .when(col("l") < 5, "l=3-4").otherwise("l>=5").as("l_bucket"),
        col("l"))
      .groupBy(col("l_bucket"))
      .agg(count(lit(1)).as("n_cells"), sum(col("l")).as("sum_l"))

  /** Mondrian k-anonymization of the customer quasi-identifiers
    * ([[graft.operators.Safety.mondrianCells]], k = 50, 4 rounds over
    * (acctbal, nationkey)) — the GENERALIZER next to q_k_anonymity's
    * audit: every published cell carries ≥ 50 customers, ranges replace
    * values. The oracle unrolls the identical median splits one CTE pair
    * per round (shared p·(n−1) percentile rule, ties left, round-robin
    * dims).
    */
  private def qMondrianAnon(s: SparkSession, dir: String): DataFrame =
    graft.operators.Safety.mondrianCells(
      t(s, dir, "customer"), Seq("c_acctbal", "c_nationkey"),
      k = 50, rounds = 4)

  /** Encoding-hygiene audit — per-source counts of U+FFFD replacement
    * characters (the scar a lossy decode leaves) and C0 control characters
    * (minus tab/newline/CR): the standard "was this shard decoded with the
    * wrong charset" signal a crawl pipeline gates on before any text op.
    * The synthetic corpus is clean, so mojibake is PLANTED on every 7th
    * document and the oracle replays the plant — the audit arithmetic is
    * what is being proven. One codegen'd pass over text, counts via
    * length-after-strip deltas; aggregation is map-side combinable.
    */
  private def tEncodingAudit(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit("\uFFFD\uFFFD\u0007"))).otherwise(col("text"))
        .as("text"))
    val repl = length(col("text")) -
      length(regexp_replace(col("text"), "\uFFFD", ""))
    val ctrl = length(col("text")) -
      length(regexp_replace(col("text"), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    planted
      .select(col("source"), repl.as("repl"), ctrl.as("ctrl"))
      .groupBy(col("source"))
      .agg(sum(col("repl")).as("n_repl"), sum(col("ctrl")).as("n_ctrl"),
        count(when(col("repl") > 0 || col("ctrl") > 0, lit(1))).as("n_flagged"))
  }

  /** Corpus-wide top-k frequent word bigrams — vocabulary/boilerplate
    * mining (the discovery pass behind line-dedup df thresholds and merge-
    * table training). Scale shape: the explode emits bounded 2-word keys,
    * the count is map-side combinable, and the top-k is a TakeOrdered over
    * the aggregated (tiny) key space — no global sort of the corpus.
    */
  private def tTopNgrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col("text"), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(50)

  /** Zipf-law fit over the top-500 unigrams: ln(freq) regressed on
    * ln(rank) by closed-form least squares — the one-number corpus-health
    * signal (natural language sits near slope -1; template/boilerplate
    * corpora run flatter, collapsed vocabularies steeper) a curation run
    * checks before training. Scale shape: one shuffle for the vocabulary
    * aggregation, a TakeOrdered top-K cut (no global sort materializes),
    * and the rank window + regression run on the K surviving rows — a
    * single tiny partition by construction, independent of corpus size.
    */
  private def tZipfFit(s: SparkSession, dir: String): DataFrame = {
    val k = 500
    val topTerms = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
    // rank window over the K kept rows only — bounded, never corpus-wide
    val w = Window.orderBy(col("n").desc, col("term"))
    val sums = topTerms.withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val slopeNum = col("cnt") * col("sxy") - col("sx") * col("sy")
    val slopeDen = col("cnt") * col("sxx") - col("sx") * col("sx")
    sums.select(
      col("cnt").cast("long").as("k_terms"),
      round(slopeNum / nz(slopeDen), 6).as("zipf_slope"),
      round((col("sy") - slopeNum / nz(slopeDen) * col("sx")) / col("cnt"), 6)
        .as("zipf_intercept"),
      round(slopeNum * slopeNum /
        nz(slopeDen * (col("cnt") * col("syy") - col("sy") * col("sy"))), 6)
        .as("r2"))
  }

  // ------------------------------------------------------------------
  // Temporal joins (as-of, keyless interval), sketches, importance
  // ------------------------------------------------------------------

  /** As-of join ([[graft.operators.Temporal.asofJoin]]): every event carries
    * the customer's latest order state as of the event time — one shuffle on
    * the key, no range join. Orders are pre-aggregated to one row per
    * (customer, order time) so tie resolution is deterministic in both
    * engines.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    // o_orderdate reads as TIMESTAMP_NTZ; the session tz is UTC everywhere
    // (Verify/Bench/tests), so the cast matches the oracle's epoch_us
    val ord = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      .agg(round(max(col("o_totalprice")), 2).as("last_order_price"),
        count(lit(1)).as("last_order_n"))
    graft.operators.Temporal.asofJoin(ev, ord, "user_id", "ts_us", "o_us",
      Seq("last_order_price", "last_order_n"))
  }

  /** Orders pre-aggregated to one row per (customer, order time) — the
    * right side every as-of query matches against. Key/time columns named
    * distinctly from the event side's because the native operator emits
    * ALL right columns.
    */
  private def asofOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("o_user"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
      .agg(round(max(col("o_totalprice")), 2).as("last_order_price"),
        count(lit(1)).as("last_order_n"))

  private def asofEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"), col("user_id"), tsUs.as("ts_us"))

  /** Native whole-operator as-of join ([[graft.operators.Temporal
    * .asofJoinNative]] → `AsofJoinExec`): same semantics as [[qAsofJoin]]
    * but planned as a custom physical node — two co-partitioned exchanges,
    * two sorts, one merge scan with a single buffered right row — and it
    * also surfaces the MATCHED order's own timestamp, which the
    * union+window encoding cannot emit without a second pass. Oracle is
    * DuckDB's native ASOF LEFT JOIN.
    */
  private def qAsofNative(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.asofJoinNative(
      asofEvents(s, dir), asofOrders(s, dir),
      Seq("user_id"), Seq("o_user"), "ts_us", "o_us")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_us").as("last_order_us"),
        col("last_order_price"), col("last_order_n"))

  /** The skew-safe salted as-of: identical semantics to [[qAsofNative]]
    * through the hot-key pre-pass (low threshold so the salting machinery
    * actually engages on the sf corpus — most user_ids split across 8
    * salt buckets with the right history replicated per bucket). Hash-
    * compared against the SAME DuckDB ASOF oracle: salting must be
    * invisible in the result.
    */
  private def qAsofSalted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.asofJoinSalted(
      asofEvents(s, dir), asofOrders(s, dir),
      Seq("user_id"), Seq("o_user"), "ts_us", "o_us",
      numSalts = 8, hotKeyThreshold = 50L)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_us").as("last_order_us"),
        col("last_order_price"), col("last_order_n"))

  /** Backward as-of with a 30-day staleness tolerance: an order older than
    * the bound no longer describes the customer's state, so the event gets
    * nulls. The tolerance predicate runs inside the merge scan — no
    * post-join filter pass, no window trick possible.
    */
  private def qAsofTolerance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.asofJoinNative(
      asofEvents(s, dir), asofOrders(s, dir),
      Seq("user_id"), Seq("o_user"), "ts_us", "o_us",
      toleranceUs = 30L * 86400L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_us").as("last_order_us"), col("last_order_price"))

  /** FORWARD as-of within 90 days: each event is joined to the customer's
    * NEXT order at-or-after the event — conversion attribution shape. The
    * forward merge buffers nothing at all: the right cursor parks at the
    * first (key, time) >= the left row and one order can serve many events.
    */
  private def qAsofForward(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.asofJoinNative(
      asofEvents(s, dir), asofOrders(s, dir),
      Seq("user_id"), Seq("o_user"), "ts_us", "o_us",
      toleranceUs = 90L * 86400L * 1000000L, forward = true)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("o_us").as("next_order_us"),
        col("last_order_price").as("next_order_price"))

  /** Keyless point-in-interval join ([[graft.operators.Temporal
    * .pointInIntervalJoin]]): all activity in the 30 minutes after each
    * high-value "anchor" event. No equi-key exists — the bin-exploded
    * equi-join replaces the BroadcastNestedLoopJoin Catalyst would pick for
    * a bare range predicate.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val winUs = 1800L * 1000000L
    val ev = t(s, dir, "events")
      .select(col("event_id"), tsUs.as("ts_us"), col("value"))
    val anchors = ev.filter(col("value") > 300)
      .select(col("event_id").as("anchor_id"), col("ts_us").as("w_start"),
        (col("ts_us") + winUs).as("w_end"))
    graft.operators.Temporal.pointInIntervalJoin(ev, "ts_us", anchors,
      "w_start", "w_end", winUs)
      .groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
  }

  /** Count-min sketch vocabulary profile ([[graft.operators.Sketches]]):
    * the fixed-size (4×1024-cell) frequency summary, probed for the top-50
    * exact tokens so the oracle checks estimate ≥ exact pointwise with
    * exact integer parity on the estimates themselves.
    */
  private def tHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("tok"))
    // ONE corpus scan: exact counts materialize once (vocabulary-sized),
    // then both the weighted sketch and the candidate set derive from them
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .pinned()
    val sketch = graft.operators.Sketches
      .countMinSketchWeighted(counts, "tok", "exact_n")
    val cand = counts.orderBy(col("exact_n").desc, col("tok")).limit(50)
    graft.operators.Sketches.cmsEstimate(cand, sketch, "tok")
  }

  /** DSIR-style importance weights ([[graft.operators.Importance]]) against
    * the English slice as the target distribution.
    */
  private def tDsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.dsirWeights(
      t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
      .withColumnRenamed("id", "doc_id")

  /** Z-order layout maintenance ([[graft.io.Bucketing.compactZOrder]]):
    * rewrite events clustered on the (user, hour) Morton curve, then answer
    * a two-sided box query FROM THE REWRITTEN FILES — the oracle checks
    * losslessness of the rewrite and bit-exact z-value arithmetic (z_sum
    * replays the interleave in SQL); `BucketingSpec` asserts the layout
    * property itself (per-file bounding boxes tight on BOTH dims → file
    * skipping under box predicates).
    */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("zorder").toString
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      expr("ts div 1000 div 3600000000").as("hour_id"), col("value"))
    graft.io.Bucketing.compactZOrder(ev, "user_id", "hour_id", 16, path)
    s.read.parquet(path)
      .filter(col("user_id").between(10, 30) &&
        col("hour_id").between(473400L, 473500L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"),
        sum(graft.functions.KernelExpressions.zValue2(
          col("user_id"), col("hour_id"), 21)).as("z_sum"))
  }

  /** Bucketed-table co-located join ([[graft.io.Bucketing.writeBucketed]]):
    * both join sides are written bucketed+sorted on the order key, so the
    * hinted sort-merge join reads bucket files pairwise with ZERO shuffle
    * exchanges — the layout that stops a recurring 100 TB fact join from
    * re-shuffling per run (`BucketingSpec` pins the exchange-free plan;
    * this row pins the results against the plain-join oracle).
    */
  private def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    graft.io.Bucketing.writeBucketed(li, "graft_bkt_lineitem", 8, Seq("l_orderkey"))
    graft.io.Bucketing.writeBucketed(ord, "graft_bkt_orders", 8, Seq("o_orderkey"))
    s.table("graft_bkt_lineitem").hint("merge")
      .join(s.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_e2"))
  }

  /** Histogram-quantile estimates ([[graft.operators.Sketches
    * .histogramQuantiles]]) of the event value distribution at binWidth 1.
    */
  private def tApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.histogramQuantiles(
      t(s, dir, "events"), "value", 1.0,
      Seq(100, 250, 500, 750, 900, 950, 990, 999))

  /** Rolling range-frame aggregation: per event, activity of the same user
    * in the PRECEDING hour — the event-time feature-engineering window
    * (RANGE frame over the µs timestamp, so duplicate timestamps share a
    * frame identically in both engines; only order-free aggregates — count
    * / max — keep double arithmetic association-independent).
    */
  private def qRollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("max_v_1h", max(col("value")).over(w))
      .drop("value")
  }

  /** CDC merge ([[Transforms.mergeUpsert]]): price corrections for every
    * 10th order plus an insert batch of new keys, latest-wins by version
    * with update-beats-base ties — resolved in ONE keyed window pass, no
    * join.
    */
  private def baseOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        lit(0L).as("version"))

  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val updates = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") + 1000, 2).as("o_totalprice"),
        lit(1L).as("version"))
      .unionByName(t(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit(1.0).as("o_totalprice"), lit(1L).as("version")))
    Transforms.mergeUpsert(baseOrders(s, dir), updates, Seq("o_orderkey"), "version")
  }

  /** Full-CDC merge ([[Transforms.mergeCdc]]): upserts AND deletes in one
    * change batch — a key whose latest change is a delete vanishes even if
    * an older update also touched it (keys divisible by 130 exercise
    * exactly that collision). Same join-free single-shuffle plan as the
    * upsert merge.
    */
  private def qMergeCdc(s: SparkSession, dir: String): DataFrame = {
    val ups = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") + 1000, 2).as("o_totalprice"),
        lit(1L).as("version"), lit("U").as("op"))
    val dels = t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(0.0).as("o_totalprice"),
        lit(2L).as("version"), lit("D").as("op"))
    Transforms.mergeCdc(baseOrders(s, dir), ups.unionByName(dels),
      Seq("o_orderkey"), "version", "op")
  }

  /** Snapshot versioning / time travel ([[graft.io.Versioned]]): the base
    * orders publish as v1, the CDC-merged state as v2; the query reads BOTH
    * snapshots back — v1 by explicit version (time travel), v2 as the
    * published latest — and the oracle checks each against the arithmetic
    * on the source table (so a v2 write that mutated v1's files would
    * fail the v1 row).
    */
  private def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("versioned").toString
    graft.io.Versioned.write(baseOrders(s, dir), path)
    graft.io.Versioned.write(qMergeUpsert(s, dir), path)
    def snap(df: DataFrame, v: Long) = df.agg(
      count(lit(1)).as("n_orders"),
      round(sum(col("o_totalprice")), 2).as("total_price"))
      .select(lit(v).as("snapshot"), col("n_orders"), col("total_price"))
    snap(graft.io.Versioned.read(s, path, Some(1)), 1L)
      .unionByName(snap(graft.io.Versioned.read(s, path), 2L))
  }

  /** Right-to-be-forgotten purge on the versioned store — the privacy
    * workflow every PII-bearing lakehouse needs: delete requests arrive as
    * a KEY SET (customers with custkey % 97 == 0 stand in), the purge is
    * one left-anti join against the current snapshot published as a NEW
    * version (v1 stays immutable for the audit window; retention expiry
    * is a separate file delete). Scale shape: the request set is tiny
    * relative to the table (requests are per-person, tables are
    * per-event), so the anti join broadcasts; the table streams through
    * one narrow pass, nothing shuffles. Output audits both snapshots:
    * requested keys present in v1, ZERO in v2, and the untouched rows'
    * balance sum unchanged except for the purged share.
    */
  private def qRtbfDelete(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("rtbf").toString
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    graft.io.Versioned.write(cust, path)
    val requests = t(s, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val purged = graft.io.Versioned.read(s, path, Some(1))
      .join(broadcast(requests), Seq("c_custkey"), "left_anti")
    graft.io.Versioned.write(purged, path)
    def snap(df: DataFrame, v: Long) = df.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("c_custkey") % 97 === 0, 1L).otherwise(0L)).as("n_requested_remaining"),
      round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .select(lit(v).as("snapshot"), col("n_rows"),
        col("n_requested_remaining"), col("acctbal_sum"))
    snap(graft.io.Versioned.read(s, path, Some(1)), 1L)
      .unionByName(snap(graft.io.Versioned.read(s, path), 2L))
  }

  /** Merge-on-read deletes ([[graft.io.Versioned.writeDeleteVector]]):
    * two RTBF purge batches land as DELETE VECTORS against the published
    * snapshot — O(|keys|) writes, no data-file rewrite — and the
    * merge-on-read path applies their union as one broadcast anti-join
    * at read time. The output audits both views of the SAME version: the
    * plain snapshot read (immutable, unaffected by the vectors) and the
    * merge-on-read view (both batches applied). Complements
    * [[qRtbfDelete]]'s copy-on-write strategy; a compaction `write` of
    * the merged view folds the vectors back in.
    */
  private def qDeleteVectors(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("dv").toString
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    graft.io.Versioned.write(cust, path)
    graft.io.Versioned.writeDeleteVector(
      cust.filter(col("c_custkey") % 97 === 0).select(col("c_custkey")), path)
    graft.io.Versioned.writeDeleteVector(
      cust.filter(col("c_custkey") % 101 === 0).select(col("c_custkey")), path)
    def snap(df: DataFrame, view: String) = df.agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .select(lit(view).as("view"), col("n_rows"), col("acctbal_sum"))
    snap(graft.io.Versioned.read(s, path), "base")
      .unionByName(snap(
        graft.io.Versioned.readMergeOnRead(s, path, Seq("c_custkey")), "mor"))
  }

  /** Snapshot retention ([[graft.io.Versioned.expireVersions]]): three
    * versions publish, retention keeps the newest two, and the output
    * reads back every SURVIVING version's row count — v1's directory (and
    * any delete vectors under it) is gone, numbering never restarts. The
    * expiry itself is pure metadata work (a directory listing + deletes),
    * independent of table size.
    */
  private def qVersionExpire(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("expire").toString
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    graft.io.Versioned.write(cust, path)
    graft.io.Versioned.write(cust.filter(col("c_custkey") % 2 === 0), path)
    graft.io.Versioned.write(cust.filter(col("c_custkey") % 3 === 0), path)
    val expired = graft.io.Versioned.expireVersions(s, path, keepLast = 2)
    require(expired == Seq(1), s"expected v1 expired, got $expired")
    graft.io.Versioned.versions(s, path).map { v =>
      graft.io.Versioned.read(s, path, Some(v))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(v.toLong).as("version"), col("n_rows"))
    }.reduce(_ unionByName _)
  }

  /** Snapshot DIFF between two published versions — the lakehouse
    * change-audit: base publishes as v1, the CDC-merged state as v2, and
    * the diff is ONE full outer join on the key classifying each row as
    * added / removed / changed (unchanged rows drop out). Output is
    * change-sized, not table-sized; at 100 TB the join is the only
    * table-scale work and shuffles on the same key both snapshots
    * already carry. The oracle reruns the merge arithmetic relationally
    * and diffs against the source.
    */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("vdiff").toString
    graft.io.Versioned.write(baseOrders(s, dir), path)
    graft.io.Versioned.write(qMergeCdc(s, dir), path)
    val v1 = graft.io.Versioned.read(s, path, Some(1))
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
    val v2 = graft.io.Versioned.read(s, path)
      .select(col("o_orderkey"), col("o_totalprice").as("new_price"))
    v1.join(v2, Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when(col("old_price").isNull, "added")
          .when(col("new_price").isNull, "removed")
          .when(col("old_price") =!= col("new_price"), "changed")
          .otherwise("unchanged"))
      .where(col("status") =!= "unchanged")
      .select(col("o_orderkey"), col("status"), col("old_price"), col("new_price"))
  }

  /** Schema evolution at the landing zone: early files carry (doc_id,
    * lang), later files add `n_chars`; a `mergeSchema` read unifies them
    * (absent columns null) — the oracle replays the split from the source
    * table.
    */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = scratch("evolve").toString
    val docs = t(s, dir, "documents")
    docs.filter(col("doc_id") < 250).select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$path/part=a")
    docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$path/part=b")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        count(col("n_chars")).as("n_evolved"),
        sum(coalesce(col("n_chars"), lit(0L))).as("chars_evolved"))
  }

  /** CROSS-corpus LM scoring: the model trains on the first half of the
    * corpus (doc_id < 250) and scores ALL documents, so unseen bigrams in
    * the held-out half exercise the left-join/coalesce(0) path — the
    * decontamination-adjacent use [[graft.operators.NgramLm.lmScore]]
    * declares (t_lm_score self-trains and never hits it).
    */
  private def tLmCross(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.operators.NgramLm.charBigramModel(
      docs.filter(col("doc_id") < 250), "doc_id", "lang", "text")
    graft.operators.NgramLm.lmScore(docs, "doc_id", "lang", "text", model)
      .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"), col("lm_score"))
  }

  /** KMV distinct-vocabulary estimates per language
    * ([[graft.operators.Sketches.kmvDistinct]]) with the exact count riding
    * the same aggregation for calibration.
    */
  private def tDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("lang"), explode(
      graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("tok"))
    graft.operators.Sketches.kmvDistinct(toks, "lang",
      Dedup.shingleHash(col("tok")), k = 16)
  }

  /** Per-source KMV vocabulary sketches MERGED into the global distinct
    * estimate ([[graft.operators.Sketches.kmvMergedDistinct]]) — the
    * mergeable-sketch layout (per-shard sketches unioned without
    * revisiting rows) run as a query, with the exact counts riding the
    * same scan for calibration.
    */
  private def tKmvUnion(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"), explode(
      graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("tok"))
    graft.operators.Sketches.kmvMergedDistinct(toks, "source",
      Dedup.shingleHash(col("tok")), k = 16)
  }

  /** Sketch-estimated vocabulary overlap between sources
    * ([[graft.operators.Sketches.kmvSetSimilarity]]): pairwise Jaccard of
    * per-source word vocabularies from the same k-min sketches the
    * distinct estimator keeps, exact Jaccard alongside for calibration —
    * the kilobytes-per-shard answer to [[cSourceOverlap]]'s question.
    */
  private def tKmvJaccard(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"), explode(
      graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("tok"))
    graft.operators.Sketches.kmvSetSimilarity(toks, "source",
      Dedup.shingleHash(col("tok")), k = 64)
      .withColumnRenamed("g_a", "src_a").withColumnRenamed("g_b", "src_b")
  }

  /** Token-mixture sampling ([[graft.operators.Importance.mixtureSample]]):
    * a 5:3:2 token recipe over three sources, scaled to the largest total
    * the corpus supplies.
    */
  private def cMixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.mixtureSample(
      t(s, dir, "documents"), "doc_id", "source",
      TextAnalysis.tokenCount(col("text")).cast("long"),
      Seq(("src0", 5L), ("src1", 3L), ("src2", 2L)))
      .withColumnRenamed("id", "doc_id")

  /** Temperature-sampled corpus mixture (α=0.5 — sqrt is IEEE-754
    * correctly rounded, so the floor'd integer weights are bit-identical
    * cross-engine; general pow is 1-ulp libm-dependent and can flip a
    * weight at a floor boundary): per-source token masses → α-smoothed
    * integer weights ([[graft.operators.Importance.temperatureWeights]],
    * one agg, one row per source to the driver) → the deterministic
    * hash-ordered token-budget selection of [[cMixtureSample]]. The
    * tokenized projection is checkpointed once and feeds BOTH the weight
    * pass and the selection (no second whitespace-split scan). Output is
    * the per-source accounting (weight, budget, kept docs/tokens), so the
    * oracle checks the whole weight→budget→selection chain.
    */
  private def cTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .pinned(true) // read by the weight pass + twice in selection
    val tok = col("n_tok")
    val w = graft.operators.Importance.temperatureWeights(docs, "source", tok, 0.5)
    // empty corpus → no sources → empty mixture (mixtureSample's weights
    // contract requires non-empty; the short-circuit keeps the schema)
    if (w.isEmpty) {
      import s.implicits._
      return Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("source", "w", "budget", "kept_docs", "kept_tokens")
    }
    val wTable = s.createDataFrame(w).toDF("source", "w")
    graft.operators.Importance.mixtureSample(docs, "doc_id", "source", tok, w)
      .groupBy("source").agg(
        count(lit(1)).as("kept_docs"),
        sum(col("n_tokens")).as("kept_tokens"),
        max(col("budget")).as("budget"))
      .join(wTable, Seq("source"))
      .select(col("source"), col("w"), col("budget"),
        col("kept_docs"), col("kept_tokens"))
  }

  /** END-TO-END curation pipeline as ONE composed plan — the shape this
    * engine actually runs at 100 TB: quality gate → PII scrub → line-level
    * boilerplate removal → near-dup clustering (MinHash-LSH + connected
    * components, keep the min-id representative per cluster) → per-language
    * token-budget selection metered in real BPE tokens. Every stage is
    * individually green elsewhere (t_quality_filter, t_redact, d_line_dedup,
    * d_neardup_components, t_token_budget); this row proves the COMPOSITION
    * holds in one plan: the curated frame materializes exactly once
    * (localCheckpoint — it feeds LSH banding, shingle verification, cluster
    * resolution, and the final selection), pair generation stays
    * ids-only/capped, and no stage introduces a cartesian or nested-loop
    * join (PlanSpec blanket assertion covers this query).
    *
    * Planted inputs give every stage real work: every 5th doc gains a
    * boilerplate footer (stripped by line dedup), every 7th a contact email
    * (scrubbed to &lt;EMAIL&gt;).
    */
  private def cCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(". all rights reserved worldwide"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(". contact admin"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit(""))).as("text"))
    // Stage 1: C4/Gopher composite quality gate. The score is computed on
    // the raw (pre-scrub) text and rides through as the final selection key.
    val gated = planted
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("dup3", round(TextAnalysis.duplicateNgramFraction(col("text"), 3), 6))
      .withColumn("n_ws", TextAnalysis.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.25 && col("dup3") <= 0.2 && col("n_ws") >= 5)
      .select(col("doc_id"), col("lang"), col("quality"), col("text"))
    // Stage 2: PII scrub (same narrow codegen'd stage as t_redact).
    // Persisted: the subtree below (line dedup's sentence explode + df
    // count + reassembly, plus the id join) consumes it three times inside
    // the single checkpoint job — without the persist the gate kernels and
    // regexes re-run per consumer.
    val scrubbed = gated.withColumn("text", TextAnalysis.redactPii(col("text")))
      .persist()
    // Stage 3: corpus-frequent line removal; `curated` is the one
    // materialization point of the whole pipeline.
    val curated = scrubbed.drop("text")
      .join(Dedup.lineDedup(scrubbed, "doc_id", "text", maxDf = 5)
        .select(col("id").as("doc_id"), col("clean_text").as("text")), "doc_id")
      .pinned()
    scrubbed.unpersist() // curated is materialized; the scrub tree is done
    // Stage 4: near-dup clusters over the CLEANED text; keep representatives.
    val pairs = Dedup.minhashLshPairs(curated, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
    val reps = curated.join(
      Dedup.connectedComponents(curated, "doc_id", pairs)
        .filter(col("comp") === col("id")).select(col("id").as("doc_id")), "doc_id")
    // Stage 5: per-language token budget in REAL BPE tokens of the clean
    // text — the scan device (see tTokenBudget), no per-language window.
    graft.operators.Scan.groupedPrefixSum(
        reps.withColumn("n_tokens", TextAnalysis.bpeTokenCount(col("text")))
          .withColumn("_nt", col("n_tokens").cast("long")),
        Seq("lang"), Seq(col("quality").desc, col("doc_id")),
        "_nt", "cum_tokens", "_tot")
      .filter(col("cum_tokens") <= 2000L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
  }

  /** Per-domain document cap — the anti-boilerplate mixture guard (no
    * single domain may contribute more than N documents). Uses the salted
    * two-phase top-N ([[Transforms.topNPerKey]]): a hot domain's rows rank
    * inside salt buckets first, so one domain owning 10% of the corpus
    * cannot serialize into a single straggler task the way a plain
    * `row_number over (partition by domain)` does.
    */
  private def cDomainCap(s: SparkSession, dir: String): DataFrame =
    Transforms.topNPerKey(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), Seq(col("n_chars").desc, col("doc_id")), 20,
      col("doc_id"), salts = 16)
      .select(col("doc_id"), col("source"), col("rk"))

  /** Decontamination with a BLOOM pre-filter — identical output to
    * [[cDecontaminate]] (the oracle replays the exact formulation), but the
    * training-side n-gram stream probes a driver-built Bloom filter
    * (`df.stat.bloomFilter` over the eval grams, ~1.2 MB at fpp 1%) BEFORE
    * any join: at 100 TB only ~fpp of the corpus grams plus the true
    * overlaps reach the exact verify semi-join, turning a corpus-wide
    * shuffle/broadcast join into a narrow codegen'd scan. False positives
    * are removed by the verify join; false negatives cannot occur.
    */
  private def cDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("g"))
    val docs = t(s, dir, "documents")
    val evalGrams = grams(docs.filter(col("doc_id") < 10)).select("g").distinct()
    val train = docs.filter(col("doc_id") >= 10)
    // an EMPTY eval set yields a null-buffer bloom (stat.bloomFilter over
    // zero rows) whose might_contain NPEs — and semantically there is
    // nothing to decontaminate against: pass training through unchanged
    if (evalGrams.limit(1).count() == 0L)
      return train.select(col("doc_id"), col("lang"))
    val bloom = evalGrams.stat.bloomFilter("g", 200000L, 0.01)
    val suspects = grams(train)
      .filter(graft.functions.KernelExpressions.bloomMightContain(col("g"), bloom))
    val evalHinted =
      if (evalGrams.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(Transforms.BroadcastGateBytes)) broadcast(evalGrams)
      else evalGrams
    val contaminated = suspects.join(evalHinted, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }

  /** Shared-passage pairs via winnowed fingerprints ([[Dedup.winnowPairs]]):
    * the position-robust complement to whole-document LSH — a paragraph
    * planted into every 11th document pairs those docs even though their
    * overall similarity is tiny. Planted input gives the operator real
    * work beyond natural overlaps.
    */
  private def dWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 11 === 0,
          lit(" the shared boilerplate passage that winnowing must catch"))
          .otherwise(lit(""))).as("text"))
    Dedup.winnowPairs(planted, "doc_id", "text")
  }

  /** Cross-modal consistency audit: every text near-dup pair (MinHash-LSH,
    * exact-Jaccard verified) annotated with the cosine of the SAME ids'
    * embeddings — the check that a text-level duplicate is also an
    * embedding-level near-neighbor (disagreement flags stale or noisy
    * embeddings before they poison semantic dedup). The pair set is tiny
    * relative to the corpus, so the embedding fetch is candidates-only —
    * same fetch-on-verify shape as the dedup verifies.
    */
  private def cCrossModal(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text")
      // the verified pair list is tiny (near-dups are rare by definition);
      // materializing it keeps the two embedding fetches from re-running
      // the whole minhash chain once per join side
      .pinned()
    val emb = t(s, dir, "embeddings")
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(graft.functions.KernelExpressions.vecCosine(col("va"), col("vb")), 6)
          .as("cosine"))
  }

  /** Cross-source overlap matrix — which sources duplicate each other (the
    * mixture-dedup audit run before weighting a data mix): distinct word
    * 3-grams per source, self-joined on the gram, counted per source pair,
    * with the overlap coefficient as an exact 1e-6-scaled integer
    * (shared div min(|A|,|B|)). Scale shape: the (gram, source) table is
    * DISTINCT — bounded by vocabulary × sources, not corpus rows — and a
    * gram joins at most #sources² pairs, so unlike document-level LSH there
    * is no quadratic blow-up to cap; the corpus text is read once, narrow.
    */
  private def cSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val grams = t(s, dir, "documents").select(col("source"),
        explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("g"))
      .distinct()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = grams.select(col("g"), col("source").as("src_a"))
    val b = grams.select(col("g").as("g2"), col("source").as("src_b"))
    a.join(b, col("g") === col("g2") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        expr("shared_grams * 1000000 div least(na, nb)").as("overlap_e6"))
  }

  /** Char-bigram LM quality score ([[graft.operators.NgramLm]]): the
    * CCNet-style perplexity-filter signal, self-trained on the corpus and
    * kept integer-exact (1e-6-scaled smoothed conditional probabilities,
    * integer mean per doc) so the oracle replays it bit for bit.
    */
  private def tLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.operators.NgramLm.charBigramModel(docs, "doc_id", "lang", "text")
    graft.operators.NgramLm.lmScore(docs, "doc_id", "lang", "text", model)
      .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"), col("lm_score"))
  }

  /** CCNet-style head/middle/tail buckets over the self-trained LM score
    * ([[graft.operators.NgramLm.scoreTertiles]]): per-language exact rank
    * tertiles from a score histogram — no per-language document sort, no
    * ntile. The oracle replays the histogram, the cumulative cut, and the
    * value-based assignment.
    */
  private def tCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    graft.operators.NgramLm.scoreTertiles(
        tLmScore(s, dir).select(col("doc_id"), col("lang"), col("lm_score")),
        "lang", "lm_score")
      .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket"))
  }

  /** Incremental near-dup against a MATERIALIZED LSH index
    * ([[Dedup.writeLshIndex]] / [[Dedup.lshPairsAgainstIndex]]): docs < 400
    * are indexed once (bands partitioned by band + shingle table), the rest
    * arrive as the "new batch" and join the stored bands — the daily-ingest
    * layout where the indexed corpus is never re-signed. The oracle replays
    * the full minhash chain restricted to (indexed × new) pairs.
    */
  private def dLshIndexPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = scratch("lsh_idx").toString
    Dedup.writeLshIndex(docs.filter(col("doc_id") < 400), "doc_id", "text", path)
    Dedup.lshPairsAgainstIndex(s, docs.filter(col("doc_id") >= 400),
      "doc_id", "text", path)
  }

  /** Int8-quantized flat ANN with exact rescore ([[Similarity.quantizedTopK]]):
    * the compressed-index scan + fetch-on-verify pattern. Exactness of the
    * FINAL ranks is over the quantized candidate set; the oracle replays the
    * quantization arithmetic (floor(x*scale+0.5)) bit for bit.
    */
  private def eQuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.quantizedTopK(e.filter(col("vec_id") < 5), e, "vec_id",
      "embedding", k = 10, candidates = 30)
  }

  /** Binary (1-bit sign) quantized flat ANN with exact rescore
    * ([[Similarity.binaryTopK]]): the packed-bit Hamming scan — 1/32 of the
    * float bytes read per candidate pass — then fetch-on-verify cosine. The
    * oracle replays the Hamming ranking WITHOUT packing: popcount(xor) of
    * sign words equals the count of positions whose sign bits differ, so
    * the per-position `(q_i > 0) <> (c_i > 0)` sum is the same integer.
    */
  private def eBinaryTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.binaryTopK(e.filter(col("vec_id") < 5), e, "vec_id",
      "embedding", k = 10, candidates = 30)
  }

  /** Cluster profile of the trained coarse quantization
    * ([[Similarity.clusterProfile]]): per-cell population and mean cosine —
    * the corpus-mixture / IVF-balance audit over the same frozen centroids
    * as e_ivf_trained_topk.
    */
  private def eClusterProfile(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterProfile(t(s, dir, "embeddings"), "embedding",
      graft.operators.TrainedCentroids.sf001)

  /** Embedding-distribution drift between the even/odd vec_id slices over
    * the trained cells ([[Similarity.cellDrift]]) — the vector-side dual
    * of `t_js_divergence`. Exact ppm shares (slice sizes divide 1e6 at
    * every sf), so the oracle replays the arithmetic bit for bit.
    */
  private def eCellDrift(s: SparkSession, dir: String): DataFrame =
    Similarity.cellDrift(t(s, dir, "embeddings"), "vec_id", "embedding",
      graft.operators.TrainedCentroids.sf001)

  /** Clustering-quality audit: centroid-based silhouette per trained
    * cell — [[Similarity.silhouetteProfile]]'s one-pass sorted centroid
    * scan (own and nearest-other distance from array positions 1 and 2).
    */
  private def eSilhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.silhouetteProfile(t(s, dir, "embeddings"), "embedding",
      graft.operators.TrainedCentroids.sf001)

  /** ORC round-trip: the events table written to ORC and read back through
    * the ORC scan path, aggregated. Proves the columnar-format surface
    * beyond parquet (same Catalyst pruning/pushdown contract).
    */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("orc").toString
    t(s, dir, "events").write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** Hive-style partitioned layout round-trip: events written
    * `partitionBy(event_type)` and read back filtered to ONE type — the
    * filter must resolve at PLANNING time against the directory structure
    * (PartitionFilters, zero data files of other types opened; asserted
    * in `PlanSpec`). The directory-per-value layout is the third
    * data-skipping device next to `Bucketing`'s min/max footers and the
    * z-order rewrite: coarse categorical pruning before any footer is
    * read.
    */
  private def qPartitionedPrune(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("partp").toString
    val pre = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type").as("etype"))
    pre.write.mode("overwrite").partitionBy("etype").parquet(tmp)
    // explicit schema: empty-in writes no files → inference would fail
    s.read.schema(pre.schema).parquet(tmp)
      .where(col("etype") === "purchase")
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** JSON-lines round-trip with an EXPLICIT read schema (inference would
    * scan the input twice — never at 100 TB). Doubles survive exactly:
    * Spark writes shortest-round-trip representations.
    */
  private def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("jsonl").toString
    val ev = t(s, dir, "events")
    ev.write.mode("overwrite").json(tmp)
    s.read.schema(ev.schema).json(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** Corrupt-record quarantining ingest: a 100 TB landing zone always
    * contains mangled shards, and a full-job abort on one bad line is not
    * an option. The documents table is rendered to JSONL with every 13th
    * record REPLACED by an unparseable line, then read back in PERMISSIVE
    * mode with `_corrupt_record` — malformed lines survive as quarantined
    * rows (all data fields null, raw line captured) instead of killing the
    * read, and the audit rolls them up under `_corrupt`. The oracle
    * replays the plant arithmetically: parsed rows group by their source,
    * corrupt rows count with a null char sum. Narrow end to end — parse,
    * quarantine, and aggregate fuse into the scan; no shuffle beyond the
    * final rollup.
    */
  private def qBadRecords(s: SparkSession, dir: String): DataFrame = {
    // One FIXED scratch dir per (source sf dir, JVM), overwritten on every
    // run — a fresh createTempDirectory would leak one planted copy per
    // invocation, while a path shared ACROSS JVMs would let a concurrent
    // Bench and Verify overwrite each other mid-scan (the pid keeps
    // simultaneous processes apart; within one JVM overwrite is safe
    // because queries run sequentially). Driver-local path: correct in
    // local mode (where Verify/Bench run); on a cluster the plant would go
    // to shared storage.
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_badrec_${dir.hashCode.toHexString}_p${ProcessHandle.current().pid()}").toString
    t(s, dir, "documents")
      .select(when(col("doc_id") % 13 === 0,
          concat(lit("NOT_JSON#"), col("doc_id").cast("string")))
        .otherwise(to_json(struct(col("doc_id"), col("source"), col("n_chars"))))
        .as("value"))
      .write.mode("overwrite").text(tmp)
    s.read
      .schema("doc_id LONG, source STRING, n_chars LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .groupBy(coalesce(col("source"), lit("_corrupt")).as("src"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars_sum"))
  }

  // ------------------------------------------------------------------
  // Streaming queries under the oracle gate: the stream RUNS (availableNow
  // / micro-batches) and its OUTPUT is hash-compared to the DuckDB batch
  // oracle — stream/batch equivalence as a correctness row, not just a test
  // ------------------------------------------------------------------

  /** All query scratch (streaming landing dirs, checkpoints, sink
    * outputs, and the batch queries' planted fixture dirs — versioned
    * stores, index layouts, round-trip files) lives under ONE per-JVM
    * root on tmpfs when available (/dev/shm): the
    * availableNow drains write dozens of small checkpoint/commit files per
    * query, and on this host's disk those writes land inside multi-minute
    * I/O-stall windows (SCALING.md) — tmpfs takes both the fixed cost and
    * the noise out. Deleted recursively on JVM exit, so repeated bench /
    * verify invocations no longer leak one fixture dir per run (nor
    * accumulate in shared memory).
    */
  private lazy val streamScratchRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Paths, Path}
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
    }
    // tmpfs is shared memory: only use it when there is comfortable
    // headroom for the per-sf fixture copies + checkpoints (a larger-sf
    // run must degrade to disk, not exhaust /dev/shm for the whole host);
    // GRAFT_SCRATCH_DIR overrides the choice entirely.
    val MinUsableBytes = 4L << 30
    val shm = Paths.get("/dev/shm")
    def usable(p: Path): Long =
      try Files.getFileStore(p).getUsableSpace catch { case _: Exception => 0L }
    val base = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_)).getOrElse {
      if (Files.isDirectory(shm) && Files.isWritable(shm) &&
          usable(shm) >= MinUsableBytes) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    }
    // sweep roots leaked by prior JVMs that died without running their
    // shutdown hook (SIGKILL) — the PID in the dir name says whose it was
    val pid = ProcessHandle.current().pid()
    try {
      val stream = Files.list(base)
      try stream.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.startsWith("graft_scratch_p")) {
          val owner = name.stripPrefix("graft_scratch_p").takeWhile(_.isDigit)
          val alive = owner.nonEmpty &&
            ProcessHandle.of(owner.toLong).map[Boolean](_.isAlive).orElse(false)
          if (!alive) rm(p.toFile)
        } else if (name.startsWith("graft_stream_scratch")) {
          // pre-PID-naming leak from older builds (no liveness check
          // possible — those JVMs predate this code, so they are gone)
          rm(p.toFile)
        }
      } finally stream.close()
    } catch { case _: Exception => () } // sweep is best-effort
    val root = Files.createTempDirectory(base, s"graft_scratch_p${pid}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root.toFile)))
    root
  }
  private def scratch(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(streamScratchRoot, prefix)

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

  /** Assembled READ-ONLY landing dirs (multi-file copies, sentinel files
    * with pinned mtimes) built once per (query kind, sf dir) per JVM:
    * landing assembly is test-fixture prep, not part of the drain being
    * measured, and the sentinel builds used to cost the heavy streams an
    * extra ~1s every invocation. Dirs that a query MUTATES (ingest-dedup's
    * digest log, sink output dirs) stay per-invocation fresh.
    */
  private val builtLandingCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def assembledLanding(key: String)(build: java.nio.file.Path => Unit): String =
    builtLandingCache.computeIfAbsent(key, { _ =>
      val d = scratch(key.replaceAll("[^A-Za-z0-9]", "_"))
      build(d)
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

  /** STREAMING sample-ratio-mismatch guardrail — the continuous dual of
    * [[qAbSrmCheck]]: per 6-hour tumbling window, the same deterministic
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

  /** Row-level quarantine split ([[graft.operators.Expectations
    * .quarantine]]) — the dead-letter routing next to [[qExpectations]]'s
    * table-level report: each order passes or lands in exactly ONE
    * quarantine bucket (first failing check in declaration order), counts
    * per disposition. One projection + one FK join — no per-check scan.
    */
  private def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    quarantine(t(s, dir, "orders"), Seq(
      Completeness("o_custkey"),
      Bounds("o_totalprice", 0.0, 100000.0),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
      .groupBy(coalesce(col("quarantine_reason"), lit("pass")).as("disposition"))
      .agg(count(lit(1)).as("n"))
  }

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

  /** Stream-static ANTI-JOIN under the oracle gate
    * ([[graft.streaming.Streaming.antiJoinUploaded]]): the transactional
    * activation dedup as a stream — events whose ids are already in the
    * static uploaded set are dropped per micro-batch, state-free. The
    * drained output must equal the batch NOT-EXISTS the oracle runs.
    */
  private def sAntiJoinStream(s: SparkSession, dir: String): DataFrame = {
    val landing = sharedLanding(dir, "events")
    drainToMemory(s, dir, "s_anti_join", OutputMode.Append()) { c =>
      val uploaded = t(c, dir, "events")
        .filter(col("event_id") % 3 === 0).select(col("event_id"))
      graft.streaming.Streaming
        .antiJoinUploaded(graft.streaming.Streaming.readParquetStream(c, landing),
          uploaded, Seq("event_id"))
        .select(col("event_id"), col("event_type"))
    }.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
  }

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

  // ------------------------------------------------------------------
  // Pipeline-level queries: the engine itself under the oracle gate
  // ------------------------------------------------------------------

  /** SURVEY §7.2 minimum end-to-end slice as an oracle query: the OCI branch
    * runs TWICE over an events-derived source through the real pipeline
    * (config parse → branch plan → anti-join → batching → renderer →
    * transport → `_uploaded` writeback); run 1 uploads every row, run 2's
    * anti-join excludes them all. Output (run, uploaded) is deterministic,
    * so the DuckDB oracle states the fixpoint: (1, count(*)), (2, 0).
    */
  private def pPipelineIdempotence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = scratch("idem").toString
    val src = s"$tmp/conversions.parquet"
    t(s, dir, "events")
      .select(col("event_id").cast("string").as("gclid"),
        date_format(timestamp_micros(tsUs), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("time"),
        col("value").cast("string").as("amount"))
      .write.mode("overwrite").parquet(src)
    val config = s"""{
      "GoogleAdsAccountId": "1234567890",
      "Sources": [{"Name": "oci src", "Type": "FILE", "Dataset": "parquet", "Table": "$src"}],
      "Destinations": [{"Name": "oci dst", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["Conv1"]}],
      "Connections": [{"Enabled": true, "Source": "oci src", "Destination": "oci dst"}]
    }"""
    val executions = graft.config.JsonConfigSource.fromString(config).executions()
    val opts = graft.pipeline.PipelineOptions(
      transport = graft.sink.FileTransport(s"$tmp/out"))
    val run1 = graft.pipeline.Pipeline.run(s, executions, opts)
    val run2 = graft.pipeline.Pipeline.run(s, executions, opts)
    Seq((1L, run1.totalUploaded), (2L, run2.totalUploaded)).toDF("run", "uploaded")
  }

  /** Branch-registry conformance: one row per destination branch with the
    * constants lifted from the reference's step definitions — the oracle is
    * the literal table, so any registry drift fails the hash match (the
    * Spark-side analog of the reference's graph test,
    * `steps/processing_steps_test.py:31-37`).
    */
  private def pBranchRegistry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Branches.all.map { b =>
      (b.destinationType.name, b.batchSize.toLong, b.readTransactional.name,
        b.writebackTransactional.map(_.name).getOrElse("NONE"),
        b.hasher.isDefined, b.rateLimitPerSec.map(_.toLong).getOrElse(0L))
    }.toDF("destination_type", "batch_size", "read_transactional",
      "writeback_transactional", "hashed", "rate_limit")
  }

  // ------------------------------------------------------------------
  // Multidimensional OLAP surface: grouping sets and pivot
  // ------------------------------------------------------------------

  /** GROUPING SETS over lineitem — detail, per-returnflag subtotal, and
    * grand total in ONE aggregation pass. Catalyst expands the sets into a
    * single Expand + hash-aggregate (one shuffle for all three granularities
    * — at 100 TB this replaces three separate scans+aggs with one), and
    * `grouping_id()` disambiguates the subtotal rows exactly like the
    * engine-native GROUPING() bitmask the oracle replays.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))

  /** Pivot events into one column per event type with an EXPLICIT value
    * list: `pivot(col, values)` compiles to a single conditional-aggregation
    * pass (no distinct-values pre-scan, no second shuffle — the
    * implicit-values overload would run a collect() over 100 TB first).
    * The oracle replays it as FILTERed aggregates, the relational dual.
    */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((col("user_id") % 100).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))

  // ------------------------------------------------------------------
  // Text retrieval: TF-IDF keywords, BM25 ranked search
  // ------------------------------------------------------------------

  /** Per-language top-10 keywords by TF-IDF
    * ([[graft.operators.Retrieval.tfidfKeywords]]): tf over (lang, term),
    * df over distinct documents, rank window over vocabulary-sized input.
    */
  private def tTfidfKeywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfidfKeywords(
      t(s, dir, "documents"), "doc_id", "lang", "text", k = 10)
      .withColumnRenamed("grp", "lang")

  /** BM25 top-20 for a three-term query
    * ([[graft.operators.Retrieval.bm25TopK]]): the token stream is
    * term-filtered before any shuffle; the oracle replays the exact
    * floating-point formula with matching association order.
    */
  private def tBm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("vector", "stream", "merge"), k = 20)
      .withColumnRenamed("id", "doc_id")

  /** Retrieval EVALUATION: nDCG@5/@10 of the BM25 ranking against
    * BM25-independent relevance grades (rel = distinct query terms the
    * document contains, 1..3) — the ranking-quality metric beside the
    * classifier's `t_lr_auc` and the langid confusion matrix. DCG terms
    * are rounded to 9 dp BEFORE the fold (both engines' libm log2 can
    * differ in the last ulp) and folded in RANK ORDER over a sorted
    * array, so the float association is cross-engine identical. The
    * ideal ranking is a TakeOrderedAndProject top-10 (rel desc, id) with
    * the row_number window running over the ≤10 post-limit rows —
    * never a data-scale sort; DCG/IDCG ride 1-row aggregate scalars
    * through the audited broadcast shape.
    */
  private def tNdcg(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("vector", "stream", "merge")
    val ranked = graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
      "doc_id", "text", terms, k = 10)
      .select(col("id"), col("rank").cast("int").as("rank"))
    val rel = t(s, dir, "documents").select(col("doc_id").as("id"),
      explode(graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("id")).agg(countDistinct(col("term")).as("rel"))
    def gain(relC: Column, rankC: Column): Column =
      round((pow(lit(2.0), relC) - 1.0) / log2(rankC + lit(1.0)), 9)
    val rankedG = ranked.join(rel, "id")
      .select(col("rank"), gain(col("rel"), col("rank")).as("g"))
    val w10 = org.apache.spark.sql.expressions.Window
      .orderBy(col("rel").desc, col("id"))
    val ideal = rel.orderBy(col("rel").desc, col("id")).limit(10)
      .withColumn("rank", row_number().over(w10))
      .select(col("rank"), gain(col("rel"), col("rank")).as("g"))
    def foldAt(k: Int): Column = {
      val arr = sort_array(collect_list(when(col("rank") <= k,
        struct(col("rank"), col("g")))))
      round(aggregate(arr, lit(0.0), (acc, x) => acc + x.getField("g")), 6)
    }
    val dcg = rankedG.agg(count(lit(1)).cast("long").as("n_ranked"),
      foldAt(5).as("dcg_5"), foldAt(10).as("dcg_10"))
    val idcg = ideal.agg(foldAt(5).as("idcg_5"), foldAt(10).as("idcg_10"))
    dcg.crossJoin(idcg)
      .filter(col("n_ranked") > 0) // empty corpus: no ranking, no row
      .select(col("n_ranked"),
        round(col("dcg_5") / col("idcg_5"), 6).as("ndcg_5"),
        round(col("dcg_10") / col("idcg_10"), 6).as("ndcg_10"))
  }

  /** Hybrid retrieval: BM25 top-30 (sparse) fused with dense cosine top-30
    * for query vector 0 by reciprocal-rank fusion
    * ([[graft.operators.Retrieval.rrfFuseTopK]]) — both retrievers end in
    * TakeOrderedAndProject, the fusion itself is a two-×-30-row full-outer
    * join. Scores are 1/(60+rank) sums of integer-exact ranks, so the
    * oracle matches bit for bit.
    */
  private def tHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val sparse = graft.operators.Retrieval.bm25TopK(
      t(s, dir, "documents"), "doc_id", "text",
      Seq("vector", "stream", "merge"), k = 30)
    val emb = t(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb,
      "vec_id", "embedding", k = 30)
      .select(col("neighbor_id").as("id"), col("rank").cast("long").as("rank"))
    graft.operators.Retrieval.rrfFuseTopK(
      sparse.select(col("id"), col("rank")), dense, "id", "rank", k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  /** Recall@10 of the SRP multi-probe ANN against the exact brute-force
    * ranking ([[Similarity.annRecall]]) — the parameter-tuning harness run
    * as a query: both top-k tables come from the same operators as
    * e_ann_srp_topk / e_cosine_topk, and the oracle replays both paths.
    */
  private def eAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
    val ann = Similarity.srpTopK(q, emb, "vec_id", "embedding", k = 10,
      numPlanes = 12, dim = 64, probeRadius = 4)
    Similarity.annRecall(exact, ann)
  }

  /** Product-quantized ADC top-10 ([[graft.operators.Pq.pqTopK]]) over the
    * frozen sf0.01 codebooks ([[graft.operators.TrainedPq]]): the corpus
    * scan reads 4 int codes per vector instead of 64 floats; the oracle
    * replays encode + ADC bit-exactly (subtract/multiply/add folds only).
    */
  private def ePqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.pqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedPq.sf001, k = 10)
  }

  /** Exact-substring duplication coverage ([[Dedup.dupSpanStats]], 5-token
    * windows): per doc, windows shared with ANY other document and the
    * token positions they cover — the Lee-et-al. exact-dup contamination
    * metric as one query.
    */
  private def dDupSpanStats(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text", w = 5)
      .withColumnRenamed("id", "doc_id")

  /** IVF-PQ composition ([[graft.operators.Pq.ivfPqTopK]]): trained coarse
    * cells prune the probe to an equi-join, trained PQ codes compress the
    * scanned payload — the two frozen artifacts composed into the
    * cell-pruned code-scan layout.
    */
  private def eIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPq.sf001, k = 10, nprobe = 2)
  }

  /** Residual IVF-PQ ([[graft.operators.Pq.ivfPqResidualTopK]]): corpus
    * codes quantize (vector − coarse centroid) under residual-trained
    * codebooks ([[graft.operators.TrainedPqResidual]]) and queries compare
    * per probed cell against their own residual — the textbook Jégou '11
    * layout next to `e_ivfpq_topk`'s raw-vector codes. The oracle replays
    * cell assignment, residual subtraction, encode, and ADC bit for bit.
    */
  private def eIvfPqResidualTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.ivfPqResidualTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPqResidual.sf001, k = 10, nprobe = 2)
  }

  /** CSV round-trip with an explicit read schema (the third columnar/text
    * format surface next to ORC and JSONL): quoting survives, doubles
    * round-trip via shortest representation, and no inference scan runs.
    */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("csv").toString
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    ev.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.schema(ev.schema).option("header", "true").csv(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** TPC-H-Q13-shaped customer distribution: LEFT OUTER join keeps
    * zero-order customers (counted via the non-null key), then a second
    * aggregation histograms the counts — the canonical outer-join +
    * double-agg shape. Both aggs are map-side combinable; the join
    * broadcasts nothing and shuffles on the customer key once.
    */
  private def q13CustDist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))

  /** Lead/lag event-sequence features: per user, the µs gap since the
    * previous event and the type of the next one — one sort within the
    * user partition serves both window functions.
    */
  private def qLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(tsUs, 1).over(w))
      .withColumn("gap_us", tsUs - col("prev_ts"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("gap_us"), col("next_type"))
  }

  /** End-to-end EMBEDDING pipeline composed in one plan — the vector-side
    * dual of `c_curation_pipeline`: SemDeDup drops semantic duplicates
    * ([[Dedup.semDedupKeep]], trained cells → within-cell cosine pairs →
    * components → min-id representative), the surviving corpus is PQ-coded
    * and searched cell-pruned ([[graft.operators.Pq.ivfPqTopK]]) by raw
    * queries. Proves the dedup keep-set, coarse quantizer, and sub-
    * quantizer compose without a plan blowup; the oracle replays every
    * stage (recursive reachability + encode + ADC) in one statement.
    */
  private def cEmbeddingPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val kept = Dedup.semDedupKeep(emb, "vec_id", "embedding",
      centroids = graft.operators.TrainedCentroids.sf001, threshold = 0.45)
      .select(col("id").as("vec_id"))
    val corpus = emb.join(kept, Seq("vec_id"), "left_semi")
    graft.operators.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5), corpus,
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPq.sf001, k = 10, nprobe = 2)
  }

  /** Materialized IVF-PQ index variant ([[graft.operators.Pq.writePqIndex]]
    * / [[graft.operators.Pq.pqIndexTopK]]): semantically identical to
    * e_ivfpq_topk — same oracle — with cell + codes read back from the
    * cell-partitioned files instead of recomputed.
    */
  private def ePqIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = scratch("pq_idx").toString + "/index"
    graft.operators.Pq.writePqIndex(emb, "vec_id", "embedding",
      graft.operators.TrainedCentroids.sf001, graft.operators.TrainedPq.sf001, path)
    graft.operators.Pq.pqIndexTopK(s, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPq.sf001, path, k = 10, nprobe = 2)
  }

  /** Span-level contamination scrub ([[Dedup.dupSpanScrub]], 5-token
    * windows): duplicated spans removed, documents rebuilt in token order.
    */
  private def dDupSpanScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanScrub(t(s, dir, "documents"), "doc_id", "text", w = 5)
      .withColumnRenamed("id", "doc_id")

  /** Deterministic epoch shuffle + sharding for training-data serving:
    * every document hash-ordered into one of 8 shards with a stable
    * within-shard position. Reshuffling an epoch = changing the hash salt;
    * no RNG state, so any engine (and any rerun) produces the same order.
    * Within-shard positions ride [[graft.operators.Scan.groupedPrefixSum]]
    * over (h, doc_id) — the retired `Window.partitionBy(shard)` held 1/8th
    * of the corpus in ONE task (12.5 TB at 100 TB); the scan
    * range-partitions the (shard, h) order so every task ranks only its
    * slice, at any shard count.
    */
  private def cEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val h = Dedup.shingleHash(concat(lit("epoch0:"), col("doc_id").cast("string")))
    val d = t(s, dir, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", col("h") % 8)
      .withColumn("_one", lit(1L))
    graft.operators.Scan.groupedPrefixSum(d, Seq("shard"),
        Seq(col("h"), col("doc_id")), "_one", "pos", "_tot")
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Curriculum ordering for training-data serving: documents schedule
    * best-quality-first in four per-language stages, with a deterministic
    * hash shuffle inside each stage and a GLOBAL serving position —
    * computed without any global sort. Within-(lang, stage) positions come
    * from partitioned windows (same bounded shuffle shape as
    * [[tLengthDeciles]]/[[cEpochShuffle]]); the cross-stage offsets are
    * CLOSED-FORM from the per-language totals alone (stage k of an n-doc
    * language holds floor(n*k/4) - floor(n*(k-1)/4) docs, because stage =
    * ceil(4*rank/n)), so no second pass over the corpus and no
    * count-the-groups job — a tiny 4x|langs| offset table broadcasts back.
    * Reshuffling within stages = changing the hash salt; the stage plan is
    * stable across epochs. The ranking key is [[TextAnalysis.qualityScore]]
    * (already rounded to 6 decimals), so the cross-engine rank order is
    * exact, with doc_id breaking ties.
    *
    * The per-language rank window is the exactness-for-the-oracle choice
    * (one sort per language partition, like [[tLengthDeciles]]); at 100 TB,
    * where one language can dominate the corpus, stage assignment swaps to
    * `percentile_approx` quality thresholds (one mergeable agg, no
    * per-lang sort) and every other piece — hash shuffle, closed-form
    * offsets, broadcast-back — stays as written.
    */
  private def cCurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"))
    // per-language quality rank via the scan (the retired
    // Window.partitionBy(lang) shape held a whole language in one task)
    val staged = graft.operators.Scan.groupedPrefixSum(
        docs.withColumn("_one", lit(1L)), Seq("lang"),
        Seq(col("q").desc, col("doc_id")), "_one", "_rn", "_n")
      .withColumn("cd", col("_rn").cast("double") / col("_n"))
      .withColumn("stage", ceil(col("cd") * 4).cast("long"))
      .withColumn("h",
        Dedup.shingleHash(concat(lit("cur0:"), col("doc_id").cast("string"))))
      .drop("_rn", "_n")
    // within-(lang, stage) hash-shuffle position, same device
    val pos = graft.operators.Scan.groupedPrefixSum(
        staged.withColumn("_one", lit(1L)), Seq("lang", "stage"),
        Seq(col("h"), col("doc_id")), "_one", "pos", "_tot")
    // closed-form per-(stage, lang) sizes from per-language totals only
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"),
        explode(array((1 to 4).map(lit(_)): _*)).as("stage"))
      .select(col("lang"), col("stage").cast("long").as("stage"),
        (floor(col("n") * col("stage") / 4) -
          floor(col("n") * (col("stage") - 1) / 4)).as("cnt"))
    // running-sum window over the tiny 4x|langs| offset table (single
    // partition is fine — its size is bounded by the language inventory)
    val woff = Window.orderBy(col("stage"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = counts
      .withColumn("off", sum(col("cnt")).over(woff) - col("cnt"))
      .select(col("stage"), col("lang"), col("off"))
    pos.join(broadcast(offsets), Seq("lang", "stage"))
      .select(col("doc_id"), col("lang"), col("stage"), col("pos"),
        (col("off") + col("pos")).as("global_pos"))
  }

  /** Language-ID confusion matrix: the n-gram heuristic's prediction
    * cross-tabulated against the labeled language — the evaluation query a
    * curation run uses before trusting langid-gated filters.
    */
  private def tLangidEval(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))

  /** Quality-ranked cluster representatives: near-dup clusters keep their
    * BEST-quality document (ties to the lower id) instead of the min-id
    * default — the curation policy real pipelines want (the canonical copy
    * survives, not the lexicographically first). Ranking happens on the
    * cluster table (one row per doc, ids + scores only).
    */
  private def dClusterBestKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
    val comps = Dedup.connectedComponents(docs, "doc_id", pairs)
    val scored = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("quality").desc, col("doc_id"))
    comps.select(col("id").as("doc_id"), col("comp"))
      .join(scored, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("comp"), col("quality"))
  }

  // ------------------------------------------------------------------
  // Round-6 continuation: OLAP breadth, incremental-aggregate
  // maintenance, behavioral funnels, SCD2 dims, corpus data card
  // ------------------------------------------------------------------

  /** TPC-H-Q5-shaped regional supplier volume: revenue per nation for
    * 1996 orders where the ordering customer and the line's supplier sit
    * in the SAME nation of one region. The two fact tables join on
    * orderkey (one shuffle), customer on custkey (second shuffle);
    * supplier enriched with region-filtered nations is a genuine
    * dimension and broadcasts, with the same-nation predicate riding the
    * join condition so mismatched rows never materialize.
    */
  private def q5SupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val natInRegion = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier")
      .join(natInRegion, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H-Q18-shaped large-order detail: orders whose line quantities
    * sum past a threshold, joined back to order and customer detail. The
    * HAVING-filtered key set is tiny relative to the fact table (46 of
    * ~15k orders at sf0.01), so the join back is left unhinted — AQE sees
    * the post-aggregation size at runtime and picks a broadcast, which is
    * exactly the 100 TB plan (never broadcast on a static guess about a
    * data-dependent aggregate).
    */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
  }

  /** Incremental materialized-aggregate maintenance: the base aggregate
    * (orders before the cutover date) merges with the delta batch's
    * partial aggregate by re-aggregating the two partials — count and sum
    * are commutative monoids, so merge = sum-of-partials, never a rescan
    * of the base facts. At 100 TB the base side is a STORED aggregate
    * (key-space-sized, not fact-sized) and the daily delta is the only
    * scan; the oracle recomputes from scratch, so the row is green only
    * if merge(partials) == recompute(all).
    */
  private def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2000-01-01").cast("date")
    val ord = t(s, dir, "orders")
    def part(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
    part(ord.filter(col("o_orderdate") < cut))
      .unionByName(part(ord.filter(col("o_orderdate") >= cut)))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        round(sum(col("total")), 2).as("total_price"))
  }

  /** Click-funnel stage counts over the event stream: users who viewed,
    * then clicked strictly after their first view, then purchased
    * strictly after their first qualifying click — all comparisons at µs
    * resolution (the [[tsUs]] engine-parity contract). Each stage is one
    * aggregation keyed by user_id, and every stage→stage join reuses the
    * hash partitioning the previous aggregation just produced — the
    * funnel costs one shuffle per stage, not one per join, and stage sets
    * only shrink.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts_us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(name).as("stage"), col("users"))
    stage("1_view", v).unionByName(stage("2_click", c))
      .unionByName(stage("3_purchase", p))
  }

  /** Type-2 slowly-changing dimension built from an ordered change log:
    * each customer's order stream is change-detected on o_orderstatus
    * (lag over the per-customer sort); surviving change rows become
    * versioned dimension rows with [effective_from, effective_to) ranges
    * (lead over the same sort) and an is_current flag. The filter between
    * the two windows preserves partitioning AND order, so the second
    * window reuses the first's sort — one shuffle, one sort, total.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
      .filter(col("prev_status").isNull ||
        col("prev_status") =!= col("o_orderstatus"))
      .withColumn("effective_to_ts", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date").as("effective_from"),
        col("effective_to_ts").cast("date").as("effective_to"),
        col("effective_to_ts").isNull.as("is_current"))
  }

  /** Training-corpus data card: the (source × lang), per-source,
    * per-lang, and global rollup rows of a run report — docs, whitespace
    * tokens (kernel), chars — in ONE Expand + aggregation pass. The text
    * column is reduced to an integer BEFORE the grouping-sets Expand, so
    * the 4× row multiplication replicates longs, not document bodies.
    */
  private def cDataCard(s: SparkSession, dir: String): DataFrame = {
    // One grouping-sets pass over documents carries every per-group
    // aggregate: counts, token/char totals, EXACT length percentiles
    // (order-pinned interpolation — both engines use the p·(n-1) linear
    // rule), and the exact-dup distinct count. The distinct key is the
    // SHA-256 digest, not the text: at corpus scale the distinct shuffle
    // then moves 64-byte keys instead of whole documents, and both
    // engines compute the identical hex digest so the oracle still
    // hash-matches. Language-mixture entropy composes from a second,
    // group-count-sized aggregation (per-(source,lang) counts → ~|sources|
    // rows) broadcast-joined back; (source,lang)/(lang) rows are
    // single-language by construction, so their mixture entropy is 0.
    val docs = t(s, dir, "documents")
      .select(col("source"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        col("n_chars"), sha2(col("text"), 256).as("digest"))
    val card = docs
      .groupingSets(
        Seq(Seq(col("source"), col("lang")), Seq(col("source")),
          Seq(col("lang")), Seq()),
        col("source"), col("lang"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("digest")).as("n_distinct"),
        round(expr("percentile(n_chars, 0.1)"), 4).as("len_p10"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("len_p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("len_p90"))
      .withColumn("dup_rate",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6))
    val langCounts = t(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    def entropy(cnt: Column): Column =
      round(log(sum(cnt)) - sum(cnt * log(cnt)) / sum(cnt), 6)
    val entBySource = langCounts.groupBy(col("source"))
      .agg(entropy(col("cnt")).as("lang_entropy"))
      .select(lit(1).as("egid"), col("source").as("esource"), col("lang_entropy"))
    val entGlobal = langCounts.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("cnt"))
      .agg(entropy(col("cnt")).as("lang_entropy"))
      .select(lit(3).as("egid"), lit(null).cast("string").as("esource"),
        col("lang_entropy"))
    card.join(broadcast(entBySource.unionAll(entGlobal)),
        card("gid") === col("egid") && card("source") <=> col("esource"), "left")
      .select(card.columns.map(col) :+
        coalesce(col("lang_entropy"), lit(0.0)).as("lang_entropy"): _*)
  }

  /** Nation-level trade graph: customer-nation → supplier-nation edges
    * weighted by line revenue — the shared edge derivation of
    * [[qPagerank]] and its oracle. Supplier is the genuine small
    * dimension (broadcast); the fact-side joins shuffle on their keys.
    */
  private def nationTradeEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("w"))

  /** Weighted PageRank over the nation trade graph — 5 power iterations
    * via [[graft.operators.Graph.pageRank]], ranks joined back to nation
    * names. The oracle unrolls the same fixed-point arithmetic as one
    * generated CTE chain; both engines round the converged double to 8
    * decimals (iteration arithmetic is identical, only summation order
    * differs — error ~1e-15).
    */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
    val pr = graft.operators.Graph.pageRank(
      nat.select(col("n_nationkey")), "n_nationkey",
      nationTradeEdges(s, dir), "src", "dst", "w", iterations = 5)
    pr.join(broadcast(nat), pr("id") === nat("n_nationkey"))
      .select(col("n_name"), round(col("rank"), 8).as("pr"))
  }

  /** HITS hubs & authorities over the directed nation trade graph
    * (customer nation → supplier nation, revenue-weighted): 4 mutual
    * L1-normalized power iterations via [[graft.operators.Graph.hits]] —
    * hub = "buys from good exporters", authority = "sells to good
    * importers". The oracle unrolls the same arithmetic one CTE pair per
    * iteration (the [[qPagerank]] precedent); normalizer scalars are
    * corpus-scalar subqueries on both sides, rounded to 7 decimals
    * (summation order is the only divergence, ~1e-14).
    */
  private def gHits(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
    val ha = graft.operators.Graph.hits(
      nat.select(col("n_nationkey")), "n_nationkey",
      nationTradeEdges(s, dir), "src", "dst", "w", iterations = 4)
    ha.join(broadcast(nat), ha("id") === nat("n_nationkey"))
      .select(col("n_name"), round(col("hub"), 7).as("hub"),
        round(col("authority"), 7).as("authority"))
  }

  /** Sample autocorrelation of the daily order-revenue series at lags
    * 1–7 days, gap-correct: pairs are matched by DATE ARITHMETIC (day
    * and day+k both present), not row adjacency, so calendar holes drop
    * the pair instead of silently pairing non-adjacent days.
    * `ACF(k) = Σ (x_d−μ)(x_{d+k}−μ) / Σ (x_d−μ)²` with μ and the
    * denominator over the FULL series (the standard estimator; the
    * denominator is `var_pop · n`, one order-free aggregate).
    *
    * Scale shape: everything after the one fact-scan aggregation is
    * day-grain — calendar-bounded (~2.4k rows at ANY SF) — so the ×7
    * lag explode, the self-join, and the corpus-scalar stats broadcast
    * are scale-free; the fact scan is the only data term.
    */
  private def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice")).as("x"))
      .pinned(true) // three consumers: stats row, pair-left, pair-right
    val stats = daily.agg(avg(col("x")).as("mu"),
      (var_pop(col("x")) * count(lit(1))).as("denom"))
    val a = daily.select(col("day"), col("x").as("xa"),
      explode(array((1 to 7).map(lit(_)): _*)).as("lag"))
    val b = daily.select(col("day").as("b_day"), col("x").as("xb"))
    a.join(b, date_add(col("day"), col("lag")) === col("b_day"))
      .crossJoin(broadcast(stats))
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        // nullif-guard: a constant series has var_pop 0, and ANSI-mode
        // double division by zero is a runtime ERROR in Spark 4, not NaN
        // — degrade to NULL acf (NULLIF in the oracle)
        round(sum((col("xa") - col("mu")) * (col("xb") - col("mu"))) /
          when(max(col("denom")) === 0.0, lit(null)).otherwise(max(col("denom"))),
          6).as("acf"))
  }

  /** Classical additive seasonal decomposition of daily order revenue:
    * trend = centered 7-day moving average (RANGE ±3 on the epoch-day
    * number, so calendar gaps shrink the window instead of smearing
    * non-adjacent days in), seasonal = mean detrended value per
    * day-of-week index re-centered to sum ≈ 0, residual = the rest.
    * The dow index is `epoch_day % 7` (0 = Thursday) — pure integer
    * arithmetic, identical across engines by construction.
    *
    * Scale shape: one fact-scan aggregation to day grain, then every
    * window/join is calendar-bounded (~2.4k rows at any SF); the global
    * RANGE window rides the aggregate grain, never the fact table.
    */
  /** Shared day-grain decomposition of [[qStlDecompose]] /
    * [[qStlAnomalies]]: (day, x, trend, seasonal) with the UNROUNDED
    * doubles so each consumer rounds at its own output edge.
    */
  private def stlDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice")).as("x"))
      .withColumn("dn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .pinned(true)
    val wTrend = Window.orderBy(col("dn")).rangeBetween(-3, 3)
    val trended = daily
      .withColumn("trend", avg(col("x")).over(wTrend))
      .withColumn("dow_idx", pmod(col("dn"), lit(7L)))
      .pinned(true) // feeds the seasonal means and the final join
    val seas = trended.groupBy(col("dow_idx"))
      .agg(avg(col("x") - col("trend")).as("s_raw"))
    val seasC = seas
      .crossJoin(broadcast(seas.agg(avg(col("s_raw")).as("s_mean"))))
      .select(col("dow_idx"), (col("s_raw") - col("s_mean")).as("seasonal"))
    trended.join(broadcast(seasC), Seq("dow_idx"))
      .select(col("day"), col("x"), col("trend"), col("seasonal"))
  }

  private def qStlDecompose(s: SparkSession, dir: String): DataFrame =
    stlDaily(s, dir)
      .select(col("day"), round(col("x"), 2).as("x"),
        round(col("trend"), 2).as("trend"),
        round(col("seasonal"), 2).as("seasonal"),
        round(col("x") - col("trend") - col("seasonal"), 2).as("resid"))

  /** Residual anomaly days from the [[stlDaily]] decomposition: flag
    * days whose remainder exceeds 2.5 population standard deviations of
    * the remainder series — seasonality-aware anomaly detection, the
    * decomposition's operational payoff (a raw z-score would fire on
    * every seasonal peak). The cut is applied to the ROUNDED z (the
    * [[qZscoreOutliers]] discipline) so last-ulp summation noise between
    * engines can't flip membership at the threshold.
    */
  private def qStlAnomalies(s: SparkSession, dir: String): DataFrame = {
    val withResid = stlDaily(s, dir)
      .select(col("day"), col("x"),
        (col("x") - col("trend") - col("seasonal")).as("resid"))
      .pinned(true) // stats row + the filtered output
    val stats = withResid.agg(stddev_pop(col("resid")).as("sd"))
    withResid.crossJoin(broadcast(stats))
      .select(col("day"), round(col("x"), 2).as("x"),
        // sd = 0 (constant remainder) → NULL z → filtered out below;
        // ANSI-mode double division by zero would otherwise ERROR
        round(col("resid") /
          when(col("sd") === 0.0, lit(null)).otherwise(col("sd")), 4).as("z"))
      .where(abs(col("z")) >= 2.5)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) of the
    * `o_orderpriority` quasi-identifier groups against the ORDERED
    * sensitive attribute "order value on a fixed \$50k grid" (10
    * buckets): per group, `t = EMD(P_g, Q) = Σ_i |cum_i(P_g − Q)| /
    * (m−1)` — the ordered-attribute earth-mover's distance, prefix sums
    * of probability differences. Complements the k-anonymity /
    * l-diversity rows: l-diversity counts distinct sensitive values,
    * t-closeness bounds how far a group's DISTRIBUTION drifts from the
    * corpus's.
    *
    * Scale shape: one fact-scan count to (group × bucket) grain —
    * bounded at 5×10 rows at any SF — then windows and scalar joins on
    * that grain only.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val bucket = least(floor(col("o_totalprice") / 50000).cast("long"), lit(9L))
    val counts = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"), bucket.as("bucket"))
      .groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("c"))
      .pinned(true) // feeds group totals, global totals, and the grid
    val gTot = counts.groupBy(col("grp")).agg(sum(col("c")).as("gn"))
    val tot = counts.agg(sum(col("c")).as("n"), count_distinct(col("bucket")).as("m"))
    val q = counts.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), (col("bc").cast("double") / col("n")).as("q"),
        col("m"))
    // dense (grp × observed bucket) grid WITHOUT a cross join: explode
    // the fixed bucket domain (0..9 by construction of `bucket`) under
    // each group, then inner-join to the observed buckets — a plain hash
    // join, and unobserved-globally buckets drop out so m stays honest
    val grid = gTot
      .withColumn("bucket", explode(typedLit((0L to 9L).toSeq)))
      .join(q, Seq("bucket"))
      .join(counts, Seq("grp", "bucket"), "left_outer")
      .select(col("grp"), col("bucket"), col("q"), col("m"), col("gn"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("gn")).as("p"))
    val w = Window.partitionBy(col("grp")).orderBy(col("bucket"))
    grid.withColumn("cumdiff", sum(col("p") - col("q")).over(w))
      .groupBy(col("grp"))
      .agg(max(col("gn")).as("n_rows"),
        round(when(max(col("m")) === 1L, lit(0.0))
          .otherwise(sum(abs(col("cumdiff"))) /
            (max(col("m")) - lit(1L)).cast("double")), 6).as("t_closeness"))
  }

  /** Frequent length-2 event-type sequences (PrefixSpan's unit step):
    * pattern a→b is supported by a user iff SOME a-occurrence precedes
    * some b-occurrence — equivalently `min_ts(a) < max_ts(b)`, so the
    * whole mining runs on the (user × type) first/last-timestamp grain,
    * ONE aggregation over the event scan. Support-pruned at 5% like an
    * A-priori pass.
    *
    * Scale shape: the self-join is keyed on user_id over a frame with
    * ≤|event types| rows per user (bounded fan-out); the support
    * threshold rides a corpus-scalar broadcast.
    */
  private def qSeqMining(s: SparkSession, dir: String): DataFrame = {
    val byType = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), tsUs.as("us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .pinned(true) // both sides of the pair join + the user total
    val tot = byType.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("nu"))
    val a = byType.select(col("user_id"), col("event_type").as("seq_a"),
      col("first_us"))
    val b = byType.select(col("user_id"), col("event_type").as("seq_b"),
      col("last_us"))
    a.join(b, Seq("user_id"))
      .where(col("seq_a") =!= col("seq_b") &&
        col("first_us") < col("last_us"))
      .groupBy(col("seq_a"), col("seq_b"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .where(col("n_users") >= lit(0.05) * col("nu"))
      .select(col("seq_a"), col("seq_b"), col("n_users"),
        round(col("n_users").cast("double") / col("nu"), 6).as("support"))
  }

  /** Quantile treatment effects (p25/p50/p75 lifts) between the A/B
    * arms of [[qAbCuped]]'s experiment over per-user event-value totals
    * — medians/quartiles say what the mean hides when the effect is
    * concentrated in a tail. Nearest-rank quantiles (`min v with
    * cum(v) ≥ ⌈q·n⌉`) via [[graft.operators.Scan.groupedValueRanks]]:
    * value-grain counts + the distributed prefix-sum scan, NO
    * data-scale sort or window anywhere (the q_winsorized_mean device).
    */
  private def qQte(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("v"))
      .select(pmod(col("user_id"), lit(2)).as("gidx"), col("v"))
    val vc = per.groupBy(col("gidx"), col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.Scan.groupedValueRanks(vc, "gidx", "v", "cnt")
    val qs = ranked.select(col("gidx"), col("v"), col("cum_grp"), col("n_grp"),
        explode(typedLit(Seq(0.25, 0.5, 0.75))).as("q"))
      .where(col("cum_grp") >= ceil(col("q") * col("n_grp")))
      .groupBy(col("q"), col("gidx")).agg(min(col("v")).as("qv"))
    val qa = qs.where(col("gidx") === 0)
      .select(col("q"), col("qv").as("va"))
    val qb = qs.where(col("gidx") === 1)
      .select(col("q").as("qbq"), col("qv").as("vb"))
    qa.join(qb, col("q") === col("qbq"))
      .select(col("q").as("quantile"),
        round(col("va") / 100.0, 2).as("v_a"),
        round(col("vb") / 100.0, 2).as("v_b"),
        round((col("vb") - col("va")) / 100.0, 2).as("qte"))
  }

  /** Positional phrase search — exact adjacency match of the 2-token
    * phrase "batch part" via a positional inverted index (term, position
    * within the whitespace-FILTERED token sequence), the IR primitive
    * behind phrase and proximity queries: a postings self-join on
    * (doc_id, pos+1), not a string scan. The oracle rebuilds positions
    * with DuckDB zip-unnest over the same filtered token list.
    *
    * Scale shape: the postings explode is the data term; both join
    * inputs are pruned to the phrase's two terms BEFORE the shuffle, so
    * the join moves only those postings lists.
    */
  private def tPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), "\\s+"), x => x =!= "")))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val a = toks.where(col("term") === "batch")
      .select(col("doc_id"), col("pos"))
    val b = toks.where(col("term") === "part")
      .select(col("doc_id").as("b_doc"), col("pos").as("b_pos"))
    a.join(b, col("doc_id") === col("b_doc") &&
        col("b_pos") === col("pos") + 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occ"))
  }

  /** Day-granularity cohort retention over the event stream: users are
    * cohorted by the day of their FIRST event; every later event counts
    * them active at `offset = event day - cohort day`. Two aggregations
    * keyed by user_id (first-day, then the join back) reuse one hash
    * partitioning; the final (cohort, offset) rollup is the only
    * re-shuffle — the standard retention-matrix plan.
    */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(timestamp_micros(tsUs)).as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("users"))
  }

  /** Per-nation linear trend of order value over time: closed-form OLS
    * (slope = covar_pop/var_pop, intercept from the means) per customer
    * nation — regression as ONE aggregation pass over the fact join, no
    * iterative fitting. The 100 TB shape for per-group model fitting:
    * sufficient statistics are map-side-combinable monoids.
    */
  private def qTrendFit(s: SparkSession, dir: String): DataFrame = {
    val x = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date")).cast("double")
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), x.as("x"), col("o_totalprice").as("y"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        round((covar_pop(col("x"), col("y")) / nz(var_pop(col("x")))), 4).as("slope"),
        round(avg(col("y")) - (covar_pop(col("x"), col("y")) / nz(var_pop(col("x")))) * avg(col("x")), 2)
          .as("intercept"))
  }

  /** Nested-data processing with higher-order functions: each order's
    * lines are collected into a linenumber-sorted array of structs, then
    * revenue and counts are computed INSIDE the array with
    * `aggregate`/`filter` lambdas — no explode, no second shuffle, and
    * the lambdas run in whole-stage codegen. Array size is bounded by
    * lines-per-order (single-digit), so grouped collection is safe at any
    * corpus scale. Revenue accumulates in EXACT integer ten-thousandths
    * (cents × remaining-discount-percent) — per-line products have 4
    * decimal digits, so ~1% of rounded double sums would land on a .xx5
    * half-way point where the two engines' rounding modes disagree; the
    * integer form hashes identically by construction. The oracle replays
    * the relational dual.
    */
  private def qArrayHof(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount")))).as("lines"))
      .select(col("l_orderkey"),
        size(col("lines")).cast("long").as("n_lines"),
        aggregate(col("lines"), lit(0L),
          (acc, x) => acc +
            round(x.getField("l_extendedprice") * 100, 0).cast("long") *
            (lit(100L) - round(x.getField("l_discount") * 100, 0).cast("long")))
          .as("revenue_e4"),
        size(filter(col("lines"),
          x => x.getField("l_quantity") > lit(40.0d))).cast("long").as("n_big"))

  /** Per-nation triangle counts over the (undirected, thresholded) trade
    * graph — [[graft.operators.Graph.triangleCounts]] does the
    * degree-oriented compact-forward enumeration, so wedge fan-out is
    * bounded by oriented out-degree even if one nation traded with all
    * others. The revenue threshold keeps the graph non-complete so the
    * count distribution is informative. The oracle enumerates the same
    * triangles canonically (a < b < c); the triangle SET is
    * orientation-invariant, so both formulations agree row-for-row.
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = nationTradeEdges(s, dir).where(col("w") >= 1500000.0)
    val nat = t(s, dir, "nation")
    val tc = graft.operators.Graph.triangleCounts(e, "src", "dst")
    tc.join(broadcast(nat), tc("id") === nat("n_nationkey"))
      .select(col("n_name"), col("n_triangles"))
  }

  /** BFS hop distance from part 1 over the parts-co-ordered-together
    * graph (edge iff two parts share an order). Frontier BFS via
    * [[graft.operators.Graph.shortestHops]]: per round only the newly
    * reached frontier joins the edge list, and the settled set is
    * checkpointed — cost tracks frontier out-edges, not |V|·rounds. The
    * co-order self-join is per-order quadratic, safe because TPC-H
    * orders have ≤7 lines (bounded group size, like [[qArrayHof]]'s
    * arrays). The oracle is DuckDB's recursive CTE with an outer
    * min-per-node — same fixpoint, path-enumeration strategy instead of
    * frontier, identical minima.
    */
  /** Parts-co-ordered-together edges (both directions — symmetric by
    * construction): the shared graph of [[qReachHops]] and
    * [[qCommunities]]. Per-order quadratic, safe because TPC-H orders
    * have ≤7 lines.
    */
  private def coOrderEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
  }

  /** Canonical (src < dst) half of [[coOrderEdges]]: each unordered
    * co-order pair is emitted ONCE per co-order instead of twice, so the
    * basket self-join produces half the rows and every downstream
    * distinct/aggregation shuffles half the bytes (opt guide §2.3 —
    * "shuffle fewer bytes"). The co-order relation is symmetric, so
    * `distinct(canon) ∪ mirror(distinct(canon)) = distinct(full)`:
    * consumers that need both directions mirror AFTER their dedup (a
    * narrow map-side union, no extra shuffle). Returned deduped + pinned
    * — every caller either iterates over it or feeds it to 2+ joins.
    */
  private def coOrderEdgesCanonRaw(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
  }

  private def coOrderEdgesCanon(s: SparkSession, dir: String): DataFrame =
    coOrderEdgesCanonRaw(s, dir).distinct().pinned(true)

  /** Both directions of [[coOrderEdgesCanon]] — the narrow mirror union
    * over the pinned canonical half (identical edge set to
    * `coOrderEdges(...).distinct()`, at half the dedup-shuffle bytes).
    */
  private def coOrderEdgesBoth(s: SparkSession, dir: String): DataFrame = {
    val canon = coOrderEdgesCanon(s, dir)
    canon.union(canon.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def qReachHops(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "part").where(col("p_partkey") === 1)
    graft.operators.Graph.shortestHops(coOrderEdgesCanon(s, dir), "src", "dst",
        src, "p_partkey", maxHops = 3, canonicalInput = true)
      .select(col("id"), col("hops").cast("long").as("hops"))
  }

  /** Hop-truncated harmonic centrality of parts 1–8 over the co-order
    * graph ([[graft.operators.Graph.harmonicCentrality]]): Σ 1/d over
    * nodes within 3 hops — the "influence within k degrees" audit next
    * to [[qReachHops]]'s single-source reachability. One simultaneous
    * multi-source BFS carrying the seed column; the oracle replays the
    * identical walk as a recursive CTE over the same seed set.
    */
  private def gHarmonic(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.harmonicCentrality(coOrderEdgesCanon(s, dir),
      "src", "dst",
      t(s, dir, "part").where(col("p_partkey") <= 8), "p_partkey",
      maxHops = 3, canonicalInput = true)

  /** Embedding outlier audit over the trained cells
    * ([[graft.operators.Similarity.embeddingOutliers]]): within-cell
    * z-score of each vector's own-centroid cosine, top 25 — the
    * OOD/garbage detector a curation run executes before trusting
    * cluster-level decisions (SemDeDup, leakage splits, k-center).
    */
  private def eOodOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.embeddingOutliers(t(s, dir, "embeddings"),
        "vec_id", "embedding", graft.operators.TrainedCentroids.sf001, 25)
      .select(col("id").as("vec_id"), col("cell"), col("cos"), col("z"))

  /** Personalized PageRank from part 1 over the WEIGHTED co-order part
    * graph (edge weight = number of co-orders) —
    * [[graft.operators.Graph.personalizedPageRank]], 3 power iterations:
    * "parts most related to part 1" by random-walk-with-restart, the
    * item-to-item recommendation primitive next to [[qReachHops]]'s
    * plain reachability. The oracle unrolls the identical fixed-point
    * arithmetic one CTE per round (the [[qPagerank]] precedent), teleport
    * vector concentrated on the seed.
    */
  private def gPpr(s: SparkSession, dir: String): DataFrame = {
    // co-order counts are symmetric: aggregate the canonical a<b half
    // (half the shuffle bytes, guide §2.3) and mirror the counts back —
    // identical (src, dst, w) set to aggregating both directions.
    val half = coOrderEdgesCanonRaw(s, dir)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      // pinned BEFORE the mirror union: both branches read the aggregated
      // half — unpinned, the basket self-join + count can execute twice
      // when AQE exchange reuse misses (the ssspWeighted discipline)
      .pinned(true)
    val e = half.union(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    graft.operators.Graph.personalizedPageRank(
        t(s, dir, "part"), "p_partkey", e, "src", "dst", "w",
        t(s, dir, "part").where(col("p_partkey") === 1), "p_partkey",
        iterations = 3)
      .select(col("id"), round(col("rank"), 8).as("ppr"))
  }

  /** Time-respecting reachability over the PURCHASE-SEQUENCE temporal
    * graph: part A → part B with timestamp t whenever some customer's
    * order containing A is immediately followed (by date, orderkey
    * tiebreak) by an order containing B on day t — per-customer bounded
    * edges (consecutive order pairs × ≤7×7 lines). From part 1 at day 0,
    * [[graft.operators.Graph.temporalEarliestArrival]] relaxes 3 rounds of
    * min-arrival Bellman-Ford (edge usable only at/after arrival at its
    * source); the oracle unrolls the identical relaxation one CTE per
    * round — state per node is ONE long, never a path enumeration.
    */
  private def gTemporalReach(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val seqo = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("nk", lead(col("o_orderkey"), 1).over(w))
      .withColumn("nd", lead(col("o_orderdate"), 1).over(w))
      .where(col("nk").isNotNull)
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val edges = seqo
      .join(li.as("a"), col("a.l_orderkey") === col("o_orderkey"))
      .join(li.as("b"), col("b.l_orderkey") === col("nk"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"),
        expr("unix_micros(cast(nd AS timestamp)) div 86400000000").as("ts"))
    val seeds = t(s, dir, "part").where(col("p_partkey") === 1)
      .select(col("p_partkey"), lit(0L).as("t0"))
    graft.operators.Graph.temporalEarliestArrival(edges, "src", "dst", "ts",
      seeds, "p_partkey", "t0", rounds = 3)
  }

  /** Weighted single-source shortest paths over the ship-lag part graph
    * ([[graft.operators.Graph.ssspWeighted]], 3 Bellman-Ford rounds):
    * co-ordered parts are adjacent with weight = |ship-day gap| + 1, so
    * distance measures how tightly a part's supply chain couples to part 1
    * through near-simultaneous shipments — the weighted-proximity dual of
    * `g_reach_hops` (hop BFS) and `g_temporal_reach` (time-respecting
    * reachability). Day numbers are exact epoch-micros integer division on
    * both engines; all arithmetic is integer, zero rounding steps.
    */
  private def gSsspWeighted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
      expr("unix_micros(cast(l_shipdate AS timestamp)) div 86400000000").as("day"))
    // |day gap|+1 is symmetric, so the canonical a<b half of the basket
    // self-join carries the full weight information at half the rows —
    // the operator min-collapses it and mirrors after (guide §2.3)
    val edges = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"),
        (abs(col("a.day") - col("b.day")) + 1).as("w"))
    val seeds = t(s, dir, "part").where(col("p_partkey") === 1)
      .select(col("p_partkey"))
    graft.operators.Graph.ssspWeighted(edges, "src", "dst", "w",
      seeds, "p_partkey", rounds = 3, canonicalInput = true)
  }

  /** Deterministic hash-seeded random walks over the co-order part graph
    * ([[graft.operators.Graph.hashWalks]], 3 steps from parts 1–16) — the
    * DeepWalk/node2vec training-corpus generator: hop t of walk w picks
    * sorted-neighbor index LCG(w, t) mod degree, so the sampled corpus is
    * bit-replayable on any engine (the oracle unrolls the identical three
    * hops as chained CTEs over the same row_number-indexed adjacency).
    * All arithmetic is 64-bit integer with the walk id reduced mod 2^31−1
    * before the multiply — no overflow at any id magnitude.
    */
  private def gHashWalks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.hashWalks(coOrderEdgesCanon(s, dir), "src", "dst",
      t(s, dir, "part").where(col("p_partkey") <= 16), "p_partkey", steps = 3,
      canonicalInput = true)

  /** FIFO lot allocation ([[graft.operators.Allocate.fifo]]): returned
    * units (`l_returnflag = 'R'`) drain available lots (`'A'`) per part
    * key, both sides in (ship date, line id) order — the inventory/
    * tax-lot matching primitive. The sequential drain is re-expressed as
    * the running-interval intersection (two per-key cumsum windows + one
    * equi-join with an overlap filter), so the per-key output is linear
    * in demands + lots and quantities are exact longs.
    */
  private def qFifoAllocation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey").as("key"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"),
      col("l_quantity").cast("long").as("qty"),
      col("l_shipdate"), col("l_returnflag"))
    val d = li.where(col("l_returnflag") === "R")
      .select(col("key"), col("lid").as("did"), col("qty"), col("l_shipdate"))
    val sup = li.where(col("l_returnflag") === "A")
      .select(col("key"), col("lid").as("lot"), col("qty"), col("l_shipdate"))
    graft.operators.Allocate.fifo(
      d, "key", "did", "qty", Seq("l_shipdate"),
      sup, "key", "lot", "qty", Seq("l_shipdate"))
  }

  /** Deterministic label-propagation communities over the co-order part
    * graph — [[graft.operators.Graph.labelPropagation]], 3 synchronous
    * rounds, most-frequent-then-smallest label. The oracle unrolls the
    * identical update (row_number over (count DESC, label ASC)) one CTE
    * per round.
    */
  private def qCommunities(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(
      t(s, dir, "part"), "p_partkey",
      // canonical a<b half (pre-deduped + pinned): LPA's internal
      // canonicalize/dedup/pin is skipped outright (guide §2.3/§2.4)
      coOrderEdgesCanon(s, dir), "src", "dst", rounds = 3,
      symmetric = true, canonicalInput = true,
      // the symmetric vote union reads `lab` twice per round; exchange
      // reuse dedups the identical subtrees, but cutting lineage per
      // round still trims ~10% and keeps the plan depth constant
      checkpointEvery = 1)

  /** Bounded k-core peel over the co-order part graph
    * ([[graft.operators.Graph.kCorePeel]], k=90, 4 synchronous rounds):
    * per part, the round it fell out of the 90-core (0 = survives) —
    * the standard graph-density filter (peel boilerplate/low-connectivity
    * nodes before community detection). The oracle unrolls the identical
    * peel one (degree, doomed, alive) CTE triple per round.
    */
  private def gKcore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCorePeel(
      t(s, dir, "part"), "p_partkey",
      // canonical a<b half (deduped + pinned at HALF the shuffle bytes);
      // the peel mirrors it narrowly for both-direction degrees
      coOrderEdgesCanon(s, dir), "src", "dst", k = 90, rounds = 4,
      // peel rounds stack two joins each on the previous round's `alive`;
      // without a per-round lineage cut, round r re-executes rounds
      // 1..r-1's joins inside its own plan (quadratic recompute)
      checkpointEvery = 1,
      symmetric = true, canonicalInput = true)

  /** Modularity audit of the LPA communities
    * ([[graft.operators.Graph.modularity]]): per community, the exact
    * Newman q_term = intra/m − (deg/(2m))² over the co-order part graph —
    * the standard "did the community detection find real structure" gate
    * (Q near 0 = no better than random wiring). Same labels as
    * [[qCommunities]]; all counts exact integers, one rounded division
    * per community.
    */
  private def gModularity(s: SparkSession, dir: String): DataFrame = {
    // ONE canonical pinned edge frame feeds BOTH operators — previously
    // each re-ran the basket self-join + canonicalize + dedup + pin
    // (2 self-joins, 2 dedup shuffles, 2 pins → 1 of each; guide §2.4)
    val canonE = coOrderEdgesCanon(s, dir)
    val labels = graft.operators.Graph.labelPropagation(
      t(s, dir, "part"), "p_partkey",
      canonE, "src", "dst", rounds = 3,
      symmetric = true, canonicalInput = true, checkpointEvery = 1)
    graft.operators.Graph.modularity(labels, "id", "label",
      canonE, "src", "dst", symmetric = true, canonicalInput = true)
  }

  /** Graph × relational composition: line revenue rolled up per LPA
    * community (≥5 members) — the community labels from [[qCommunities]]
    * join the per-part revenue aggregate on the part key both sides
    * already shuffle on. The kind of "aggregate by graph-derived
    * grouping" a catalog/taxonomy pipeline runs; revenue in exact
    * integer ten-thousandths as everywhere.
    */
  private def qCommunityRollup(s: SparkSession, dir: String): DataFrame = {
    val revE4 = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("id")).agg(sum(revE4).as("rev_e4"))
    qCommunities(s, dir).join(rev, Seq("id"), "left_outer")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_parts"),
        sum(coalesce(col("rev_e4"), lit(0L))).as("revenue_e4"))
      .where(col("n_parts") >= 5)
  }

  /** Top-20 most similar part pairs by co-order-neighborhood Jaccard
    * ([[graft.operators.Graph.nodeSimilarity]]) — "parts bought in the
    * same baskets as yours", the entity-resolution / recommendation
    * primitive. Candidates come only from shared neighbors (posting-list
    * self-join with the hub-degree cap); the oracle replays adjacency,
    * cap, and the 1e-6-integer Jaccard exactly.
    */
  private def gNodeSimilarity(s: SparkSession, dir: String): DataFrame =
    // the co-order graph's degrees are scale-invariant (~120 at every SF:
    // parts and orders grow together), so the hub cap IS the cost knob —
    // candidate volume is nodes x cap^2; 64 keeps the posting self-join at
    // ~1/600 of the uncapped volume while full degrees still price the
    // Jaccard denominator
    graft.operators.Graph.nodeSimilarity(coOrderEdgesCanon(s, dir), "src", "dst",
      k = 20, maxDegree = 64, canonicalInput = true)

  /** Deequ-style data-quality audit ([[graft.operators.Expectations]]):
    * completeness, key uniqueness, bounds, value-set membership, and
    * referential integrity over orders in ONE aggregation pass plus one
    * FK anti-join — with a deliberately failing bounds check so both
    * report outcomes are exercised. All ratios are exact 1e-6 integers.
    */
  private def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    audit(t(s, dir, "orders"), Seq(
      Completeness("o_custkey"),
      Uniqueness("o_orderkey"),
      Bounds("o_totalprice", 0.0, 100000.0),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
  }

  /** Per-nation argmax as a SINGLE aggregation pass: the richest
    * customer per nation via `max(struct(acctbal, -custkey))` — struct
    * ordering is lexicographic, so the negated key breaks acctbal ties
    * toward the smallest custkey deterministically. This is the
    * scale-correct alternative to the row_number window ([[qWindowRank]]):
    * the partial max combines map-side, so the shuffle carries one struct
    * per (nation, partition) and no group is ever value-sorted — a nation
    * with 10⁹ customers costs the same shuffled bytes as one with 10
    * (struct buffers plan as SortAggregate — sorted by the GROUP key
    * only — since they aren't hash-aggregable; `PlanSpec` pins the
    * partial phase). The oracle replays it as a window with the matching
    * ORDER BY.
    */
  private def qArgmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(max(struct(col("c_acctbal"), (-col("c_custkey")).as("nk"))).as("m"))
      .select(col("c_nationkey"), col("m.c_acctbal").as("top_acctbal"),
        (-col("m.nk")).as("top_custkey"))

  /** Market-basket association rules over parts co-ordered together:
    * pair support by a within-order self-join (bounded — TPC-H orders
    * have ≤7 lines, so the per-order quadratic is a constant), then
    * confidence and lift from the per-item order counts. Item counts
    * arrive by plain equi-joins (AQE broadcasts them when small); the
    * single corpus scalar (order count) rides a 1-row broadcast
    * crossJoin, the same shape as [[Retrieval.bm25TopK]]'s corpus stats.
    * Lift/confidence are single IEEE divisions of exact integer counts —
    * association-order-free, so cross-engine doubles match bit for bit.
    */
  private def qMarketBasket(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 3)
    val item = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val nOrders = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(item.select(col("l_partkey").as("part_a"), col("n_item").as("n_a")), "part_a")
      .join(item.select(col("l_partkey").as("part_b"), col("n_item").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("n_ab") / col("n_a"), 6).as("confidence"),
        round(col("n_ab") * col("n_orders") / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** Frequent 3-itemsets over BOUNDED baskets: each basket collapses to
    * its sorted distinct-item array (TPC-H orders hold ≤7 lines; the
    * market-basket domain's basket size is a schema-level constant, not a
    * data-scale dimension), every C(B,3) ≤ 35 combination is generated
    * IN PLACE by a nested `transform`/`flatten` over index sequences —
    * embarrassingly parallel, no join — and the support count is one hash
    * aggregation whose partial combines map-side, so the shuffle carries
    * distinct candidate triples per partition, not basket-grain rows.
    *
    * This retires the round-11 shape (postings self-joins + a frequent-
    * pair semi-join prune + an orderkey sort-merge join): at sf30 that
    * plan's widest join sorted ~450M basket-pair rows and hit spill onset
    * (355 s, 1.6× above pair-linear — SCALING's fourth-decade probe);
    * here nothing is ever sorted at basket-pair grain. The A-priori
    * downward-closure prune the old plan demonstrated only pays once
    * C(B,3) itself is the bottleneck — i.e. UNBOUNDED baskets — which is
    * excluded by this operator's basket-size contract; the support
    * threshold is applied post-aggregation and is lossless either way, so
    * the oracle keeps counting triples directly.
    *
    * Scale shape: one |lineitem|→|orders| aggregation (collect_set
    * partials combine map-side), one map-side-combinable triple count,
    * one 1-row broadcast for the support denominator. No joins at data
    * scale, nothing sorts.
    */
  private def qBasketTriples(s: SparkSession, dir: String): DataFrame = {
    val arr = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      .pinned(true) // two consumers: the triple mine + the order count
    val nOrders = arr.agg(count(lit(1)).as("n_orders"))
    arr.where(size(col("items")) >= 3)
      // ascending index triples i<j<k over the SORTED distinct array, so
      // part_a < part_b < part_c by construction (sequence() would count
      // DOWN on an empty range — the size>=3 filter keeps every range
      // ascending and non-empty)
      .select(explode(expr("""
        flatten(flatten(transform(sequence(1, size(items) - 2), i ->
          transform(sequence(i + 1, size(items) - 1), j ->
            transform(sequence(j + 1, size(items)), k ->
              struct(element_at(items, i) AS a, element_at(items, j) AS b,
                element_at(items, k) AS c))))))""")).as("t"))
      .groupBy(col("t.a").as("part_a"), col("t.b").as("part_b"),
        col("t.c").as("part_c"))
      .agg(count(lit(1)).as("n_abc"))
      .where(col("n_abc") >= 2)
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("part_c"), col("n_abc"),
        round(col("n_abc").cast("double") / col("n_orders"), 6).as("support"))
  }

  /** Holt-Winters ADDITIVE seasonal forecast of weekly revenue
    * (α = β = γ = ½, season m = 4 weeks): [[qHoltForecast]]'s exact
    * dyadic-shift device extended with a rotating 4-slot seasonal buffer
    * inside the same `aggregate` fold — every update is integer adds and
    * arithmetic shifts, so the fold is bit-exact and the oracle replays
    * it as a recursive CTE with a list column. Forecast h steps out:
    * `l + h·b + s[h]` (the seasonal slot h−m steps back).
    *
    * Scale shape: identical to Holt — one fact-scan aggregation to week
    * grain (~350 rows at any SF), then a driverless single-row fold.
    */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "orders")
      .groupBy(expr(
        "unix_micros(cast(o_orderdate AS timestamp)) div 86400000000 div 7")
        .as("week"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_e2"))
    weekly.agg(sort_array(collect_list(struct(col("week"), col("rev_e2"))))
        .as("series"))
      .select(expr("transform(series, s -> s.rev_e2)").as("ys"))
      // empty corpus -> empty result (slice on a 0-length series is an
      // ANSI error; the oracle's `WHERE i = n_weeks` yields 0 rows too)
      .where(size(col("ys")) > 0)
      .select(size(col("ys")).cast("long").as("n_weeks"),
        expr("""aggregate(slice(ys, 2, size(ys) - 1),
            named_struct('l', ys[0], 'b', 0L,
              's', array(0L, 0L, 0L, 0L)),
            (acc, y) -> named_struct(
              'l', shiftright(y - acc.s[0] + acc.l + acc.b, 1),
              'b', shiftright(
                shiftright(y - acc.s[0] + acc.l + acc.b, 1) - acc.l + acc.b, 1),
              's', concat(slice(acc.s, 2, 3),
                array(shiftright(y - acc.l - acc.b + acc.s[0], 1)))),
            acc -> acc)""").as("hw"))
      .select(col("n_weeks"), col("hw.l").as("level_e2"),
        col("hw.b").as("trend_e2"),
        (col("hw.l") + lit(1L) * col("hw.b") + element_at(col("hw.s"), 1))
          .as("fc1_e2"),
        (col("hw.l") + lit(2L) * col("hw.b") + element_at(col("hw.s"), 2))
          .as("fc2_e2"),
        (col("hw.l") + lit(3L) * col("hw.b") + element_at(col("hw.s"), 3))
          .as("fc3_e2"),
        (col("hw.l") + lit(4L) * col("hw.b") + element_at(col("hw.s"), 4))
          .as("fc4_e2"))
  }

  /** Rolling one-step-ahead backtest of the [[qHoltForecast]] recursion:
    * at every week t the PRE-UPDATE state forecasts `l + b`, the error
    * against the observed y_t accumulates |err| and signed err INSIDE
    * the same exact integer fold — so the forecast quality metrics (MAE,
    * bias) come out of one pass with zero extra scans, and every
    * intermediate is a bit-exact long. The honest-evaluation complement
    * to [[qHoltForecast]]: a forecast row without its backtest row is
    * unfalsifiable.
    */
  private def qHoltBacktest(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "orders")
      .groupBy(expr(
        "unix_micros(cast(o_orderdate AS timestamp)) div 86400000000 div 7")
        .as("week"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_e2"))
    weekly.agg(sort_array(collect_list(struct(col("week"), col("rev_e2"))))
        .as("series"))
      .select(expr("transform(series, s -> s.rev_e2)").as("ys"))
      // empty corpus -> empty result (slice on a 0-length series is an
      // ANSI error; the oracle's `WHERE i = n_weeks` yields 0 rows too)
      .where(size(col("ys")) > 0)
      .select(size(col("ys")).cast("long").as("n_weeks"),
        expr("""aggregate(slice(ys, 2, size(ys) - 1),
            named_struct('l', ys[0], 'b', 0L, 'ae', 0L, 'se', 0L),
            (acc, y) -> named_struct(
              'l', shiftright(y + acc.l + acc.b, 1),
              'b', shiftright(shiftright(y + acc.l + acc.b, 1) - acc.l + acc.b, 1),
              'ae', acc.ae + abs(y - (acc.l + acc.b)),
              'se', acc.se + (y - (acc.l + acc.b))),
            acc -> acc)""").as("bt"))
      .select(col("n_weeks"),
        // metrics as EXACT integer half-away-from-zero rounding at e4
        // grain — round(ae·100/(n−1)) = (2·ae·100 + (n−1)) div (2(n−1))
        // on longs — because the double path landed a fuzz-corpus bias
        // on a .xxxx5 boundary where Spark's BigDecimal HALF_UP and
        // DuckDB's float rounding disagree in the last decimal. The
        // final /10000.0 maps the same exact integer to the same double
        // on both engines. A 1-week series has no one-step errors: NULL.
        when(col("n_weeks") === 1L, lit(null).cast("double"))
          .otherwise(expr(
            "(2 * bt.ae * 100 + (n_weeks - 1)) div (2 * (n_weeks - 1))")
            .cast("double") / 10000.0).as("mae"),
        when(col("n_weeks") === 1L, lit(null).cast("double"))
          .otherwise((signum(col("bt.se").cast("double")) * expr(
            "(2 * abs(bt.se) * 100 + (n_weeks - 1)) div (2 * (n_weeks - 1))")
            .cast("double")) / 10000.0).as("bias"))
  }

  /** Degree assortativity (Newman 2002) of the co-order part graph: the
    * Pearson correlation of endpoint degrees over all DIRECTED edge
    * slots — positive means hubs buy with hubs (social-network shape),
    * negative means hubs pair with the periphery (the usual
    * catalog/basket shape).
    *
    * Scale shape — the directed-slot sums COLLAPSE ONTO THE DEGREE
    * TABLE: node a is the source of exactly deg_a slots, so
    * Σ dx = Σ_a deg_a², Σ dx² = Σ_a deg_a³, n = Σ_a deg_a, and by
    * symmetry sy/syy equal sx/sxx — none of those touch the edge list.
    * The ONLY edge-scale work is t_a = Σ_{b∈N(a)} deg_b (one join of
    * the pinned edge list with the node-grain degree table, one
    * aggregation back to node grain), giving Σ dx·dy = Σ_a deg_a·t_a.
    * A first draft joined deg onto BOTH endpoints of every edge and
    * aggregated at edge grain — two chained edge-wide sort-joins that
    * went 60× at the sf1→sf10 decade; this shape is one edge join +
    * node-grain everything else. Overflow bound: Σdeg³ must fit 2⁶³
    * (deg ≤ ~2¹³ at 2²⁴ nodes worst-case) — widen to decimal beyond,
    * per modularity's 4m² note.
    */
  private def gAssortativity(s: SparkSession, dir: String): DataFrame = {
    // both directions via the narrow mirror of the pinned canonical half
    // — the dedup shuffle carried half the bytes (guide §2.3)
    val e = coOrderEdgesBoth(s, dir) // deg + nbr join (reads of the pin)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .pinned(true) // nbr join + the node-grain sums
    // size-gated broadcast (the Transforms.antiJoinUploaded discipline):
    // while the node-grain degree table is small (≤4M nodes ≈ tens of
    // MB) broadcasting it keeps the edge list — the 100 TB side — from
    // being shuffled AND sorted for this join (measured: the sort-merge
    // path added ~150 s at the sf10 decade). Beyond the gate the
    // fallback is a SHUFFLE_HASH hint on the NODE side, not the default
    // sort-merge: hash-building the node-grain table per partition keeps
    // the edge list — the 100 TB side — from ever being SORTED. This
    // gate flip was the real fourth-decade discontinuity: sf10 (2M
    // nodes) rode the broadcast, sf30 (6M nodes) fell into a 1.9B-row
    // edge sort that read as "2.5x above edge-linear" in the round-11
    // probe before its GC drag was even counted. The count is a
    // metadata-cheap scan of the just-checkpointed table (the pageRank
    // nCount precedent).
    val degSmall = deg.select(col("id").as("nid"), col("deg").as("nd"))
    val degHinted = if (deg.count() <= 4000000L) broadcast(degSmall)
      else degSmall.hint("SHUFFLE_HASH")
    val nbr = e.join(degHinted, col("dst") === col("nid"))
      .groupBy(col("src").as("id")).agg(sum(col("nd")).as("tnbr"))
    val sums = deg.join(nbr, Seq("id"))
      .agg(sum(col("deg")).as("n_edges"),
        sum(col("deg") * col("deg")).as("sx"),
        sum(col("deg") * col("deg") * col("deg")).as("sxx"),
        sum(col("deg") * col("tnbr")).as("sxy"))
    // symmetric marginals (sy = sx, syy = sxx) ⇒ the Pearson ratio needs
    // no sqrt: r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)
    val n = col("n_edges").cast("double")
    val num = n * col("sxy") - col("sx").cast("double") * col("sx")
    val den = n * col("sxx") - col("sx").cast("double") * col("sx")
    sums.select(col("n_edges"),
      round(when(den === 0.0, lit(0.0)).otherwise(num / den), 6)
        .as("assortativity"))
  }

  /** Mixture sequential probability ratio test (mSPRT — Johari et al.,
    * "Peeking at A/B Tests", KDD 2017): the ALWAYS-VALID p-value for the
    * running A/B difference, the statistic that lets an experimenter
    * peek continuously without inflating false positives — the
    * sequential complement to the fixed-horizon [[qPowerMde]].
    * `Λ = √(V/(V+τ²)) · exp(δ̂²τ²/(2V(V+τ²)))`, `p = min(1, 1/Λ)` with
    * `V = s²_A/n_A + s²_B/n_B` and the mixture variance τ² set to the
    * pooled arm variance. Everything flows from the same order-free
    * integer sufficient statistics as [[qAbCuped]]; the log/exp pair is
    * scalar double arithmetic on identical inputs in both engines.
    */
  private def qMsprt(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
      .select(when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
        .as("arm"), col("y"))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
    // pivot the 2 arms into one row via conditional aggregation (no
    // window, no join) then do the scalar mSPRT arithmetic in doubles
    val one = arms.agg(
      max(when(col("arm") === "A", col("n"))).as("n_a"),
      max(when(col("arm") === "A", col("sy"))).as("sy_a"),
      max(when(col("arm") === "A", col("syy"))).as("syy_a"),
      max(when(col("arm") === "B", col("n"))).as("n_b"),
      max(when(col("arm") === "B", col("sy"))).as("sy_b"),
      max(when(col("arm") === "B", col("syy"))).as("syy_b"))
    def meanD(sy: Column, n: Column): Column = sy.cast("double") / n / 100.0
    // unbiased sample variance in dollars² from integer sums; a 1-user
    // arm has no variance estimate → NULL (n(n−1) = 0)
    def varD(n: Column, sy: Column, syy: Column): Column =
      (n.cast("double") * syy - sy.cast("double") * sy) /
        nz(n.cast("double") * (n.cast("double") - 1.0)) / 10000.0
    val va = varD(col("n_a"), col("sy_a"), col("syy_a"))
    val vb = varD(col("n_b"), col("sy_b"), col("syy_b"))
    val delta = meanD(col("sy_b"), col("n_b")) - meanD(col("sy_a"), col("n_a"))
    // zero pooled variance (every user total identical) → NULL statistic
    // instead of an ANSI divide-by-zero error
    val bigV0 = va / col("n_a") + vb / col("n_b")
    val bigV = when(bigV0 === 0.0, lit(null)).otherwise(bigV0)
    val tau2 = (va + vb) / 2.0
    val logLambda = lit(0.5) * log(bigV / (bigV + tau2)) +
      delta * delta * tau2 / (lit(2.0) * bigV * (bigV + tau2))
    one.select(col("n_a"), col("n_b"), round(delta, 4).as("delta"),
      round(logLambda, 6).as("log_lambda"),
      round(least(lit(1.0), exp(-logLambda)), 6).as("p_always_valid"))
  }

  /** Degree distribution + Hill power-law tail MLE of the co-order part
    * graph: the histogram (degree → node count) every graph-data audit
    * starts with, plus `α̂ = 1 + n_tail / Σ_{d ≥ dmin} ln(d/dmin)` (Hill
    * 1975; the Clauset-Shalizi-Newman continuous MLE) over the d ≥ 64
    * tail as a corpus-scalar column — fat-tail degree audits decide
    * whether hub-capped joins ([[gNodeSimilarity]]) are needed.
    *
    * Scale shape: the co-order self-join is the data term (keyed on the
    * basket id); degrees are one count per node, the histogram one count
    * per distinct degree, and α̂ one global aggregate riding a 1-row
    * broadcast.
    */
  private def gDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val deg = coOrderEdgesBoth(s, dir)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
      .pinned(true) // histogram + tail scalar
    val dmin = 64
    val tail = deg.where(col("degree") >= dmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("degree").cast("double") / dmin)).as("sum_ln"))
    val alphaRow = tail.select(col("n_tail"),
      when(col("sum_ln") > 0.0,
        round(lit(1.0) + col("n_tail").cast("double") / col("sum_ln"), 4))
        .otherwise(lit(null).cast("double")).as("alpha_hill"))
    deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(alphaRow))
  }

  /** Per-nation z-score outliers on order value: one stats aggregation
    * (avg + stddev_pop — map-side-combinable moments), joined back to the
    * facts, |z| filtered on the ROUNDED score so the last-ulp summation
    * noise between engines can't flip the cut. Two shuffles total on the
    * same key; the stats side is group-count-sized, so AQE broadcasts it.
    * The 1.65 cut suits the synthetic uniform totalprice (max |z| ≈ 1.83
    * for a uniform distribution — no 3σ tail exists to ask for).
    */
  private def qZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("o_orderkey"), col("o_totalprice"))
    val stats = j.groupBy(col("c_nationkey"))
      .agg(avg(col("o_totalprice")).as("m"), stddev_pop(col("o_totalprice")).as("sd"))
    j.join(stats, "c_nationkey")
      .select(col("c_nationkey"), col("o_orderkey"),
        round((col("o_totalprice") - col("m")) / nz(col("sd")), 4).as("z"))
      .where(abs(col("z")) >= 1.65)
  }

  /** Fuzzy record linkage with blocking: part-name pairs within the same
    * brand block at edit distance ≤ 2. Two scale disciplines compose:
    * blocking bounds which pairs are candidates at all (a block IS a
    * candidate bucket, the LSH cap discipline), and the edit distance is
    * computed over DISTINCT (brand, name) values — never row pairs — so
    * the quadratic term is in distinct names per block, not records per
    * block (10⁸ records with 10⁴ distinct names cost 10⁴², not 10⁸²·…).
    * Matching name pairs then expand back to id pairs by two equi-joins,
    * output-sized by construction. Integer distances, so the DuckDB
    * oracle (the naive row-pair formulation) matches exactly.
    */
  private def qFuzzyBlock(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_name"))
    val dn = p.select(col("p_brand"), col("p_name")).distinct()
    val nameP = dn.as("x").join(dn.as("y"),
        col("x.p_brand") === col("y.p_brand") && col("x.p_name") <= col("y.p_name"))
      .select(col("x.p_brand").as("brand"), col("x.p_name").as("na"),
        col("y.p_name").as("nb"),
        levenshtein(col("x.p_name"), col("y.p_name")).as("dist"))
      .where(col("dist") <= 2)
    nameP
      .join(p.select(col("p_brand").as("brand"), col("p_name").as("na"),
        col("p_partkey").as("ida")), Seq("brand", "na"))
      .join(p.select(col("p_brand").as("brand"), col("p_name").as("nb"),
        col("p_partkey").as("idb")), Seq("brand", "nb"))
      // same-name pairs appear once per unordered id pair; cross-name
      // pairs appear once per name pair, in either id order
      .where(col("na") < col("nb") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("part_a"),
        greatest(col("ida"), col("idb")).as("part_b"), col("dist"))
  }

  /** Jaro-Winkler record-linkage scoring over brand-blocked part names —
    * [[qFuzzyBlock]]'s scored sibling: the codegen'd
    * [[graft.functions.Kernels.jaroWinkler]] kernel (DuckDB-compatible
    * variant, boost only above jaro 0.7) scores DISTINCT name pairs
    * inside each brand block; the threshold applies to the ROUNDED score
    * so a last-ulp wobble can't flip membership. The oracle scores the
    * same pairs with DuckDB's native jaro_winkler_similarity — the two
    * independent implementations must agree to 6 decimals on every pair.
    */
  private def qLinkageScore(s: SparkSession, dir: String): DataFrame = {
    val dn = t(s, dir, "part").select(col("p_brand"), col("p_name")).distinct()
    dn.as("x").join(dn.as("y"),
        col("x.p_brand") === col("y.p_brand") && col("x.p_name") < col("y.p_name"))
      .select(col("x.p_brand").as("brand"), col("x.p_name").as("name_a"),
        col("y.p_name").as("name_b"),
        round(graft.functions.KernelExpressions.jaroWinkler(
          col("x.p_name"), col("y.p_name")), 6).as("jw"))
      .where(col("jw") >= 0.92)
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * next-event lookup by one window pass (the [[qLeadLag]] sort, reused
    * discipline — a single per-user partition sort serves the lead), then
    * transition counts and row-normalized probabilities. The transition
    * table is (event types)² — KBs at any corpus size — so the
    * normalizing window runs over a trivially small input; all heavy work
    * is the one keyed sort.
    */
  private def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val c = t(s, dir, "events")
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("next_type").as("dst_type"))
      .agg(count(lit(1)).as("n"))
    c.select(col("src_type"), col("dst_type"), col("n"),
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("src_type"))), 6)
        .as("p"))
  }

  /** Relational data profiling — the per-column audit a warehouse runs
    * before trusting a feed: row/null/distinct counts, value ranges, and
    * date coverage for `orders`, in ONE aggregation job. The two exact
    * distinct counts expand the input ×2 (Spark's Expand for multi-
    * distinct) — the documented cost of exactness; swap in
    * [[graft.operators.Sketches.kmvDistinct]] when approximate is enough.
    */
  private def qProfileStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      countDistinct(col("o_orderstatus")).as("n_statuses"),
      countDistinct(col("o_orderpriority")).as("n_priorities"),
      round(min(col("o_totalprice")), 2).as("min_price"),
      round(max(col("o_totalprice")), 2).as("max_price"),
      min(col("o_orderdate").cast("date")).as("first_date"),
      max(col("o_orderdate").cast("date")).as("last_date"))

  /** TPC-H-Q7-shaped shipping volume: line revenue between (supplier
    * nation, customer nation) pairs by ship year. The fact chain shuffles
    * on its join keys; supplier and nation are broadcast dimensions.
    * Revenue sums as exact integer ten-thousandths ([[qArrayHof]]'s
    * device) so the cross-engine hash can't hit a rounding boundary.
    */
  private def qNationVolume(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
    val revE4 = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sk"))
      .join(broadcast(nat.select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("ck"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(sum(revE4).as("revenue_e4"))
  }

  /** TPC-H-Q4-shaped priority audit: orders with at least one line
    * shipped more than 60 days after the order date, counted by
    * priority. The EXISTS compiles to a LEFT SEMI hash join on the order
    * key (the date bound rides as a join residual) — each order emits at
    * most once regardless of how many lines qualify, so no
    * distinct-after-join is ever needed.
    */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val late = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
    t(s, dir, "orders")
      .join(late, col("o_orderkey") === late("l_orderkey") &&
        col("ship") > date_add(col("o_orderdate").cast("date"), 60), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
  }

  /** Wide→long reshape (unpivot/melt): the per-flag pricing sums rotated
    * into (measure, value) rows with `stack` — one Generate over the
    * already-aggregated (tiny) table, so the reshape costs nothing at any
    * scale; the dual of [[q_pivot]]'s conditional aggregation.
    */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .select(col("l_returnflag"), col("l_linestatus"),
        expr("stack(2, 'sum_qty', sum_qty, 'sum_price', sum_price) AS (measure, value)"))

  /** Ratio-to-report WITHOUT the global window: each nation's share of
    * total revenue. `sum() OVER ()` would funnel every row through ONE
    * partition — the classic scale trap; here the total is a 1-row
    * aggregate of the already-grouped (group-count-sized) table riding a
    * broadcast crossJoin, so nothing ever single-partitions. Revenue in
    * exact integer ten-thousandths; the share is one IEEE division.
    */
  private def qRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val revE4 = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
    val byNation = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(revE4).as("revenue_e4"))
    val total = byNation.agg(sum(col("revenue_e4")).as("total_e4"))
    byNation.crossJoin(broadcast(total))
      .select(col("c_nationkey"), col("revenue_e4"),
        // nz: an all-zero-price corpus zeroes the total — NULL share
        round(col("revenue_e4") / nz(col("total_e4")), 6).as("share"))
  }

  /** Gap-filled hourly resampling: purchase counts on a COMPLETE hour
    * spine. The spine generates distributively — a 1-row (min, max)
    * aggregate rides a broadcast crossJoin into `explode(sequence(...))`
    * — never a driver-side range loop; missing hours join to zero. The
    * spine is time-span-sized (metadata scale), so the left join
    * broadcasts the actuals... or the spine; either side is tiny
    * relative to the event scan that built them.
    */
  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(date_trunc("hour", timestamp_micros(tsUs)).as("hour"),
        col("event_type"))
    val actual = ev.where(col("event_type") === "purchase")
      .groupBy(col("hour")).agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hour"))
    spine.join(actual, Seq("hour"), "left_outer")
      .select(col("hour"), coalesce(col("n"), lit(0L)).as("n_purchases"))
  }

  /** Cumulative distinct users by day, decomposed scale-correctly: a
    * naive `count(DISTINCT user) OVER (ORDER BY day)` carries unbounded
    * distinct state through one partition; instead each user reduces to
    * their FIRST day (one keyed aggregation over the full stream), and
    * the cumulative sum runs over the day-grain table — bounded,
    * metadata-sized input where a global window is fine (contrast
    * [[qRevenueShare]], which avoids one over row-scale data).
    */
  private def qCumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val firstDay = t(s, dir, "events")
      .select(col("user_id"), to_date(timestamp_micros(tsUs)).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users",
        sum(col("n_new")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Pairwise Pearson correlations between lineitem measures in ONE
    * aggregation pass (all `corr` sufficient statistics are map-side-
    * combinable moments — no per-pair scans), unpivoted to long form.
    * Rounded to 6 decimals: the moment sums differ between engines only
    * in the last ulp.
    */
  // manual Pearson instead of corr(): the built-in's internal division
  // is not nullif-guardable, and ANSI mode errors it on a zero-variance
  // column; covar_pop/var_pop compute the same co-moments (round(6)
  // absorbs the last-ulp division-order difference vs DuckDB's corr)
  private def corrNz(a: Column, b: Column): Column =
    round(covar_pop(a, b) / nz(sqrt(var_pop(a)) * sqrt(var_pop(b))), 6)

  private def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(corrNz(col("l_quantity"), col("l_extendedprice")).as("qty_price"),
        corrNz(col("l_quantity"), col("l_discount")).as("qty_disc"),
        corrNz(col("l_extendedprice"), col("l_discount")).as("price_disc"))
      .select(expr("stack(3, 'qty_price', qty_price, 'qty_disc', qty_disc, " +
        "'price_disc', price_disc) AS (pair, r)"))

  /** Corpus-drift audit: Jensen-Shannon divergence of each source's
    * language distribution from the corpus-wide one. The heavy pass is a
    * single (source, lang) count; everything after runs on
    * sources×languages rows (metadata scale) — per-source totals and the
    * corpus mixture ride group-count-sized joins, and the JS sum is a
    * groupBy over the same tiny table. Base-2 logs, round(6): per-row
    * arithmetic is identical cross-engine; only the final small sum can
    * wobble in the last ulp.
    */
  private def tJsDivergence(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
    val bySource = cnt.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
    val byLang = cnt.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    val total = cnt.agg(sum(col("n")).as("n_tot"))
    val log2 = (c: Column) => log(c) / log(lit(2.0))
    val p = col("n") / col("n_src")
    val q = col("n_lang") / col("n_tot")
    val m = (p + q) / 2
    // languages a source NEVER saw (p = 0) contribute q·log2(q/(q/2))/2 =
    // q/2 each; folded in closed form as (1 − Σ_present q)/2 so no
    // source×lang grid (and no cross join) is ever built
    cnt.join(bySource, "source").join(byLang, "lang")
      .crossJoin(broadcast(total))
      .select(col("source"),
        (p * log2(p / m) / 2 + q * log2(q / m) / 2).as("term"),
        q.as("q"))
      .groupBy(col("source"))
      .agg(round(sum(col("term")) + (lit(1.0) - sum(col("q"))) / 2, 6)
        .as("js_divergence"))
  }

  /** Exact 2-D skyline (Pareto front): orders not strictly dominated on
    * (price, order date). Decomposed so NO row-scale global window
    * exists: domination splits into (a) rows in strictly HIGHER price
    * buckets — covered by a per-bucket max-date prefix over the
    * bucket-count-sized table — and (b) same-bucket rows with strictly
    * higher price — covered by a window PARTITIONED by bucket (each
    * partition sorts independently). Prices are exact integer cents, so
    * "strictly higher" is a RANGE frame offset of 1; dates at day grain.
    * An order survives iff neither component produced a strictly later
    * date. The oracle is the quadratic NOT EXISTS formulation.
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val priceE2 = round(col("o_totalprice") * 100, 0).cast("long")
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), priceE2.as("price_e2"),
        col("o_orderdate").cast("date").as("d"))
      .withColumn("bucket", (col("price_e2") / 100000L).cast("long"))
    // (a) cross-bucket: max date per bucket, then the running max over all
    // STRICTLY higher buckets — a window over ~price-range/1000 rows
    val bmax = base.groupBy(col("bucket")).agg(max(col("d")).as("bd"))
      .withColumn("hi_d",
        max(col("bd")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bucket"), col("hi_d"))
    // (b) same-bucket: running max date over strictly higher price,
    // partitioned by bucket — no global sort anywhere
    val sameBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("price_e2").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("same_d", max(col("d")).over(sameBucket))
      .join(broadcast(bmax), Seq("bucket"), "left_outer")
      .where((col("same_d").isNull || col("same_d") <= col("d")) &&
        (col("hi_d").isNull || col("hi_d") <= col("d")))
      .select(col("o_orderkey"), col("price_e2"), col("d"))
  }

  /** Seasonality profile: event volume and mean value by (day-of-week,
    * hour-of-day) — the activity heatmap behind load forecasting and
    * anomaly baselines. One aggregation to a 7×24-bounded table; the
    * mean is integer-stabilized (micro-unit sums) like the cluster
    * profiles so the hash can't wobble with partitioning.
    */
  private def qSeasonality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(timestamp_micros(tsUs).as("t"), col("value"))
      .groupBy(dayofweek(col("t")).as("dow"), hour(col("t")).as("hod"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000000, 0).cast("long")).as("v_e6"))
      .select(col("dow"), col("hod"), col("n"),
        round(col("v_e6") / col("n") / 1000000.0, 6).as("avg_value"))

  /** CUSUM level-shift detection over hourly event volumes per type — the
    * standard feed-health monitor (is a source suddenly sending more/less
    * than its history?). S_t = cum_count − t·mean stays EXACT-integer on
    * the cumulative side (BIGINT cumsum, one double product), so the
    * argmax hour is stable cross-engine; the reported statistic is
    * max|S| / (σ·√n), > 3 flags a shift. The synthetic feed is level, so
    * a +37/hour step is PLANTED on one type from relative hour 500 and
    * the oracle replays the plant — the detection arithmetic is what is
    * proven (the planted type must flag, the others must not). Shape:
    * one bounded aggregation (types × 720 hours), one window pass.
    */
  private def qCusumShift(s: SparkSession, dir: String): DataFrame =
    cusumScore(t(s, dir, "events")
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hour_id"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("c")))

  /** Shared CUSUM scoring over an (event_type, hour_id, c) feed — the
    * plant + window arithmetic of q_cusum_shift, also fed by the
    * streaming drain in s_cusum_stream so both paths prove the same
    * detection arithmetic against one oracle form.
    */
  private def cusumScore(hourlyCounts: DataFrame): DataFrame = {
    val hourly = hourlyCounts
      .withColumn("rh", col("hour_id") -
        min(col("hour_id")).over(Window.partitionBy()))
      .withColumn("c2",
        col("c") + when(col("event_type") === "purchase" && col("rh") >= 500, 37L)
          .otherwise(0L))
    val byType = Window.partitionBy(col("event_type"))
    val seq = byType.orderBy(col("hour_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val scored = hourly
      .withColumn("mean", avg(col("c2")).over(byType))
      .withColumn("sd", stddev_pop(col("c2")).over(byType))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("cum", sum(col("c2")).over(seq))
      .withColumn("rn", row_number().over(byType.orderBy(col("hour_id"))))
      .withColumn("abs_s", abs(col("cum") - col("rn") * col("mean")))
    scored.groupBy(col("event_type"))
      .agg(max(struct(col("abs_s"), (-col("rh")).as("nrh"), col("sd"), col("n"))).as("m"))
      // sd=0 (a constant series, where abs_s is exactly 0 too) divides by 1
      // instead: stat 0 / not shifted — Spark's NULL-on-zero-divide and
      // DuckDB's inf would otherwise disagree at the gate
      .withColumn("sd1", when(col("m.sd") === 0.0, lit(1.0)).otherwise(col("m.sd")))
      .select(col("event_type"),
        col("m.n").as("n_hours"),
        (-col("m.nrh")).as("shift_rh"),
        round(col("m.abs_s") / (col("sd1") * sqrt(col("m.n"))), 6).as("stat"),
        (col("m.abs_s") / (col("sd1") * sqrt(col("m.n"))) > 3.0).as("shifted"))
  }

  /** Robust (MAD-based) outlier audit per order priority: median and
    * median-absolute-deviation of order totals, and how many orders sit
    * beyond 3·1.4826·MAD — the heavy-tail-immune sibling of
    * `q_zscore_outliers` (one planted whale can't inflate a median the way
    * it inflates a stddev). All medians run over 2×-cents LONGS, so the
    * even-count midpoint is an exact .0/.5 double and DuckDB's
    * quantile_cont agrees bit for bit — never a raw-double percentile.
    *
    * Medians are computed WITHOUT Spark's exact `percentile` (which
    * buffers every value of a group in one aggregation buffer —
    * unbounded per-group state, the shape that OOMs first at 100 TB):
    * each pass collapses to a value-grain count table,
    * [[Scan.groupedValueRanks]] attaches within-group cumulative counts
    * via the distributed prefix-sum scan, and the median is
    * (value-at-rank ⌊(n+1)/2⌋ + value-at-rank ⌈(n+1)/2⌉) div 2 — exact
    * long arithmetic (v2 is even, so the even-count midpoint divides
    * exactly). The per-group stats frames broadcast back, ≤|priorities|
    * rows each; nothing sorts or buffers more than a partition slice.
    */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    // quantile_cont(0.5) over n values sits at position (n+1)/2: lower
    // rank (n+1) div 2, upper rank (n+2) div 2, midpoint exact on evens
    def median2(vals: DataFrame, valCol: String, out: String): DataFrame = {
      val vc = vals.groupBy(col("prio"), col(valCol))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("gidx", substring(col("prio"), 1, 1).cast("long"))
      val ranks = graft.operators.Scan.groupedValueRanks(vc, "gidx", valCol, "cnt")
      ranks.groupBy(col("prio")).agg(
        ((min(when(col("cum_grp") >= expr("(n_grp + 1) div 2"), col(valCol))) +
          min(when(col("cum_grp") >= expr("(n_grp + 2) div 2"), col(valCol))))
          / lit(2L)).cast("long").as(out))
    }
    val v = t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
      (round(col("o_totalprice") * 100.0, 0).cast("long") * 2).as("v2"))
    val med = median2(v, "v2", "med2")
    val dev = v.join(broadcast(med), "prio")
      .select(col("prio"), abs(col("v2") - col("med2")).as("dev2"), col("med2"))
    val mad = median2(dev, "dev2", "mad2")
    dev.join(broadcast(mad), "prio")
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        max(col("med2")).as("med2_e2"),
        max(col("mad2")).as("mad2_e2"),
        sum(when(col("dev2").cast("double") >
          lit(3.0) * lit(1.4826) * col("mad2").cast("double"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Benford first-digit audit of order totals — the classic synthetic-
    * data / fraud detector (fabricated amounts don't follow log-law digit
    * frequencies). The digit comes off the STRING of exact integer cents
    * (never log10, whose last ulp can flip a 99.999… boundary); observed
    * shares are exact `n·1e6 div total` integers, the Benford expectation
    * is a fixed literal integer table on both engines, and the per-digit
    * chi-square term is rounded before anything sums it. One scan, one
    * 9-row aggregate.
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val expE6: Column = // round(1e6·log10(1+1/d)) as literals, d = 1..9
      when(col("digit") === "1", 301030L).when(col("digit") === "2", 176091L)
        .when(col("digit") === "3", 124939L).when(col("digit") === "4", 96910L)
        .when(col("digit") === "5", 79181L).when(col("digit") === "6", 66947L)
        .when(col("digit") === "7", 57992L).when(col("digit") === "8", 51153L)
        .otherwise(45757L)
    t(s, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100.0, 0).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("n * 1000000L div total").as("share_e6"),
        expE6.as("benford_e6"))
      .withColumn("chi_term_e6",
        round(pow(col("share_e6").cast("double") - col("benford_e6").cast("double"), 2)
          / col("benford_e6").cast("double"), 0).cast("long"))
  }

  /** Exact distinct users per event type via bitmap-OR
    * ([[graft.operators.Sketches.bitmapDistinct]] — sign-safe shift/mask
    * bit slots, map-side-combinable `bit_or`, exact popcount sum). The
    * oracle is the straight count(DISTINCT) — the bitmap path must
    * reproduce it exactly.
    */
  private def qBitmapDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.bitmapDistinct(
      t(s, dir, "events"), Seq("event_type"), "user_id")
      .withColumnRenamed("n_distinct", "n_users")

  /** STREAMING CUSUM feed-health monitor: the hourly per-type counts come
    * off a watermarked streaming window aggregate (≤ types×hours rows of
    * state), then the drained counts run through the SAME scoring as
    * `q_cusum_shift` ([[cusumScore]] — plant, exact-integer cumsum, argmax
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

  /** 7-day TRAILING revenue via a RANGE window frame — the value-based
    * frame (`RANGE 6 PRECEDING` on the integer day) that q_rolling_window's
    * ROWS frame cannot express once days go missing: a gap day must shrink
    * the trailing sum, not slide it. State is the day-grain table
    * (types×days rows), never raw events; revenue is 1e-6 integers so the
    * frame sums are exact.
    */
  private def qTrailingWindow(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day_id"))
      .agg(sum(round(col("value") * 1000000.0, 0).cast("long")).as("rev_e6"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_id"))
      .rangeBetween(-6, 0)
    daily.withColumn("trailing7_e6", sum(col("rev_e6")).over(w))
  }

  /** Join-key skew diagnostic — the audit you run BEFORE choosing between
    * a plain shuffle join, salting (q_salted_skew_join), or an AQE skew
    * split: per candidate key, the frequency distribution's size, max, and
    * median, and the max/median skew factor. One groupBy per key (the
    * frequency table is |keys|-sized); the median rides the 2× trick so
    * the even-count midpoint is an exact .0/.5 (q_mad_outliers' device)
    * and the skew factor is an exact integer division.
    */
  private def qSkewDiagnose(s: SparkSession, dir: String): DataFrame = {
    def keyStats(df: DataFrame, key: String, label: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("f"))
        .agg(lit(label).as("key"), count(lit(1)).as("n_keys"),
          max(col("f")).as("max_f"),
          (expr("percentile(f, 0.5)") * 2).cast("long").as("p50_x2"))
        .withColumn("skew_e6",
          expr("max_f * 2000000L div p50_x2"))
    keyStats(t(s, dir, "events"), "user_id", "events.user_id")
      .unionAll(keyStats(t(s, dir, "lineitem"), "l_orderkey",
        "lineitem.l_orderkey"))
      .unionAll(keyStats(t(s, dir, "orders"), "o_custkey", "orders.o_custkey"))
  }

  /** Poisson bootstrap of the mean order value — the resampling scheme
    * that works on a DISTRIBUTED scan: drawing n rows with replacement
    * needs a global sample, but giving each row an independent Poisson(1)
    * weight per replicate is embarrassingly parallel and asymptotically
    * the same bootstrap. Weights come from a deterministic row-content
    * hash mapped through floor(1e6·CDF) literal thresholds, so the oracle
    * replays every draw bit for bit. One scan: the 32 replicates explode
    * map-side and collapse into 32 (Σw, Σw·x) counters via partial
    * aggregation — the shuffle carries 32 rows per task, never 32× the
    * data. The 32-row output IS the bootstrap distribution of the mean
    * (its spread is the CI); sums are exact integers, divided once.
    */
  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val u = pmod(Dedup.shingleHash(concat(col("o_orderkey").cast("string"),
      lit(":"), col("b").cast("string"))), lit(1000000L))
    val w = when(u < 367879L, 0L).when(u < 735758L, 1L).when(u < 919698L, 2L)
      .when(u < 981011L, 3L).when(u < 996340L, 4L).when(u < 999405L, 5L)
      .when(u < 999916L, 6L).when(u < 999989L, 7L).otherwise(8L)
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("w", w)
      .groupBy(col("b").cast("long").as("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("wx"))
      .select(col("b"), col("n_eff"),
        // a replicate whose every weight drew 0 has no mean (tiny
        // corpora only — P ≈ e^{-n}); NULL, not an ANSI zero division
        (col("wx").cast("double") / nz(col("n_eff").cast("double")) / 100.0)
          .as("mean_price"))
  }

  /** Gaps-and-islands activity streaks: per-user runs of CONSECUTIVE
    * active days (day_number − row_number is constant within a run — the
    * classic islands device, one window pass on the user partitioning),
    * rolled up to a streak-length histogram. Everything is exact integer
    * day arithmetic; distinct-days first so duplicate events can't split
    * a run. The engagement-tenure signal next to q_cohort_retention.
    */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day_id"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_id"))
    days
      .withColumn("grp", col("day_id") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak_days"))
      .groupBy(col("streak_days"))
      .agg(count(lit(1)).as("n_streaks"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Exact 7-day sliding distinct active users per day WITHOUT re-counting
    * a distinct per window: each user's activity days merge into coverage
    * intervals [day, day+6] (gaps-and-islands on the user partitioning —
    * a new island starts when the gap exceeds the window), and each merged
    * interval explodes into the days it covers. Islands of one user never
    * overlap, so a plain count per day IS the distinct count — total
    * exploded rows are bounded by 7× the distinct (user, day) pairs, vs
    * the naive 7× full distinct re-aggregation per day.
    */
  private def qSlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day_id"))
    graft.operators.Temporal.slidingDistinct(days, "user_id", "day_id", 7)
      .withColumnRenamed("n_distinct", "active_users_7d")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the purchase and
    * click value distributions — the "did the distribution shift?" audit
    * next to q_psi_drift's binned PSI. The empirical CDFs ride
    * [[graft.operators.Scan.prefixSum]] (range-partitioned two-pass scan)
    * instead of a global window, so the cumulative never single-
    * partitions the distinct-value frame. D is the max of exact integer
    * cross-multiplications |c1·N2 − c2·N1| (ties broken toward the
    * smallest value via struct ordering), divided once at the end.
    */
  private def qKsStat(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(round(col("value") * 100.0, 0).cast("long").as("val_e2"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
    val perVal = ev.groupBy(col("val_e2"))
      .agg(sum(col("is_p")).as("n1"), sum(lit(1L) - col("is_p")).as("n2"))
      .pinned() // two consumers: the scan and the totals
    val cum = graft.operators.Scan
      .prefixSum(perVal, "val_e2", "n1", "c1", Seq("n2"))
    // totals from the distinct-value frame — never a second row-scale scan
    val tot = perVal.agg(sum(col("n1")).as("tot1"), sum(col("n2")).as("tot2"))
    cum.crossJoin(broadcast(tot))
      .select(
        abs(col("c1") * col("tot2") - col("cum_n2") * col("tot1")).as("adiff"),
        (-col("val_e2")).as("negv"), col("tot1"), col("tot2"))
      .agg(max(struct(col("adiff"), col("negv"), col("tot1"), col("tot2")))
        .as("m"))
      .select(
        round(col("m.adiff").cast("double") /
          nz((col("m.tot1") * col("m.tot2")).cast("double")), 6).as("ks_stat"),
        ((-col("m.negv")).cast("double") / 100.0).as("at_value"),
        col("m.tot1").as("n_purchase"), col("m.tot2").as("n_click"))
  }

  /** Exact Gini coefficient of per-customer revenue — the inequality /
    * concentration audit (is 80% of revenue held by 2% of customers?).
    * The rank-sum formula G = 2·Σᵢ i·x₍ᵢ₎ / (N·Σx) − (N+1)/N needs every
    * row's global rank; instead of a single-partition sort, VALUE-GROUPED
    * counts ride [[graft.operators.Scan.prefixSum]]: a tied block of n
    * equal values x whose cumulative count ends at c contributes
    * x·(n·(c−n) + n(n+1)/2) — exact integers end to end (decimal(38,0)
    * accumulators, cents inputs), ONE double division at the end; both
    * engines cast the same exact integers, so the rounding is identical.
    */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100.0, 0).cast("long")).as("v_e2"))
    val perVal = rev.groupBy(col("v_e2")).agg(count(lit(1)).as("nv"))
    graft.operators.Scan.prefixSum(perVal, "v_e2", "nv", "cum_n")
      .select(
        (col("v_e2").cast("decimal(38,0)") *
          expr("nv * (cum_n - nv) + (nv * (nv + 1)) div 2")
            .cast("decimal(38,0)")).as("contrib"),
        col("nv"),
        (col("v_e2").cast("decimal(38,0)") * col("nv").cast("decimal(38,0)"))
          .as("tot"))
      .agg(sum(col("contrib")).as("s"), sum(col("nv")).as("n"),
        sum(col("tot")).as("t"))
      .select(
        // nz: zero total revenue (all-zero-price corpus) makes the Gini
        // undefined — NULL, not DIVIDE_BY_ZERO
        round(lit(2.0) * col("s").cast("double") /
            nz(col("n").cast("double") * col("t").cast("double")) -
          (col("n").cast("double") + 1.0) / col("n").cast("double"), 6)
          .as("gini"),
        col("n").as("n_customers"))
  }

  /** Shared dyadic-EWMA scoring of a day-grain (day_id, rev_e2) frame —
    * the arithmetic of [[qEwmaAnomaly]], reused verbatim by the streaming
    * dual so one oracle form proves both paths (the [[sCusumStream]]
    * precedent).
    */
  private def ewmaScore(daily: DataFrame): DataFrame = {
    val span = daily.agg(min(col("day_id")).as("min_day"),
      max(col("day_id")).as("max_day"))
    daily
      .select(col("day_id").as("src_day"), col("rev_e2"),
        explode(sequence(lit(0L), lit(13L))).as("k"))
      .select((col("src_day") + col("k")).as("day_id"),
        expr("rev_e2 * shiftleft(1L, cast(13 - k AS INT))").as("num_part"),
        when(col("k") === 0L, col("rev_e2")).otherwise(0L).as("rev_part"))
      .groupBy(col("day_id"))
      .agg(sum(col("num_part")).as("num"), sum(col("rev_part")).as("rev_e2"))
      .crossJoin(broadcast(span))
      .filter(col("day_id") <= col("max_day"))
      .withColumn("m", least(lit(13L), col("day_id") - col("min_day")))
      .withColumn("wsum", expr("16384L - shiftleft(1L, cast(13 - m AS INT))"))
      .select(col("day_id"),
        (col("rev_e2").cast("double") / 100.0).as("revenue"),
        round(col("num").cast("double") / col("wsum").cast("double") / 100.0, 6)
          .as("ewma"),
        when(col("rev_e2") * 2L * col("wsum") > col("num") * 3L, 1L)
          .otherwise(0L).as("spike"))
  }

  /** Lorenz concentration deciles — [[qGini]]'s business-facing companion
    * ("the top 10% of customers hold X% of revenue"): customers sorted by
    * revenue, cut into 10 EXACT rank deciles, each reporting its customer
    * count, revenue share, and the cumulative share up to it. Global
    * ranks come from the same value-grouped prefix-sum scan as Gini (ties
    * split deterministically: a tied block's rows fill ranks
    * cum−n+1 … cum, so decile boundaries inside a block allocate by rank
    * arithmetic, not by row order) — never a single-partition sort. All
    * integer cents until the final share divisions.
    */
  private def qLorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100.0, 0).cast("long")).as("v_e2"))
    val perVal = rev.groupBy(col("v_e2")).agg(count(lit(1)).as("nv"))
    val cum = graft.operators.Scan.prefixSum(perVal, "v_e2", "nv", "cum_n")
      .pinned() // read by the totals agg AND the decile explode
    val tot = cum.agg(max(col("cum_n")).as("n_tot"))
    // ranks cum_n−nv+1 … cum_n belong to this value block; a rank r sits
    // in decile ((r−1)·10) div n_tot — explode each block into the (≤10)
    // deciles it spans, allocating its per-rank revenue exactly
    cum.crossJoin(broadcast(tot))
      .select(col("v_e2"), col("nv"), col("cum_n"), col("n_tot"),
        explode(sequence(
          expr("((cum_n - nv) * 10) div n_tot"),
          expr("((cum_n - 1) * 10) div n_tot"))).as("decile"))
      // ranks of this block inside this decile: decile d owns global ranks
      // [⌈d·n/10⌉+1, ⌈(d+1)·n/10⌉] (decile(r) = ((r−1)·10) div n is
      // nondecreasing, so the overlap with the block is contiguous)
      .withColumn("lo", greatest(col("cum_n") - col("nv") + 1,
        expr("(decile * n_tot + 9) div 10 + 1")))
      .withColumn("hi", least(col("cum_n"),
        expr("((decile + 1) * n_tot + 9) div 10")))
      .filter(col("hi") >= col("lo"))
      .withColumn("k", col("hi") - col("lo") + 1)
      .groupBy(col("decile"))
      .agg(sum(col("k")).as("n_customers"),
        sum(col("k") * col("v_e2")).as("rev_e2"))
      // nz: zero total revenue (all-zero-price corpus) → NULL shares
      .withColumn("share",
        round(col("rev_e2").cast("double") /
          nz(sum(col("rev_e2")).over(Window.partitionBy())), 6))
      .withColumn("cum_share",
        round(sum(col("rev_e2")).over(Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") /
          nz(sum(col("rev_e2")).over(Window.partitionBy())), 6))
      .select(col("decile"), col("n_customers"),
        (col("rev_e2").cast("double") / 100.0).as("revenue"),
        col("share"), col("cum_share"))
  }

  /** ABC / Pareto classification of parts by revenue: class A = parts
    * reached before the descending-revenue cumulative share crosses 80%,
    * B before 95%, C the tail — inventory analytics' standard cut.
    * NO descending sort anywhere: the ASCENDING value-grain prefix sum
    * ([[graft.operators.Scan.prefixSum]] weighted by block revenue)
    * gives `desc_excl(v) = T − cum_asc_incl(v)` by algebra, and the
    * class cuts are EXACT integer comparisons (`desc_excl·100 < 80·T`)
    * on cent-scaled longs, so no double can flip a boundary part.
    * Value-tied parts share a block and therefore a class.
    */
  private def qAbcClasses(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100.0, 0).cast("long"))
        .as("v_e2"))
    val perVal = rev.groupBy(col("v_e2"))
      .agg(count(lit(1)).as("nv"),
        (count(lit(1)) * col("v_e2")).as("block_rev"))
    val cum = graft.operators.Scan
      .prefixSum(perVal, "v_e2", "block_rev", "cum_rev")
      .pinned() // totals agg + the classed rollup
    val tot = cum.agg(max(col("cum_rev")).as("t_rev"))
    cum.crossJoin(broadcast(tot))
      .withColumn("desc_excl", col("t_rev") - col("cum_rev"))
      .withColumn("abc_class",
        when(col("desc_excl") * 100 < col("t_rev") * 80, "A")
          .when(col("desc_excl") * 100 < col("t_rev") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(sum(col("nv")).as("n_parts"),
        round(sum(col("block_rev")).cast("double") / 100.0, 2).as("revenue"),
        // nz: an all-zero-price corpus (legal 2-decimal money) makes
        // t_rev = 0 — share degrades to NULL, not DIVIDE_BY_ZERO
        round(sum(col("block_rev")).cast("double") /
          nz(max(col("t_rev")).cast("double")), 6).as("share"))
  }

  /** Log-log price elasticity of demand per brand: for every line,
    * x = ln(unit price), y = ln(quantity); elasticity is the OLS slope
    * `cov(x,y)/var(x)` — the [[qTrendFit]] sufficient-statistics device
    * pointed at the economist's regression. One aggregation pass over
    * the part-joined fact scan (brand dimension broadcast); no
    * iteration, no window.
    */
  private def qPriceElasticity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        log(col("l_extendedprice") / col("l_quantity")).as("lnp"),
        log(col("l_quantity")).as("lnq"))
    li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        // a brand whose every line has the same unit price has var 0 —
        // elasticity is undefined (NULL), not an ANSI division error
        round(covar_pop(col("lnp"), col("lnq")) /
          when(var_pop(col("lnp")) === 0.0, lit(null))
            .otherwise(var_pop(col("lnp"))), 4).as("elasticity"),
        round(avg(col("lnp")), 4).as("avg_ln_price"))
  }

  /** Price-volume-mix revenue bridge between two years (1996 → 1997)
    * per brand — the finance-BI decomposition of "why did revenue
    * move": `Δrev = volume_effect + price_effect` with the Laspeyres
    * convention (volume at OLD price: `(q₁−q₀)·p₀`; price at NEW
    * volume: `(p₁−p₀)·q₁`, p = period revenue / period quantity) — the
    * two effects telescope to Δrev exactly, by construction. One
    * conditional-aggregation pass over the part-joined fact scan; brand
    * grain (~25 rows) for everything after.
    */
  private def qMixEffect(s: SparkSession, dir: String): DataFrame = {
    val y = year(col("l_shipdate").cast("date"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    // range predicate, not year(...) IN (...): a function of the column
    // can never reach the parquet scan, a date range pushes down (the
    // PlanSpec pin asserts PushedFilters on l_shipdate)
    val agg = t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(when(y === 1996, rev).otherwise(0.0)).as("rev0"),
        sum(when(y === 1996, col("l_quantity")).otherwise(0.0)).as("q0"),
        sum(when(y === 1997, rev).otherwise(0.0)).as("rev1"),
        sum(when(y === 1997, col("l_quantity")).otherwise(0.0)).as("q1"))
      .where(col("q0") > 0 && col("q1") > 0)
    val p0 = col("rev0") / col("q0")
    val p1 = col("rev1") / col("q1")
    agg.select(col("p_brand"), round(col("rev0"), 2).as("rev0"),
      round(col("rev1"), 2).as("rev1"),
      round((col("q1") - col("q0")) * p0, 2).as("volume_effect"),
      round((p1 - p0) * col("q1"), 2).as("price_effect"))
  }

  /** EWMA anomaly bands over daily purchase revenue with DYADIC decay
    * (half-life 1 day over a 14-day horizon): weight 2^(13−gap) keeps
    * every term an exact long — integer cents × a power of two — so the
    * weighted numerator and the day-dependent weight total are both exact
    * and the ewma division is bit-identical cross-engine. Day gaps (not
    * row offsets) drive the weights: each active day explodes its ≤14
    * forward contributions, one groupBy re-collects them, and early days
    * normalize by the closed-form partial weight sum. The spike flag is
    * the exact integer cross-multiplication 2·rev·wsum > 3·num
    * (rev > 1.5 × ewma).
    */
  private def qEwmaAnomaly(s: SparkSession, dir: String): DataFrame =
    ewmaScore(t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(expr("(ts div 1000) div 86400000000").as("day_id"),
        round(col("value") * 100.0, 0).cast("long").as("v_e2"))
      .groupBy(col("day_id")).agg(sum(col("v_e2")).as("rev_e2")))

  /** STREAMING EWMA anomaly bands: daily purchase revenue comes off a
    * watermarked 1-day streaming window aggregate (≤ days rows of state),
    * then the drained day-grain frame runs through the SAME dyadic-decay
    * scoring as `q_ewma_anomaly` ([[ewmaScore]]) — the revenue-level
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

  /** Cramér's V association between event type and day-of-week — the
    * one-number "is traffic mix day-dependent?" audit next to
    * q_seasonality's heatmap. Chi-square terms come from exact integer
    * (obs, row, col, n) counts with each cell's term rounded to 1e-6
    * BEFORE summation (9-or-so cells summed as longs — order-independent),
    * and V = sqrt of a division of exacts. One contingency aggregation
    * over ≤ types×7 cells; no row-scale shuffle after the first groupBy.
    */
  private def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .select(col("event_type"), expr("((ts div 1000) div 86400000000 + 4) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("obs"))
    val withMargins = cells
      .withColumn("row_tot", sum(col("obs")).over(Window.partitionBy(col("event_type"))))
      .withColumn("col_tot", sum(col("obs")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
      .withColumn("exp_cnt",
        col("row_tot").cast("double") * col("col_tot").cast("double") / col("n").cast("double"))
      .withColumn("term_e6", round(
        pow(col("obs").cast("double") - col("exp_cnt"), 2) / col("exp_cnt") * 1000000.0, 0)
        .cast("long"))
    withMargins
      .groupBy()
      .agg(max(col("n")).as("n"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        sum(col("term_e6")).as("chi2_e6"))
      .select(col("n"), col("n_types"), col("n_dows"), col("chi2_e6"),
        round(sqrt(col("chi2_e6").cast("double") / 1000000.0 /
          nz(col("n").cast("double") *
            (least(col("n_types"), col("n_dows")).cast("double") - 1.0))), 6)
          .as("cramers_v"))
  }

  /** The ANSI SQL front door: the IDENTICAL query text runs through
    * `spark.sql` over temp views AND through the DuckDB oracle — the
    * dialect-portable subset (CAST, year(), JOIN..ON, integer-cents money)
    * proving a SQL user can drive the engine without the DataFrame API.
    * Catalyst plans it like the hand-built q5 (dimension legs broadcast,
    * one fact shuffle).
    */
  private def qSqlGateway(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "nation", "region")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(sqlGatewayText)
  }

  /** One query text, two engines (see [[qSqlGateway]]). */
  private lazy val sqlGatewayText: String =
    """SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS total_e2
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, CAST(year(o_orderdate) AS BIGINT)"""

  /** Flesch-style readability per document: words, sentence marks, and
    * vowel-group syllable proxies all come from `regexp_count` — one
    * codegen'd scan, integer counts, the score a single per-row double
    * expression (identical IEEE arithmetic cross-engine). The standard
    * text-quality signal next to [[TextAnalysis]]'s stopword/length
    * heuristics.
    */
  private def tReadability(s: SparkSession, dir: String): DataFrame = {
    val words = regexp_count(col("text"), lit("[A-Za-z0-9]+"))
    val sents = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1))
    val sylls = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1))
    t(s, dir, "documents")
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
        sylls.as("n_sylls"))
      .where(col("n_words") > 0)
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
          lit(84.6) * (col("n_sylls").cast("double") / col("n_words")), 4)
          .as("flesch"))
  }

  /** N-gram novelty per document: the fraction of a doc's distinct word
    * 3-grams that appear NOWHERE else in the corpus — high novelty
    * flags original content, low novelty flags boilerplate/near-dups
    * (the memorization-risk signal, dual of the df-based line dedup).
    * Same two-pass inverted-index shape as [[Dedup.ngramJaccardPairs]]:
    * distinct gram hashes explode to (gram, id) rows, one df count, one
    * join back — text never shuffles.
    */
  private def tNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val ex = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3))
          .as("g"))
    val dfs = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    ex.join(dfs, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"),
        round(col("n_unique") / col("n_grams"), 6).as("novelty"))
  }

  /** One-row dedup audit — the report a curation run publishes next to
    * its output: corpus size, exact-duplicate footprint (docs in >1-copy
    * groups, group count), and the near-dup surface (verified LSH pairs
    * and the distinct docs they touch). Composes the exact and LSH
    * derivations already under the gate; every count is a scalar
    * aggregate of those plans, so the report costs one pass over each.
    */
  private def cDedupReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val groups = Dedup.exactDuplicateGroups(docs, "text", "doc_id")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val ex = groups.agg(
      coalesce(sum(col("dup_count")), lit(0L)).as("n_exact_dup_docs"),
      count(lit(1)).as("n_exact_groups"))
    val nd = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .agg(count(lit(1)).as("pair_ends"),
        countDistinct(col("id")).as("n_neardup_docs"))
      .select((col("pair_ends") / 2).cast("long").as("n_lsh_pairs"),
        col("n_neardup_docs"))
    nDocs.crossJoin(broadcast(ex)).crossJoin(broadcast(nd))
  }

  /** Funnel latency distribution: hours from a user's FIRST view to
    * their first purchase AFTER it, bucketed — the conversion-time
    * histogram behind funnel SLAs. Three aggregations all keyed on
    * user_id reuse one hash partitioning; the bucket rollup is
    * bucket-count-sized.
    */
  private def qFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), tsUs.as("us"), col("event_type"))
    val firstView = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    val conv = ev.where(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .where(col("us") >= col("view_us"))
      .groupBy(col("user_id"), col("view_us")).agg(min(col("us")).as("buy_us"))
    conv.groupBy(((col("buy_us") - col("view_us")) / lit(3600000000L))
        .cast("long").as("hours_bucket"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Global clustering coefficient of the thresholded trade graph:
    * `3·triangles / wedges`, with triangles from the degree-oriented
    * enumeration ([[graft.operators.Graph.triangleCounts]] — per-node
    * counts sum to 3 per triangle) and wedges from the closed form
    * Σ deg·(deg−1)/2 over the canonical undirected degrees — both sides
    * one aggregation, no new joins.
    */
  private def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    // pinned: `e` feeds the wedge count AND triangleCounts — without the
    // pin the 4-way lineitem⋈orders⋈customer⋈supplier derivation ran
    // TWICE (≤|nations|² rows, a trivial pin; guide §2.4)
    val e = nationTradeEdges(s, dir).where(col("w") >= 1500000.0).pinned(true)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long")
      .as("n_wedges"))
    val tri = graft.operators.Graph.triangleCounts(e, "src", "dst")
      .agg((sum(col("n_triangles")) / 3).cast("long").as("n_triangles"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("global_cc"))
  }

  // ------------------------------------------------------------------
  // Marketing analytics + safety/privacy-release queries
  // ------------------------------------------------------------------

  /** Position-based (U-shaped) multi-touch attribution over the event
    * stream: view/click touches earn credit for the next purchase of the
    * same user ([[graft.operators.Marketing.attributeU]]). The measurement
    * dual of the reference's conversion-upload pipelines.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.attributeU(
      t(s, dir, "events").select(col("user_id"), tsUs.as("t_us"),
        col("event_id"), col("event_type")),
      "user_id", "t_us", "event_id", "event_type",
      Seq("view", "click"), "purchase")

  /** Time-decay multi-touch attribution
    * ([[graft.operators.Marketing.attributeTimeDecay]]): recency-weighted
    * credit with a 7-day half-life — dyadic 0.5^k weights so channel
    * totals are bit-deterministic in any summation order.
    */
  private def qTimeDecayAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.attributeTimeDecay(
      t(s, dir, "events").select(col("user_id"), tsUs.as("t_us"),
        col("event_id"), col("event_type")),
      "user_id", "t_us", "event_id", "event_type",
      Seq("view", "click"), "purchase",
      halfLifeUs = 7L * 86400L * 1000000L)

  /** Sample-ratio-mismatch audit — the first gate every experimentation
    * pipeline runs before reading an A/B result: arms assigned
    * deterministically off user_id (one healthy 50/50 split, one planted
    * 40/60 bug), chi-square against the expected even split, flag over
    * the 3.841 critical value (α = 0.05, df = 1). All-integer counts; the
    * statistic is a single division (no double summation anywhere), so
    * the flag is bit-deterministic cross-engine. One distinct + one
    * explode + one aggregation — no shuffle wider than the user dedup.
    */
  private def qAbSrmCheck(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events").select(col("user_id")).distinct()
    val assigned = users.select(explode(array(
      struct(lit("exp_even").as("experiment"),
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B").as("arm")),
      struct(lit("exp_skewed").as("experiment"),
        when(pmod(col("user_id"), lit(10)) < 4, "A").otherwise("B").as("arm"))))
      .as("e")).select(col("e.experiment").as("experiment"), col("e.arm").as("arm"))
    assigned.groupBy(col("experiment"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("experiment"), col("n_a"), col("n_b"),
        round(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")), 6).as("chi2"),
        (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b")) > 3.841459).as("srm"))
  }

  /** CUPED variance reduction (Deng et al. '13 — the standard
    * experimentation pre-period adjustment): per user, x = pre-period
    * spend and y = post-period spend (exact integer cents), arms assigned
    * deterministically off user_id; the adjusted metric is
    * y − θ(x − x̄) with θ = cov(x,y)/var(x) POOLED across arms. Every
    * aggregation is an integer sum (n, Σx, Σy, Σxy, Σx², Σy²) — order-free
    * cross-engine — and θ/ρ² are scalar double expressions over those six
    * integers, computed once. ρ² is the variance-reduction fraction the
    * experiment gains (sample size shrinks by 1/(1−ρ²)).
    */
  private def qAbCuped(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events")
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        round(col("value") * 100, 0).cast("long").as("v_e2"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < 19737, col("v_e2")).otherwise(0L)).as("x"),
        sum(when(col("day") >= 19737, col("v_e2")).otherwise(0L)).as("y"))
      .select(when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B").as("arm"),
        col("x"), col("y"))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val pooled = arms.agg(sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
      sum(col("sy")).as("psy"), sum(col("sxx")).as("psxx"),
      sum(col("sxy")).as("psxy"), sum(col("syy")).as("psyy"))
    // θ and ρ² in double space over the exact pooled integers (products
    // can pass 2^63 at extreme SF; the double forms are scalar and
    // deterministic — same integers, same ops, both engines)
    val covN = col("pn").cast("double") * col("psxy") -
      col("psx").cast("double") * col("psy")
    val varXN = col("pn").cast("double") * col("psxx") -
      col("psx").cast("double") * col("psx")
    val varYN = col("pn").cast("double") * col("psyy") -
      col("psy").cast("double") * col("psy")
    val theta = covN / nz(varXN)
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n"),
        round(col("sy").cast("double") / col("n") / 100.0, 4).as("mean_y"),
        round((col("sy").cast("double") / col("n") -
          theta * (col("sx").cast("double") / col("n") -
            col("psx").cast("double") / col("pn"))) / 100.0, 4).as("mean_cuped"),
        round(theta, 6).as("theta"),
        round(covN * covN / nz(varXN * varYN), 6).as("rho2"))
  }

  /** Experiment power analysis from observed variance: the per-arm sample
    * size needed to detect a 5% lift of the control mean at α = 0.05 /
    * power 0.8 — n = 2(z_{α/2}+z_β)²σ²/δ², the go/no-go arithmetic every
    * experiment design starts with. σ² comes from the same order-free
    * integer sums as [[qAbCuped]]; the z constants are literals, so the
    * whole row is one deterministic scalar expression.
    */
  private def qPowerMde(s: SparkSession, dir: String): DataFrame = {
    val sums = t(s, dir, "events")
      .select(col("user_id"), round(col("value") * 100, 0).cast("long").as("v_e2"))
      .groupBy(col("user_id")).agg(sum(col("v_e2")).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
    val meanC = col("sy").cast("double") / col("n") / 100.0
    // nz twice: a single-user corpus zeroes n·(n−1); an all-zero-value
    // corpus zeroes the mean and with it the relative MDE — both degrade
    // to NULL, not DIVIDE_BY_ZERO
    val varC = (col("n").cast("double") * col("syy") -
      col("sy").cast("double") * col("sy")) /
      nz(col("n").cast("double") * (col("n").cast("double") - 1.0)) / 10000.0
    val delta = meanC * 0.05
    val zsum2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    sums.select(col("n").as("n_observed"),
      round(meanC, 4).as("mean_control"),
      round(varC, 4).as("variance"),
      round(delta, 4).as("mde_abs"),
      ceil(lit(2.0) * lit(zsum2) * varC / nz(delta * delta)).cast("long")
        .as("n_per_arm_required"))
  }

  /** Winsorized group means — the robust-stats complement to
    * `q_mad_outliers`: per order priority, clamp totals into the
    * [p05, p95] nearest-rank band before averaging (the standard
    * heavy-tail guard for revenue KPIs).
    *
    * The rank bounds (ceil via (5n+99) div 100) are found WITHOUT any
    * per-group window sort: order totals collapse to a value-grain count
    * table (one row per (priority, cent value)), [[Scan.groupedValueRanks]]
    * attaches each distinct value's within-group cumulative count via the
    * distributed prefix-sum scan, and "the value at rank r" becomes
    * `min(v) WHERE cum_grp >= r` — an ordinary aggregation. With 5
    * priorities, `row_number().over(partitionBy(grp))` would sort the
    * whole orders table in 5 tasks (~20 TB each at 100 TB); the scan
    * shape never sorts more than a partition slice. Bounds come back
    * through a broadcast join (≤|groups| rows), so the only data-scale
    * shuffles are the value-grain groupBy and the final group partition.
    */
  private def qWinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
      col("o_totalprice").as("v"))
    // value grain: cent-keyed (totalprice is cent-grain data, so the
    // double→cents map is injective on observed values); min(v) is the
    // representative original double for the clamp bounds
    val vc = o.groupBy(col("grp"),
        round(col("v") * 100.0, 0).cast("long").as("cents"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("vr"))
      .withColumn("gidx", substring(col("grp"), 1, 1).cast("long"))
    val ranks = graft.operators.Scan.groupedValueRanks(vc, "gidx", "cents", "cnt")
    val loRank = expr("(5 * n_grp + 99) div 100")
    val hiRank = expr("(95 * n_grp + 99) div 100")
    val bounds = ranks.groupBy(col("grp")).agg(
      min(when(col("cum_grp") >= loRank, col("vr"))).as("lo"),
      min(when(col("cum_grp") >= hiRank, col("vr"))).as("hi"))
    o.join(broadcast(bounds), "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("v")), 4).as("raw_mean"),
        round(avg(greatest(col("lo"), least(col("hi"), col("v")))), 4)
          .as("winsor_mean"))
  }

  /** Feature hashing (the Weinberger et al. hashing trick): every token
    * maps to one of 1024 buckets via the cross-engine 60-bit token hash,
    * with a ±1 sign from an independent hash bit so collisions cancel in
    * expectation — the fixed-width featurizer for linear models at corpus
    * scale (no vocabulary build, no dictionary join, embarrassingly
    * parallel). Output is the sparse (doc, bucket, signed-count) matrix;
    * all arithmetic is 64-bit integer.
    */
  private def cFeatureHash(s: SparkSession, dir: String): DataFrame = {
    val th = graft.operators.Dedup.tokenHash60(col("tok"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .select(col("doc_id"), pmod(th, lit(1024L)).as("bucket"),
        when(shiftright(th, 10).bitwiseAND(1) === 0, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("feat"))
  }

  /** Holt double-exponential smoothing of weekly revenue with dyadic
    * α = β = 1/2: the level/trend recursions become arithmetic SHIFTS
    * (floor-div-by-2 on both engines), so the whole sequential fold is
    * EXACT integer arithmetic — no float accumulation, bit-identical
    * replay. The week series is collected once (bounded by the observation
    * range, not by rows — the distinct-value-bounded contract) and folded
    * with one `aggregate` HOF; forecasts are l + h·b (h in weeks). Weekly
    * grain also keeps the oracle's recursive-CTE replay cheap (~340 steps
    * vs ~2400 daily — measured 8.8 s daily, near the 10 s oracle budget).
    */
  private def qHoltForecast(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "orders")
      .groupBy(expr(
        "unix_micros(cast(o_orderdate AS timestamp)) div 86400000000 div 7")
        .as("week"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_e2"))
    weekly.agg(sort_array(collect_list(struct(col("week"), col("rev_e2"))))
        .as("series"))
      .select(expr("transform(series, s -> s.rev_e2)").as("ys"))
      // empty corpus -> empty result (slice on a 0-length series is an
      // ANSI error; the oracle's `WHERE i = n_weeks` yields 0 rows too)
      .where(size(col("ys")) > 0)
      .select(size(col("ys")).cast("long").as("n_weeks"),
        expr("""aggregate(slice(ys, 2, size(ys) - 1),
            named_struct('l', ys[0], 'b', 0L),
            (acc, y) -> named_struct(
              'l', shiftright(y + acc.l + acc.b, 1),
              'b', shiftright(shiftright(y + acc.l + acc.b, 1) - acc.l + acc.b, 1)),
            acc -> acc)""").as("hw"))
      .select(col("n_weeks"), col("hw.l").as("level_e2"),
        col("hw.b").as("trend_e2"),
        (col("hw.l") + lit(7L) * col("hw.b")).as("forecast7_e2"),
        (col("hw.l") + lit(30L) * col("hw.b")).as("forecast30_e2"))
  }

  /** Exact Shapley-value attribution over the observed touch-channel
    * coalitions ([[graft.operators.Marketing.shapleyAttribution]]):
    * channels {view, click, signup}, conversion = purchase. The
    * axiomatically-fair complement to the heuristic (U-shaped/time-decay)
    * and Markov attribution rows; coalition values are integer 1e9
    * conversion-rate ratios, so the credit sums are bit-exact.
    */
  private def qShapleyAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.shapleyAttribution(
      t(s, dir, "events").select(col("user_id"), col("event_type")),
      "user_id", "event_type", Seq("view", "click", "signup"), "purchase")

  /** Kaplan-Meier customer-lifetime survival
    * ([[graft.operators.Marketing.kaplanMeier]]): duration = days between
    * a customer's first and last order; customers whose last order falls
    * within 90 days of the corpus end are right-censored (still active) —
    * they hold places in the risk sets without counting as churn, the
    * correction naive retention curves skip.
    */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "orders")
      .select(col("o_custkey").as("cust"),
        expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000")
          .as("day"))
      .groupBy(col("cust"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val maxd = per.agg(max(col("last_day")).as("max_day"))
    val lifetimes = per.crossJoin(broadcast(maxd))
      .select((col("last_day") - col("first_day")).as("dur"),
        (col("last_day") > col("max_day") - 90).as("cens"))
    graft.operators.Marketing.kaplanMeier(lifetimes, "dur", "cens")
  }

  /** Theil-Sen robust trend of per-nation monthly revenue: the median of
    * all pairwise slopes — the estimator that shrugs off the outlier
    * months OLS (`q_trend_fit`) chases (29% breakdown point). Months are
    * 30-day epoch buckets, revenue exact integer cents; slopes are
    * identical long-ratio doubles on both engines, so the nearest-rank
    * median row (slope, then month-pair tiebreak) is the SAME row — no
    * floating aggregation anywhere. Pair generation is per-nation over
    * month-grain aggregates: bounded by (nations × months²), independent
    * of row scale.
    */
  private def qTheilsenTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        expr("unix_micros(cast(o_orderdate AS timestamp)) div 86400000000 div 30")
          .as("month"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_e2"))
    val a = monthly.select(col("nation"), col("month").as("m1"),
      col("rev_e2").as("r1"))
    val b = monthly.select(col("nation"), col("month").as("m2"),
      col("rev_e2").as("r2"))
    val pairs = a.join(b, Seq("nation")).where(col("m1") < col("m2"))
      .select(col("nation"), col("m1"), col("m2"),
        ((col("r2") - col("r1")).cast("double") /
          (col("m2") - col("m1")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("slope"), col("m1"), col("m2"))
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("nation"))))
      .where(col("rn") === expr("(np + 1) div 2"))
      .select(col("nation"), col("np").as("n_pairs"),
        round(col("slope"), 4).as("ts_slope_e2"))
  }

  /** RFM quintile segmentation of the order history
    * ([[graft.operators.Marketing.rfmSegments]]).
    */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.rfmSegments(t(s, dir, "orders"),
      "o_custkey", "o_orderdate", "o_totalprice")

  /** RFM segmentation via exact histogram-cutpoint quintiles
    * ([[graft.operators.Marketing.rfmHistogramSegments]]) — the
    * no-global-window scale path beside `q_rfm_segments`' exact-ntile
    * variant: value-tied customers share a score, all rank arithmetic
    * rides the prefix-sum scan.
    */
  private def qRfmHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.rfmHistogramSegments(t(s, dir, "orders"),
      "o_custkey", "o_orderdate", "o_totalprice")

  /** Permutation-sampled Shapley attribution
    * ([[graft.operators.Marketing.sampledShapley]], m = 24 deterministic
    * permutations) over a 12-channel universe — past exact Shapley's
    * n ≤ 8 wall. Channels are the hour-of-day slots mod 12 of a user's
    * non-purchase events ('c0'…'c11'), conversion = purchase; the oracle
    * replays the identical LCG permutations, prefix coalitions, and
    * integer-1e9 coalition values in SQL.
    */
  private def qShapleySampled(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      .select(col("user_id"),
        when(col("event_type") === "purchase", lit("purchase"))
          .otherwise(concat(lit("c"),
            expr("(ts_us div 3600000000) % 12").cast("string"))).as("ch"))
    graft.operators.Marketing.sampledShapley(ev, "user_id", "ch",
      (0 until 12).map(i => s"c$i"), "purchase", perms = 24)
  }

  /** Typed PII scan with Luhn checksum validation over documents with
    * planted identifiers (email for every third doc, an IPv4, and a
    * 16-digit card-shaped number whose Luhn validity varies by doc) —
    * both the detection counts and the checksum verdict are
    * hash-checked ([[graft.operators.Safety.piiScan]]).
    */
  private def tPiiScan(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at u"), col("doc_id").cast("string"),
            lit("@mail.test"))).otherwise(lit("")),
        lit(" from host 10."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"), lit(".7 card "),
        lpad(((col("doc_id") * 7919) % 100000000).cast("string"), 16, "5"))
        .as("raw"))
    graft.operators.Safety.piiScan(planted, "doc_id", "raw")
  }

  /** High-entropy secret/credential token detection over documents with
    * one planted low-entropy long token (never flagged) and one planted
    * hex secret (always flagged) per doc
    * ([[graft.operators.Safety.secretScan]]).
    */
  /** Per-document unigram entropy + type-token ratio — the
    * lexical-diversity quality signals (low entropy = boilerplate /
    * keyword stuffing, the Gopher-rules class of filter). Same
    * order-pinned arithmetic as [[graft.operators.Safety.secretScan]]:
    * per-token counts from one grouped aggregation, the -Σ (c/n)·ln(c/n)
    * fold over counts sorted by token — both engines sum in the same
    * order, so the doubles match before the 1e-6 rounding. Shuffle is
    * (doc, token)-keyed; nothing corpus-wide.
    */
  private def tUnigramEntropy(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("tok"), col("c")))).as("cs"))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n"), 6).as("ttr"),
        round(aggregate(col("cs"), lit(0.0),
          (acc, e) => acc - (e.getField("c") / col("n")) *
            log(e.getField("c") / col("n"))), 6).as("entropy_nats"))
  }

  private def tSecretEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Safety.secretScan(
      t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" aaaaaaaaaaaaaaaaaaaa sk_"),
          substring(md5(concat(lit("sec:"), col("doc_id").cast("string"))),
            1, 24)).as("raw")),
      "doc_id", "raw")
      .withColumnRenamed("id", "doc_id")

  /** Min-max file skipping ([[graft.io.Skipping]]): events written as a
    * ts-range-clustered layout with a per-file stats manifest, then a
    * quarter-span time-range read that PRUNES files by manifest before
    * the scan (SkippingSpec asserts the file-count drop; the residual
    * predicate keeps pruning correctness-neutral). The window bounds are
    * integer arithmetic over the table's own min/max µs, replayed
    * verbatim by the oracle.
    */
  private def qStatsSkipping(s: SparkSession, dir: String): DataFrame = {
    val path = skippingLayout(s, dir)
    val ev = t(s, dir, "events").select(col("event_type"), col("value"), tsUs.as("t_us"))
    val b = ev.agg(min(col("t_us")).as("mn"), max(col("t_us")).as("mx")).head()
    // empty events: no time range to prune into — empty result, same grain
    if (b.isNullAt(0))
      return ev.limit(0).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    graft.io.Skipping.readRange(s, path, "t_us", lo, hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }

  /** The skipping layout is a read-only fixture: built once per (sf dir)
    * per JVM, like the streaming landings.
    */
  private def skippingLayout(s: SparkSession, dir: String): String =
    assembledLanding(s"skip:$dir") { d =>
      graft.io.Skipping.writeWithStats(
        t(s, dir, "events").select(col("event_type"), col("value"),
          tsUs.as("t_us")),
        d.toString, "t_us", Seq("t_us"), numFiles = 8)
    }

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

  /** Differentially-private per-type event counts: seeded-Laplace release
    * ([[graft.operators.Safety.dpNoisyCounts]], eps = 1) — the release
    * side of the privacy family (k-anonymity / l-diversity are the audit
    * side).
    */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Safety.dpNoisyCounts(
      t(s, dir, "events").select(col("event_type")), Seq("event_type"), 1.0)

  // ------------------------------------------------------------------
  // Round-8 continuation: HLL cardinality, PMI collocations, PSI drift,
  // TPC-H Q7/Q10 shapes
  // ------------------------------------------------------------------

  /** HyperLogLog distinct order keys per returnflag + the '__all__'
    * register-merge row ([[graft.operators.Sketches.hllDistinct]], p=12):
    * the register-based mergeable cardinality sketch next to the KMV
    * family — per-flag cardinalities (~12k vs 4096 registers) exercise the
    * raw harmonic-mean branch; the linear-counting branch is spec-pinned
    * on a planted small set. Exact count rides along for calibration.
    */
  private def qHllDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllDistinct(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        Dedup.shingleHash(col("l_orderkey").cast("string")).as("h")),
      "l_returnflag", col("h"))

  /** Top-50 word-bigram collocations by pointwise mutual information —
    * the phrase-mining / boilerplate-detection pass (a high-PMI bigram is
    * a fixed phrase, not a chance co-occurrence). Scale shape: unigram and
    * bigram counts are map-side-combinable aggs over vocabulary-bounded
    * keys; the totals are two scalar aggs broadcast by crossJoin; the
    * unigram joins hit a vocabulary-sized table (broadcast); the top-50 is
    * a TakeOrdered over the bigram vocabulary — the corpus text is read
    * once and no text ever shuffles.
    */
  private def tPmiPhrases(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val uni = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .pinned(true) // feeds the N total and both term joins
    val bi = docs
      .select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col("text"), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .pinned(true) // feeds the B total and the PMI join
    val totals = uni.agg(sum(col("cnt")).as("tot_uni"))
      .crossJoin(
        docs.select(greatest(size(TextAnalysis.tokens(col("text"))) - 1, lit(0))
          .as("nb")).agg(sum(col("nb")).as("tot_bi")))
    // pmi = ln( (c_ab/B) / ((c_a/N) * (c_b/N)) ), association fixed so the
    // oracle's double arithmetic is order-identical
    bi
      .withColumn("w1", element_at(split(col("ngram"), " "), 1))
      .withColumn("w2", element_at(split(col("ngram"), " "), 2))
      .join(broadcast(uni.select(col("term").as("w1"), col("cnt").as("ca"))), "w1")
      .join(broadcast(uni.select(col("term").as("w2"), col("cnt").as("cb"))), "w2")
      .crossJoin(broadcast(totals))
      .select(col("ngram"), col("n"),
        round(log((col("n").cast("double") / col("tot_bi")) /
          ((col("ca").cast("double") / col("tot_uni")) *
            (col("cb").cast("double") / col("tot_uni")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ngram")).limit(50)
  }

  /** Population-stability-index drift between the first and second half of
    * the event stream (split at the fixed 2024-01-16 midnight boundary) —
    * the one-number "did my traffic mix shift" monitor run before trusting
    * week-over-week training data. Integer-exact output (1e-6-scaled PSI
    * terms, integer total) so the oracle replays it bit for bit. Scale
    * shape: one map-side-combinable count pass (conditional aggregation —
    * the events table is scanned ONCE, not once per half), scalar totals
    * broadcast, per-type arithmetic over #event_types rows.
    */
  private def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val SplitNs = 1705363200000000000L // 2024-01-16T00:00:00Z
    val counts = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(when(col("ts") < SplitNs, lit(1))).as("na"),
        count(when(col("ts") >= SplitNs, lit(1))).as("nb"))
      .pinned(true) // feeds the scalar totals and the PSI rows
    val tot = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val pa = col("na").cast("double") / nz(col("ta").cast("double"))
    val pb = col("nb").cast("double") / nz(col("tb").cast("double"))
    val term = (pa - pb) * log(pa / pb)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      // a type absent from either period has PSI term ±∞ (log of 0 or a
      // zero division, an ANSI runtime error) — drop it BEFORE the
      // arithmetic, exactly as the oracle's `WHERE na > 0 AND nb > 0`
      .where(col("na") > 0L && col("nb") > 0L)
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("na"), col("nb"),
        round(term * 1000000.0, 0).cast("long").as("psi_e6"))
      .withColumn("total_psi_e6", sum(col("psi_e6")).over(w))
  }

  /** AMS tug-of-war self-join-size estimate
    * ([[graft.operators.Sketches.amsF2]]): F2 = Σ f_k² of the lineitem
    * orderkey — the "is this join key a skew bomb" number, estimated from
    * 32 signed counters in ONE map-side-combinable pass (the shuffle
    * carries 32 longs per partition, never keys). The exact F2 rides along
    * for calibration; integer arithmetic end to end, so the oracle replays
    * both bit for bit.
    */
  private def qF2SelfJoin(s: SparkSession, dir: String): DataFrame = {
    val keys = t(s, dir, "lineitem")
      .select(Dedup.shingleHash(col("l_orderkey").cast("string")).as("h"))
      .pinned(true) // one key scan feeds the sketch AND exact F2
    val est = graft.operators.Sketches.amsF2(keys, col("h"))
    val exact = keys.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact_f2"))
    exact.crossJoin(est)
  }

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

  /** Markov removal-effect (data-driven) attribution
    * ([[graft.operators.Marketing.markovRemovalAttribution]]): journeys to
    * first purchase, integer-1e6 transition chain, 12 integer power steps,
    * per-channel removal effect + share — the model-based complement of
    * `q_attribution`'s positional U-shape, and squarely the reference's
    * domain (which conversions were worth uploading, and which touches
    * earned them). The oracle unrolls every removal scenario's power
    * iteration as CTE chains over the ≤(channels+2)² transition rows.
    */
  private def qMarkovAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.markovRemovalAttribution(
      t(s, dir, "events").select(col("user_id"), tsUs.as("us"),
        col("event_id"), col("event_type")),
      "user_id", "us", "event_id", "event_type", convType = "purchase")

  /** Calibration table of the trained quality classifier: documents
    * bucketed by predicted-score decile (value bins — no global ntile
    * sort), per-bin positive rate vs summed score, all integer-scaled —
    * the model-eval row next to `t_lr_auc` (is the score a probability,
    * not just a ranking?). Reuses the full `t_quality_lr` training chain,
    * so the oracle checks model + binning + rates in one replay.
    */
  private def tLrCalibration(s: SparkSession, dir: String): DataFrame =
    tQualityLr(s, dir)
      .groupBy(least(floor(col("score") * 10).cast("long"), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(label as bigint)) * 1000000L div count(1)").as("pos_rate_e6"),
        sum(round(col("score") * 100000, 0).cast("long")).as("sum_score_e5"))

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

  /** TextRank keywords over the corpus word-adjacency graph
    * ([[graft.operators.Retrieval.textRankKeywords]]): integer-exact
    * weighted PageRank, top-10 terms — the unsupervised keyword ranker
    * next to `t_tfidf_keywords`' frequency statistics. The oracle unrolls
    * the 10 integer power rounds over the vocabulary-bounded chain.
    */
  private def tTextrank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.textRankKeywords(t(s, dir, "documents"), "text")

  /** Cohort LTV curve: cumulative purchase revenue per signup cohort by
    * week-of-life — the payback-curve complement of `q_cohort_retention`
    * (same first-touch cohorting, revenue instead of presence). Revenue is
    * integer-1e6-scaled before summing (the q_seasonality device), and the
    * cumulative column is a per-cohort window over integer sums — exact
    * cross-engine, and ≤ weeks-of-life rows per cohort in window state.
    */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(timestamp_micros(tsUs)).as("day"),
        col("event_type"), col("value"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val wk = ev.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("cohort_day"),
        (datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_offset"))
      .agg(sum(round(col("value") * 1000000.0, 0).cast("long")).as("wk_revenue_e6"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk.withColumn("cum_revenue_e6", sum(col("wk_revenue_e6")).over(w))
  }

  /** Campaign incrementality read: deterministic exposed/control split
    * (user_id parity — the planted A/B assignment), purchase-rate per
    * segment before and after the fixed 2024-01-16 campaign boundary, and
    * the difference-in-differences as the incrementality number. All
    * rates integer-1e6 (purchasers·1e6 div actives), DiD an integer
    * difference of differences — bit-exact cross-engine. One conditional-
    * aggregation pass over (segment, user) rollups; two rows out.
    */
  private def qIncrementality(s: SparkSession, dir: String): DataFrame = {
    val SplitNs = 1705363200000000000L
    val perUser = t(s, dir, "events")
      .groupBy((col("user_id") % 2 === 0).as("exposed"), col("user_id"))
      .agg(
        max(when(col("ts") < SplitNs, lit(1L)).otherwise(lit(0L))).as("act_pre"),
        max(when(col("ts") >= SplitNs, lit(1L)).otherwise(lit(0L))).as("act_post"),
        max(when(col("ts") < SplitNs && col("event_type") === "purchase",
          lit(1L)).otherwise(lit(0L))).as("buy_pre"),
        max(when(col("ts") >= SplitNs && col("event_type") === "purchase",
          lit(1L)).otherwise(lit(0L))).as("buy_post"))
    val seg = perUser.groupBy(col("exposed"))
      .agg(sum(col("act_pre")).as("n_pre"), sum(col("act_post")).as("n_post"),
        sum(col("buy_pre")).as("k_pre"), sum(col("buy_post")).as("k_post"))
      .select(col("exposed"), col("n_pre"), col("n_post"), col("k_pre"),
        col("k_post"),
        expr("k_pre * 1000000L div nullif(n_pre, 0L)").as("rate_pre_e6"),
        expr("k_post * 1000000L div nullif(n_post, 0L)").as("rate_post_e6"))
      .withColumn("lift_e6", col("rate_post_e6") - col("rate_pre_e6"))
    val w = Window.partitionBy()
    seg.withColumn("did_e6",
      sum(when(col("exposed"), col("lift_e6")).otherwise(-col("lift_e6"))).over(w))
  }

  /** Per-event-type value quantiles from the grouped histogram sketch
    * ([[graft.operators.Sketches.groupedHistogramQuantiles]]): the
    * "p50/p95/p99 of every segment" pass with no per-group sort — one
    * (group, bin) count, per-group windows over ≤ bins rows. The grouped
    * dual of `t_approx_quantiles`.
    */
  private def tGroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.groupedHistogramQuantiles(
      t(s, dir, "events").select(col("event_type"), col("value")),
      "event_type", "value", 1.0, Seq(500, 950, 990))

  /** Dunning log-likelihood-ratio collocations (Dunning '93) — the
    * statistically principled phrase miner next to [[tPmiPhrases]]'s PMI
    * (PMI over-rewards rare pairs; G² weights evidence by count). All four
    * contingency cells derive from the bigram table's own marginals
    * (per-first-word and per-second-word sums — vocabulary-bounded, no
    * second corpus pass), and the G² fold is fixed-association doubles
    * over exact integer cells, so the oracle replays it to the 4th
    * decimal. Same scale shape as PMI: text scanned once, nothing but
    * vocabulary ever shuffles or broadcasts.
    */
  private def tLlrPhrases(s: SparkSession, dir: String): DataFrame = {
    val bi = t(s, dir, "documents")
      .select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col("text"), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("k11"))
      .withColumn("w1", element_at(split(col("ngram"), " "), 1))
      .withColumn("w2", element_at(split(col("ngram"), " "), 2))
      .pinned(true) // feeds marginals, the total, and the scored rows
    val r = bi.groupBy(col("w1")).agg(sum(col("k11")).as("r1"))
    val c = bi.groupBy(col("w2")).agg(sum(col("k11")).as("c1"))
    val tot = bi.agg(sum(col("k11")).as("nn"))
    // G2 = 2 * Σ k·ln(k·N / (rowMass·colMass)), 0·ln0 := 0; every product
    // of two counts stays under 2^53 so the doubles are exact
    def term(k: Column, num: Column, den: Column): Column =
      when(k > 0, k.cast("double") *
        log((k.cast("double") * col("nn")) / (num.cast("double") * den)))
        .otherwise(lit(0.0))
    val k11 = col("k11"); val r1 = col("r1"); val c1 = col("c1"); val nn = col("nn")
    val llr = round(lit(2.0) * (
      term(k11, r1, c1) +
        term(r1 - k11, r1, nn - c1) +
        term(c1 - k11, nn - r1, c1) +
        term(nn - r1 - c1 + k11, nn - r1, nn - c1)), 4)
    bi.filter(col("k11") >= 5)
      .join(broadcast(r), "w1")
      .join(broadcast(c), "w2")
      .crossJoin(broadcast(tot))
      .select(col("ngram"), col("k11").as("n"), llr.as("llr"))
      .orderBy(col("llr").desc, col("ngram")).limit(50)
  }

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

  /** Dynamic partition pruning, end to end: orders land partitioned by
    * month (the 100 TB fact layout), the month dimension arrives filtered
    * to one year, and the fact scan's PartitionFilters must carry the
    * DPP subquery (`dynamicpruningexpression` — pinned in `PlanSpec`) so
    * only the surviving month directories are ever opened. This is the
    * run-time counterpart of `q_partitioned_prune`'s static pruning:
    * the filter value is only known after the dim side executes.
    */
  private def qDppPrune(s: SparkSession, dir: String): DataFrame = {
    val base = scratch("dpp")
    val factDir = base.resolve("fact").toString
    val dimDir = base.resolve("dim").toString
    val ord = t(s, dir, "orders")
      .withColumn("omonth", date_format(col("o_orderdate"), "yyyy-MM"))
    // cluster by the partition key before the partitioned write: one file
    // per month directory instead of (tasks × months) shards — the layout
    // discipline that keeps a 100 TB partitioned landing from becoming a
    // small-file storm
    ord.repartition(col("omonth"))
      .write.mode("overwrite").partitionBy("omonth").parquet(factDir)
    val dimPre = ord.select(col("omonth")).distinct()
      .withColumn("oyear", substring(col("omonth"), 1, 4))
    dimPre.write.mode("overwrite").parquet(dimDir)
    // explicit read schemas: a partitioned write of an EMPTY frame emits
    // no data files, and schema inference then fails the read — carrying
    // the writer's schema makes empty-in → empty-out
    val fact = s.read.schema(ord.schema).parquet(factDir)
    val dim = s.read.schema(dimPre.schema).parquet(dimDir)
      .filter(col("oyear") === "1996")
    fact.join(dim, Seq("omonth"))
      .groupBy(col("omonth"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Runtime bloom-filter join pruning: the selective dimension side
    * (urgent 1996 orders) builds a bloom at run time that filters the
    * fact scan BEFORE the join shuffle — the Spark-native generalization
    * of the manual `decontaminate_bloom` device, and the mechanism that
    * keeps a 100 TB shuffle from carrying rows the join will drop.
    * Injection is conf-scoped at PLANNING time (`runtime.bloomFilter.
    * enabled`, the application-side size gate a local test corpus can't
    * meet, and broadcast disabled so there is a shuffle to protect:
    * [[RuntimeFilterConfs]]), so the result materializes on a session clone
    * scoped to those confs and never touches the caller's; the plan shape
    * (`might_contain` on the fact side) is pinned under the same confs in
    * `PlanSpec`. At 100 TB the defaults fire on their own — only the size
    * gate is test-scoped.
    */
  private[graft] val RuntimeFilterConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private def qRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val rows = graft.util.Sessions.scoped(s, RuntimeFilterConfs: _*) { c =>
      val sel = t(c, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1997-01-01").cast("date"))
        .select(col("o_orderkey"))
      t(c, dir, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .collect() // materialize under the planning confs
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.toSeq.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_qty",
        org.apache.spark.sql.types.DoubleType))))
  }

  /** TPC-H-Q7-shaped volume shipping: bilateral trade revenue between two
    * nations by ship year, customer nation × supplier nation in either
    * direction. The two nation-filtered dimension legs broadcast; the
    * orderkey join is the one fact-fact shuffle; the year comes off
    * l_shipdate after the join predicate prunes to the two-nation slice.
    */
  private def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier").join(nat,
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, dir, "customer").join(nat,
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H-Q10-shaped returned-item report: top-20 customers by revenue
    * lost to returns (l_returnflag = 'R') for one order quarter. Order
    * date filter pushes to the orders scan; the customer join is the
    * post-aggregation enrichment of a 20-row TakeOrdered cut — AQE
    * broadcasts the aggregated side at runtime, never on a static guess.
    */
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
    // integer 1e-4-scaled money: the top-20 cut rides an EXACT sum, so no
    // cross-engine last-ulp drift can flip a rounding boundary or the
    // order at the limit edge (a round(sum(double),2) here landed on a
    // literal .x95 tie at sf0.01)
    val cents = round((col("l_extendedprice") * (lit(1) - col("l_discount"))) *
      10000.0, 0).cast("long")
    val rev = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(cents).as("rev_e4"))
      .orderBy(col("rev_e4").desc, col("o_custkey")).limit(20)
      // no re-round: Spark's Round(double) goes through the decimal string
      // (BigDecimal.valueOf) while DuckDB rounds the binary double, so an
      // exact .xx5 diverges — the bare division of the identical exact
      // integer is bit-identical on both engines
      .select(col("o_custkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"))
    rev.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
  }

  /** Exact 1e-4-scaled revenue term (see q10: integer money makes sums
    * order-independent, so cross-engine hash compares can't drift on
    * summation order or a round(sum(double)) tie).
    */
  private def revE4: Column =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000.0, 0)
      .cast("long")

  /** TPC-H-Q4-shaped priority check: EXISTS rewritten as a LEFT SEMI join
    * with the non-equi lateness predicate (l_shipdate > o_orderdate, the
    * schema's commit/receipt proxy) folded into the join condition — each
    * order emits at most once with no distinct, and the quarter filter
    * pushes to the orders scan before the probe. At scale the semi join
    * shuffles both sides on orderkey once; nothing is materialized per
    * matching lineitem.
    */
  private def q4PriorityCount(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("date") &&
        col("o_orderdate") < lit("1996-10-01").cast("date"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H-Q6-shaped forecast revenue: one scan, every predicate pushed to
    * the parquet reader (ship-year range, discount band, quantity cap),
    * one scalar aggregate — the canonical "filter-agg must never shuffle
    * more than 32 partial rows" query.
    */
  private def q6RevenueFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((sum(round(col("l_extendedprice") * col("l_discount") * 10000.0, 0)
        .cast("long")).cast("double") / 10000.0).as("revenue"))

  /** TPC-H-Q8-shaped market share: NATION_1 suppliers' share of PROMO-part
    * revenue sold to ASIA-region customers, by order year. The nation⋈region
    * slice (≤|nations| rows) is the only forced broadcast; supplier is
    * hinted (classic 1000×-smaller dim); customer and part legs are left to
    * AQE — at 100 TB a region slice of customers is NOT broadcastable and
    * must shuffle. The share is a ratio of two exact 1e-4-scaled longs, so
    * the division is bit-identical across engines.
    */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val asiaNat = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = t(s, dir, "customer").join(broadcast(asiaNat),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    t(s, dir, "lineitem")
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_1", revE4).otherwise(0L))
          .cast("double") / sum(revE4).cast("double")).as("mkt_share"))
  }

  /** TPC-H-Q12-shaped late-line priority split: conditional aggregation
    * (high/low order priority) over the ship-year slice of late lines,
    * grouped by returnflag (the schema's shipmode stand-in). The lineitem
    * filter pushes to the scan; the lateness predicate runs post-join.
    */
  private def q12LateLines(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H-Q14-shaped promo share: one ship-month slice joined to part,
    * conditional-vs-total exact-integer sums in a single aggregate pass.
    * The part leg is left to AQE (a 20B-row part table at 100 TB is not a
    * static broadcast; at test scale AQE broadcasts it at runtime).
    */
  private def q14PromoShare(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("date") &&
        col("l_shipdate") < lit("1996-10-01").cast("date"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", revE4).otherwise(0L)).cast("double") /
        sum(revE4).cast("double")).as("promo_share"))

  /** TPC-H-Q15-shaped top supplier: per-supplier quarter revenue, then the
    * max as a 1-row scalar broadcast (the corpus-scalar crossJoin shape) —
    * never a global sort. Ties all surface (WHERE rev = max), so the result
    * set is deterministic without a limit. Revenue rides the exact e4 long;
    * the equality join on it cannot ulp-miss.
    */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .groupBy(col("l_suppkey")).agg(sum(revE4).as("rev_e4"))
    val top = rev.agg(max(col("rev_e4")).as("max_e4"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_e4") === col("max_e4"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_e4").cast("double") / 10000.0).as("total_revenue"))
  }

  /** TPC-H-Q17-shaped small-quantity revenue: the correlated per-part
    * average subquery rewritten as aggregate-then-join — one groupBy over
    * the brand slice computes (count, sum_qty) per part, joined back so the
    * threshold test `qty < 0.5·avg` runs as the EXACT integer inequality
    * `2·qty·cnt < sum_qty` (quantities are integral): no double-avg
    * boundary can flip a row in or out across engines. Both sides of the
    * self-join are the same brand slice, so AQE broadcasts the (per-part,
    * 2-column) aggregate at runtime.
    */
  private def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brand = t(s, dir, "part").filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(brand, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100.0, 0).cast("long").as("price_e2"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("qty") * col("cnt") * 2 < col("sum_qty"))
      .agg((sum(col("price_e2")).cast("double") / 700.0).as("avg_yearly"))
  }

  /** TPC-H-Q19-shaped disjunctive predicate: an OR of brand×quantity×size
    * conjunctions that straddles the join, which no optimizer can push as
    * written — so the HULL predicates (brand IN the three-brand set,
    * quantity in the union range) are stated explicitly on each side
    * before the join, the manual pushdown that keeps a 100 TB scan from
    * feeding the join rows only the disjunction will drop.
    */
  private def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#11", "Brand#12", "Brand#13")
    val p = t(s, dir, "part").filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val cond =
      (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11) &&
        col("p_size").between(1, 5)) ||
      (col("p_brand") === "Brand#12" && col("l_quantity").between(10, 20) &&
        col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#13" && col("l_quantity").between(20, 30) &&
        col("p_size").between(1, 15))
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg((sum(revE4).cast("double") / 10000.0).as("revenue"))
  }

  /** TPC-H-Q21-shaped sole-latest supplier
    * ([[graft.operators.Temporal.soleLatestActor]] — the exists/not-exists
    * pair rewritten as two aggregates on one shuffle key; tie semantics
    * spec'd on planted groups in Round8OpsSpec). Emits every qualifying
    * supplier (only ~|suppliers| rows), so no limit-boundary tie can make
    * the result nondeterministic.
    */
  private def q21SoleMax(s: SparkSession, dir: String): DataFrame = {
    val f = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    graft.operators.Temporal
      .soleLatestActor(f, "l_orderkey", "l_suppkey", "l_shipdate")
      .groupBy(col("actor"))
      .agg(count(lit(1)).as("numwait"))
      .join(t(s, dir, "supplier"), col("actor") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
  }

  /** TPC-H-Q22-shaped idle balances: customers above the positive-balance
    * average with no orders, per segment. The average threshold is a 1-row
    * scalar broadcast tested as the exact integer cross-multiplication
    * `bal·n_pos > sum_pos` (cents-scaled longs — no double-avg boundary);
    * "lapsed" is a LEFT ANTI join against the recent-order keys (the date
    * filter pushes to the orders scan before the anti probe).
    */
  private def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100.0, 0).cast("long").as("bal_e2"))
    val thr = cust.filter(col("bal_e2") > 0)
      .agg(sum(col("bal_e2")).as("sum_pos"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(thr))
      .filter(col("bal_e2") * col("n_pos") > col("sum_pos"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_e2")).cast("double") / 100.0).as("totacctbal"))
  }

  /** Derived part-supplier relation for the five partsupp-shaped TPC-H
    * queries (Q2/Q9/Q11/Q16/Q20): the corpus has no partsupp table, so its
    * role is reconstructed from lineitem — one row per (partkey, suppkey)
    * with availqty = total quantity ever shipped and supplycost = the
    * cheapest observed extended price, both exact integers so every
    * downstream comparison is bit-identical across engines.
    *
    * Callers pass a pre-filtered lineitem when their part/supplier
    * predicates apply: both are GROUP-KEY predicates on this relation, so
    * filtering before the aggregation is semantics-preserving and keeps
    * the derivation shuffle at the size of the slice instead of the full
    * 100 TB fact table.
    */
  private def partSupp(li: DataFrame): DataFrame =
    li.groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("ps_availqty"),
        min(round(col("l_extendedprice") * 100.0, 0).cast("long"))
          .as("ps_cost_e2"))

  /** TPC-H-Q2-shaped minimum-cost supplier: for each small PROMO part, the
    * EUROPE supplier(s) offering the lowest derived supply cost. The
    * correlated min subquery runs as aggregate-then-join on the exact
    * integer cost (ties all surface — no limit, so the result is
    * deterministic). The nation⋈region slice and the region's suppliers
    * are the forced broadcasts (≤|suppliers| rows); the per-part min is
    * left to AQE. The part and supplier slices are pushed below the
    * derived-relation aggregation (see [[partSupp]]).
    */
  private def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    val eur = t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val esupp = t(s, dir, "supplier")
      .join(broadcast(eur), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        (round(col("s_acctbal") * 100.0, 0).cast("long").cast("double") / 100.0)
          .as("s_acctbal"))
    val pslice = t(s, dir, "part")
      .filter(col("p_type") === "PROMO" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_brand"))
    val cand = partSupp(
        t(s, dir, "lineitem")
          .join(pslice.select(col("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .join(broadcast(esupp.select(col("s_suppkey"))),
            col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .join(pslice, col("ps_partkey") === col("p_partkey"))
      .join(broadcast(esupp), col("ps_suppkey") === col("s_suppkey"))
    val mn = cand.groupBy(col("p_partkey").as("pk"))
      .agg(min(col("ps_cost_e2")).as("min_e2"))
    cand.join(mn, col("p_partkey") === col("pk") &&
        col("ps_cost_e2") === col("min_e2"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"),
        (col("ps_cost_e2").cast("double") / 100.0).as("supply_cost"))
  }

  /** TPC-H-Q9-shaped product-type profit: nation × order-year profit on
    * 'widget' parts, cost carried by the derived relation joined back on
    * the composite (partkey, suppkey) — the one genuine fact-to-derived-
    * fact join in the suite, shuffling both sides once on the same key.
    * Profit is an exact 1e-4-scaled long (revenue e4 minus cost_e2·qty·100)
    * so summation order cannot drift the double. The widget slice pushes
    * below the derivation ([[partSupp]]); supplier⋈nation is the broadcast
    * dim.
    */
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val wid = t(s, dir, "part").filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"))
    val supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val li = t(s, dir, "lineitem")
      .join(wid, col("l_partkey") === col("p_partkey"), "left_semi")
    li.join(partSupp(li),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg((sum(revE4 -
          col("ps_cost_e2") * col("l_quantity").cast("long") * 100L)
        .cast("double") / 10000.0).as("profit"))
  }

  /** TPC-H-Q11-shaped important stock: per-part inventory value held by
    * NATION_1 suppliers, kept where the part exceeds 1/500 of the nation's
    * total — the group-HAVING-against-a-global-scalar shape. The threshold
    * rides the 1-row broadcast crossJoin and the test is the exact integer
    * cross-multiplication value·500 > total (no double-fraction boundary).
    * The nation's supplier keys push below the derivation as a left-semi
    * probe.
    */
  private def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = partSupp(
        t(s, dir, "lineitem").join(broadcast(n1),
          col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_cost_e2") * col("ps_availqty")).as("value_e2"))
    val tot = v.agg(sum(col("value_e2")).as("total_e2"))
    v.crossJoin(broadcast(tot))
      .filter(col("value_e2") * 500L > col("total_e2"))
      .select(col("ps_partkey"),
        (col("value_e2").cast("double") / 100.0).as("value"))
  }

  /** TPC-H-Q16-shaped supplier-relationship count: distinct suppliers per
    * (brand, type, size) over an 8-size slice, excluding negative-balance
    * suppliers (the schema's complaints stand-in) — NOT IN rewritten as a
    * broadcast left-anti join against the tiny exclusion set. The part
    * slice pushes below the derivation; the countDistinct is the only
    * wide aggregation.
    */
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val pslice = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partSupp(
        t(s, dir, "lineitem").join(pslice.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi"))
      .join(broadcast(excl), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(pslice, col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H-Q20-shaped excess stock: NATION_2 suppliers holding more than
    * twice what they shipped of any 'small…' part in 1996 — the nested
    * semi-join chain (part slice → per-(part,supp) derived stock vs the
    * 1996 shipment aggregate → distinct suppliers → semi probe into the
    * nation's suppliers). Both aggregations group the SAME sliced lineitem
    * on the SAME composite key, so AQE reuses one exchange; the
    * availqty > 2·qty96 test is exact integers.
    */
  private def q20ExcessStock(s: SparkSession, dir: String): DataFrame = {
    val sm = t(s, dir, "part").filter(col("p_name").like("small%"))
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(sm, col("l_partkey") === col("p_partkey"), "left_semi")
    val ship96 = li
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
      .groupBy(col("l_partkey").as("sk_pk"), col("l_suppkey").as("sk_sk"))
      .agg(sum(col("l_quantity")).cast("long").as("qty96"))
    val excess = partSupp(li)
      .join(ship96, col("ps_partkey") === col("sk_pk") &&
        col("ps_suppkey") === col("sk_sk"))
      .filter(col("ps_availqty") > col("qty96") * 2L)
      .select(col("ps_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_2")),
        col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_name"),
        (round(col("s_acctbal") * 100.0, 0).cast("long").cast("double") / 100.0)
          .as("s_acctbal"))
  }

  // ------------------------------------------------------------------

  /** The rows Bench and Verify run: those named in `SPARK_GRAFT_ONLY`
    * (comma-separated) for a targeted run, every row when it is unset.
    */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): String => Boolean =
    raw.fold[String => Boolean](_ => true)(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_pipeline_idempotence" -> (pPipelineIdempotence _),
    "p_branch_registry" -> (pBranchRegistry _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_orders" -> (q3TopOrders _),
    "q_part_agg" -> (qPartAgg _),
    "q_window_rank" -> (qWindowRank _),
    "q_rank_suite" -> (qRankSuite _),
    "q_sessionize" -> (qSessionize _),
    "s_rollup_stream" -> (sRollupStream _),
    "s_srm_stream" -> (sSrmStream _),
    "s_topk_stream" -> (sTopkStream _),
    "s_sessionize_stream" -> (sSessionizeStream _),
    "s_session_window_stream" -> (sSessionWindowStream _),
    "s_dedup_stream" -> (sDedupStream _),
    "s_ingest_dedup_stream" -> (sIngestDedupStream _),
    "s_quality_monitor_stream" -> (sQualityMonitorStream _),
    "q_hourly_rollup" -> (qHourlyRollup _),
    "q_top_users" -> (qTopUsers _),
    "q_anti_join_key" -> (qAntiJoinKey _),
    "q_anti_join_2key" -> (qAntiJoin2Key _),
    "q_prune_user_id" -> (qPruneUserId _),
    "q_pii_hash_ads" -> (qPiiHashAds _),
    "q_pii_hash_dv" -> (qPiiHashDv _),
    "q_cm_custvars_fold" -> (qCmCustvarsFold _),
    "q_retention_filter" -> (qRetentionFilter _),
    "q_json_extract_cast" -> (qJsonExtractCast _),
    "q_batch_count" -> (qBatchCount _),
    "q_consolidate" -> (qConsolidate _),
    "q_digits_filter" -> (qDigitsFilter _),
    "q_salted_skew_join" -> (qSaltedSkewJoin _),
    "d_exact_dup_groups" -> (dExactDupGroups _),
    "d_exact_dedup_keep" -> (dExactDedupKeep _),
    "d_ngram_jaccard_pairs" -> (dNgramJaccardPairs _),
    "d_containment_pairs" -> (dContainmentPairs _),
    "d_minhash_lsh_pairs" -> (dMinhashLshPairs _),
    "d_lsh_recall" -> (dLshRecall _),
    "d_simhash_pairs" -> (dSimhashPairs _),
    "d_lsh_skew_guard" -> (dLshSkewGuard _),
    "d_line_dedup" -> (dLineDedup _),
    "d_incremental_dedup" -> (dIncrementalDedup _),
    "t_token_budget" -> (tTokenBudget _),
    "d_neardup_components" -> (dNeardupComponents _),
    "d_softdedup_weights" -> (dSoftDedupWeights _),
    "e_cosine_topk" -> (eCosineTopK _),
    "e_mips_topk" -> (eMipsTopK _),
    "e_mips_ivf_topk" -> (eMipsIvfTopK _),
    "e_trunc_rerank" -> (eTruncRerank _),
    "e_mmr_rerank" -> (eMmrRerank _),
    "e_neardup_pairs" -> (eNeardupPairs _),
    "e_ann_srp_topk" -> (eAnnSrpTopK _),
    "e_ivf_topk" -> (eIvfTopK _),
    "e_filtered_topk" -> (eFilteredTopK _),
    "e_ivf_trained_topk" -> (eIvfTrainedTopK _),
    "e_ivf_index_topk" -> (eIvfIndexTopK _),
    "e_semdedup_keep" -> (eSemdedupKeep _),
    "m_modality_stats" -> (mModalityStats _),
    "m_image_dims" -> (mImageDims _),
    "m_media_fingerprint" -> (mMediaFingerprint _),
    "m_phash_neardup" -> (mPhashNeardup _),
    "m_frame_sample" -> (mFrameSample _),
    "m_audio_energy" -> (mAudioEnergy _),
    "m_jpeg_dims" -> (mJpegDims _),
    "m_resize_stub" -> (mResizeStub _),
    "m_wav_format" -> (mWavFormat _),
    "t_token_stats" -> (tTokenStats _),
    "t_bpe_tokens" -> (tBpeTokens _),
    "t_quality" -> (tQuality _),
    "t_quality_lr" -> (tQualityLr _),
    "t_lr_auc" -> (tLrAuc _),
    "t_fertility" -> (tFertility _),
    "t_langid" -> (tLangId _),
    "t_fingerprint" -> (tFingerprint _),
    "t_repetition" -> (tRepetition _),
    "t_redact" -> (tRedact _),
    "t_quality_filter" -> (tQualityFilter _),
    "t_top_ngrams" -> (tTopNgrams _),
    "t_zipf_fit" -> (tZipfFit _),
    "t_length_deciles" -> (tLengthDeciles _),
    "t_chunks" -> (tChunks _),
    "c_pack_sequences" -> (cPackSequences _),
    "c_decontaminate" -> (cDecontaminate _),
    "c_contamination_report" -> (cContaminationReport _),
    "c_stratified_sample" -> (cStratifiedSample _),
    "c_weighted_sample" -> (cWeightedSample _),
    "c_leakage_split" -> (cLeakageSplit _),
    "c_kcenter_select" -> (cKcenterSelect _),
    "q_bad_records" -> (qBadRecords _),
    "t_encoding_audit" -> (tEncodingAudit _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_l_diversity" -> (qLDiversity _),
    "q_cusum_shift" -> (qCusumShift _),
    "s_cusum_stream" -> (sCusumStream _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_benford" -> (qBenford _),
    "q_bitmap_distinct" -> (qBitmapDistinct _),
    "q_streaks" -> (qStreaks _),
    "q_trailing_window" -> (qTrailingWindow _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_skew_diagnose" -> (qSkewDiagnose _),
    "q_cramers_v" -> (qCramersV _),
    "q_sql_gateway" -> (qSqlGateway _),
    "c_temperature_mix" -> (cTemperatureMix _),
    "c_curation_pipeline" -> (cCurationPipeline _),
    "c_domain_cap" -> (cDomainCap _),
    "c_decontaminate_bloom" -> (cDecontaminateBloom _),
    "d_lsh_index_pairs" -> (dLshIndexPairs _),
    "t_lm_score" -> (tLmScore _),
    "t_ccnet_buckets" -> (tCcnetBuckets _),
    "c_source_overlap" -> (cSourceOverlap _),
    "c_cross_modal" -> (cCrossModal _),
    "q_topk_agg" -> (qTopkAgg _),
    "d_winnow_pairs" -> (dWinnowPairs _),
    "e_quantized_topk" -> (eQuantizedTopK _),
    "e_binary_topk" -> (eBinaryTopK _),
    "e_cluster_profile" -> (eClusterProfile _),
    "e_cell_drift" -> (eCellDrift _),
    "e_silhouette" -> (eSilhouette _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_jsonl_roundtrip" -> (qJsonlRoundtrip _),
    "q_partitioned_prune" -> (qPartitionedPrune _),
    "s_interval_join_stream" -> (sIntervalJoinStream _),
    "s_outer_interval_stream" -> (sOuterIntervalStream _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_native" -> (qAsofNative _),
    "q_asof_salted" -> (qAsofSalted _),
    "q_asof_tolerance" -> (qAsofTolerance _),
    "q_asof_forward" -> (qAsofForward _),
    "q_range_join" -> (qRangeJoin _),
    "t_heavy_hitters" -> (tHeavyHitters _),
    "t_dsir_weights" -> (tDsirWeights _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_bucket_join" -> (qBucketJoin _),
    "q_expectations" -> (qExpectations _),
    "q_quarantine" -> (qQuarantine _),
    "t_approx_quantiles" -> (tApproxQuantiles _),
    "c_mixture_sample" -> (cMixtureSample _),
    "q_rolling_window" -> (qRollingWindow _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "t_lm_cross" -> (tLmCross _),
    "t_distinct_kmv" -> (tDistinctKmv _),
    "s_sliding_stream" -> (sSlidingStream _),
    "q_time_travel" -> (qTimeTravel _),
    "q_rtbf_delete" -> (qRtbfDelete _),
    "q_delete_vectors" -> (qDeleteVectors _),
    "q_version_expire" -> (qVersionExpire _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_schema_evolution" -> (qSchemaEvolution _),
    "s_asof_stream" -> (sAsofStream _),
    "s_transitions_stream" -> (sTransitionsStream _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_pivot" -> (qPivot _),
    "t_tfidf_keywords" -> (tTfidfKeywords _),
    "t_bm25_topk" -> (tBm25TopK _),
    "t_ndcg" -> (tNdcg _),
    "e_ann_recall" -> (eAnnRecall _),
    "e_pq_topk" -> (ePqTopK _),
    "d_dup_span_stats" -> (dDupSpanStats _),
    "e_ivfpq_topk" -> (eIvfPqTopK _),
    "e_ivfpq_residual_topk" -> (eIvfPqResidualTopK _),
    "q_csv_roundtrip" -> (qCsvRoundtrip _),
    "q_lead_lag" -> (qLeadLag _),
    "q13_cust_dist" -> (q13CustDist _),
    "c_embedding_pipeline" -> (cEmbeddingPipeline _),
    "e_pq_index_topk" -> (ePqIndexTopK _),
    "d_dup_span_scrub" -> (dDupSpanScrub _),
    "c_epoch_shuffle" -> (cEpochShuffle _),
    "c_curriculum_order" -> (cCurriculumOrder _),
    "t_langid_eval" -> (tLangidEval _),
    "m_mp4_meta" -> (mMp4Meta _),
    "m_avi_meta" -> (mAviMeta _),
    "m_audio_spectrum" -> (mAudioSpectrum _),
    "s_anti_join_stream" -> (sAntiJoinStream _),
    "q_merge_cdc" -> (qMergeCdc _),
    "d_cluster_best_keep" -> (dClusterBestKeep _),
    "q5_supplier_volume" -> (q5SupplierVolume _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q4_priority_count" -> (q4PriorityCount _),
    "q6_revenue_filter" -> (q6RevenueFilter _),
    "q8_market_share" -> (q8MarketShare _),
    "q12_late_lines" -> (q12LateLines _),
    "q14_promo_share" -> (q14PromoShare _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_qty" -> (q17SmallQty _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q21_sole_max" -> (q21SoleMax _),
    "q22_idle_balance" -> (q22IdleBalance _),
    "q2_min_cost_supp" -> (q2MinCostSupp _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q20_excess_stock" -> (q20ExcessStock _),
    "q_sliding_distinct" -> (qSlidingDistinct _),
    "q_ks_stat" -> (qKsStat _),
    "q_ewma_anomaly" -> (qEwmaAnomaly _),
    "s_active_users_stream" -> (sActiveUsersStream _),
    "d_prefix_jaccard" -> (dPrefixJaccard _),
    "g_temporal_reach" -> (gTemporalReach _),
    "g_sssp_weighted" -> (gSsspWeighted _),
    "g_hash_walks" -> (gHashWalks _),
    "q_fifo_allocation" -> (qFifoAllocation _),
    "s_ewma_stream" -> (sEwmaStream _),
    "q_mondrian_anon" -> (qMondrianAnon _),
    "q_gini" -> (qGini _),
    "t_rater_kappa" -> (tRaterKappa _),
    "g_ppr" -> (gPpr _),
    "t_conformal" -> (tConformal _),
    "q_lorenz_deciles" -> (qLorenzDeciles _),
    "q_hll_distinct" -> (qHllDistinct _),
    "q_psi_drift" -> (qPsiDrift _),
    "t_pmi_phrases" -> (tPmiPhrases _),
    "q_f2_selfjoin" -> (qF2SelfJoin _),
    "s_hll_stream" -> (sHllStream _),
    "q_dpp_prune" -> (qDppPrune _),
    "q_runtime_filter" -> (qRuntimeFilter _),
    "e_hard_negatives" -> (eHardNegatives _),
    "t_grouped_quantiles" -> (tGroupedQuantiles _),
    "t_llr_phrases" -> (tLlrPhrases _),
    "s_f2_stream" -> (sF2Stream _),
    "q_markov_attribution" -> (qMarkovAttribution _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_incrementality" -> (qIncrementality _),
    "t_textrank" -> (tTextrank _),
    "m_scene_cuts" -> (mSceneCuts _),
    "t_lr_calibration" -> (tLrCalibration _),
    "s_psi_stream" -> (sPsiStream _),
    "q_incr_agg" -> (qIncrAgg _),
    "q_funnel" -> (qFunnel _),
    "q_scd2" -> (qScd2 _),
    "c_data_card" -> (cDataCard _),
    "g_pagerank" -> (qPagerank _),
    "g_hits" -> (gHits _),
    "q_acf" -> (qAcf _),
    "q_stl_decompose" -> (qStlDecompose _),
    "q_t_closeness" -> (qTCloseness _),
    "q_seq_mining" -> (qSeqMining _),
    "q_qte" -> (qQte _),
    "t_phrase_search" -> (tPhraseSearch _),
    "q_basket_triples" -> (qBasketTriples _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_msprt" -> (qMsprt _),
    "g_degree_dist" -> (gDegreeDist _),
    "q_stl_anomalies" -> (qStlAnomalies _),
    "q_holt_backtest" -> (qHoltBacktest _),
    "g_assortativity" -> (gAssortativity _),
    "q_abc_classes" -> (qAbcClasses _),
    "q_price_elasticity" -> (qPriceElasticity _),
    "q_mix_effect" -> (qMixEffect _),
    "g_triangles" -> (qTriangles _),
    "g_reach_hops" -> (qReachHops _),
    "g_harmonic" -> (gHarmonic _),
    "e_ood_outliers" -> (eOodOutliers _),
    "g_communities" -> (qCommunities _),
    "g_modularity" -> (gModularity _),
    "g_kcore" -> (gKcore _),
    "g_community_rollup" -> (qCommunityRollup _),
    "g_node_similarity" -> (gNodeSimilarity _),
    "t_hybrid_rrf" -> (tHybridRrf _),
    "t_kmv_union" -> (tKmvUnion _),
    "t_kmv_jaccard" -> (tKmvJaccard _),
    "q_argmax" -> (qArgmax _),
    "q_market_basket" -> (qMarketBasket _),
    "q_zscore_outliers" -> (qZscoreOutliers _),
    "q_fuzzy_block" -> (qFuzzyBlock _),
    "q_linkage_score" -> (qLinkageScore _),
    "q_markov" -> (qMarkov _),
    "q_nation_volume" -> (qNationVolume _),
    "q_semi_join" -> (qSemiJoin _),
    "q_profile_stats" -> (qProfileStats _),
    "q_unpivot" -> (qUnpivot _),
    "q_gap_fill" -> (qGapFill _),
    "q_cumulative_users" -> (qCumulativeUsers _),
    "q_corr_matrix" -> (qCorrMatrix _),
    "q_skyline" -> (qSkyline _),
    "q_seasonality" -> (qSeasonality _),
    "t_readability" -> (tReadability _),
    "t_ngram_novelty" -> (tNgramNovelty _),
    "c_dedup_report" -> (cDedupReport _),
    "q_funnel_time" -> (qFunnelTime _),
    "g_clustering_coeff" -> (qClusteringCoeff _),
    "t_js_divergence" -> (tJsDivergence _),
    "q_revenue_share" -> (qRevenueShare _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_trend_fit" -> (qTrendFit _),
    "q_array_hof" -> (qArrayHof _),
    "q_attribution" -> (qAttribution _),
    "q_time_decay_attribution" -> (qTimeDecayAttribution _),
    "q_ab_srm_check" -> (qAbSrmCheck _),
    "q_winsorized_mean" -> (qWinsorizedMean _),
    "q_shapley_attribution" -> (qShapleyAttribution _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_theilsen_trend" -> (qTheilsenTrend _),
    "c_feature_hash" -> (cFeatureHash _),
    "q_holt_forecast" -> (qHoltForecast _),
    "q_ab_cuped" -> (qAbCuped _),
    "q_power_mde" -> (qPowerMde _),
    "q_rfm_segments" -> (qRfmSegments _),
    "q_rfm_histogram" -> (qRfmHistogram _),
    "q_shapley_sampled" -> (qShapleySampled _),
    "t_pii_scan" -> (tPiiScan _),
    "t_secret_entropy" -> (tSecretEntropy _),
    "t_unigram_entropy" -> (tUnigramEntropy _),
    "q_dp_counts" -> (qDpCounts _),
    "q_stats_skipping" -> (qStatsSkipping _),
    "s_cdc_stream" -> (sCdcStream _)
  )

  /** Unrolled synchronous LPA over the co-order part graph as a CTE
    * chain ending in `r$LpaRounds(id, label)` — one (count, pick,
    * relabel) triple per round, identical deterministic tie-break to
    * [[graft.operators.Graph.labelPropagation]]; shared by the
    * `g_communities` and `g_community_rollup` oracles.
    */
  private val LpaRounds = 3
  private lazy val sqlLpaCtes: String = {
    val rk = (1 to LpaRounds).map { k =>
      s"""c$k AS (SELECT e.dst AS nid, p.label, count(*) AS c
             FROM e JOIN r${k - 1} p ON e.src = p.id GROUP BY 1, 2),
           p$k AS (SELECT nid AS id, label FROM (
               SELECT nid, label,
                 row_number() OVER (PARTITION BY nid
                   ORDER BY c DESC, label ASC) AS rn
               FROM c$k) WHERE rn = 1),
           r$k AS (SELECT n.id, coalesce(p.label, n.id) AS label
             FROM n LEFT JOIN p$k p USING (id))"""
    }.mkString(",\n")
    s"""e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         n AS (SELECT DISTINCT p_partkey AS id FROM part),
         r0 AS (SELECT id, id AS label FROM n),
         $rk"""
  }

  /** Unrolled bounded k-core peel oracle for [[gKcore]]: one
    * (d, x, a) CTE triple per round over the same co-order edge set as
    * the LPA oracles.
    */
  private lazy val sqlKcore: String = {
    val k = 90
    // MATERIALIZED on every multiply-referenced CTE: DuckDB re-inlines
    // per reference, and a{r-1} feeds three places per round — without it
    // the lineitem self-join replays ~170x (memory: the round-6 blinding
    // class; measured 18.8 s vs 1.2 s at sf0.1)
    val rk = (1 to 4).map { r =>
      s"""d$r AS (SELECT e.dst AS id, count(*) AS deg
             FROM e JOIN a${r - 1} sa ON e.src = sa.id
                    JOIN a${r - 1} ta ON e.dst = ta.id
             GROUP BY 1),
           x$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a LEFT JOIN d$r USING (id)
             WHERE coalesce(deg, 0) < $k),
           a$r AS MATERIALIZED (SELECT id FROM a${r - 1}
             WHERE id NOT IN (SELECT id FROM x$r))"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         n AS (SELECT DISTINCT p_partkey AS id FROM part),
         a0 AS MATERIALIZED (SELECT id FROM n),
         $rk
         SELECT n.id, coalesce(rr.r, 0)::BIGINT AS removed_round
         FROM n LEFT JOIN (
           SELECT id, 1 AS r FROM x1 UNION ALL SELECT id, 2 FROM x2
           UNION ALL SELECT id, 3 FROM x3 UNION ALL SELECT id, 4 FROM x4) rr
         USING (id)"""
  }

  private val stopwordsSql = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB replay of [[graft.functions.Kernels.bpeTokenCount]] over `src`
    * (must have doc_id, text): recursive-CTE word states `(syms, mi)` where
    * each step merges the LEFTMOST occurrence of rank `mi`'s pair, advancing
    * rank when none remains. Repeated-leftmost equals the kernel's single
    * left-to-right non-overlapping scan per rank (a merge cannot create a
    * new occurrence of its own pair at or before its position — see
    * [[graft.functions.Bpe]]). Yields `bpe_counts(doc_id, n_bpe)` with
    * zero-word docs absent (LEFT JOIN + coalesce at the use site). Splice
    * directly after `WITH RECURSIVE`.
    *
    * The recursion runs over DISTINCT words (BPE of a word is
    * doc-independent; per-doc counts come back via a join on the word) and
    * the rank-`mi` pair arrives by JOINING a merge VALUES table instead of
    * indexing two list literals inside the lambda — DuckDB rebuilt those
    * 40-element literals per list ELEMENT, which made this helper's
    * consumers ~50 s each at sf0.01; same arithmetic, now sub-second.
    */
  private def sqlBpeCtes(src: String): String = {
    val m = graft.functions.TrainedBpeMerges.merges.size
    val mergeRows = graft.functions.TrainedBpeMerges.merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, ${sqlStr(l)}, ${sqlStr(r)})" }
      .mkString(", ")
    s"""bpe_m(mi, ml, mr) AS (VALUES $mergeRows),
       bpe_words AS MATERIALIZED (
         SELECT doc_id, unnest(ws) AS word
         FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM $src)
       ),
       bpe_st AS (
         SELECT word, string_split(word, '') AS syms, 1 AS mi
         FROM (SELECT DISTINCT word FROM bpe_words WHERE word <> '')
         UNION ALL
         SELECT word,
           CASE WHEN j IS NULL THEN syms
                ELSE syms[1:j-1] || [syms[j] || syms[j+1]] || syms[j+2:] END,
           CASE WHEN j IS NULL THEN mi + 1 ELSE mi END
         FROM (
           SELECT st.word, st.syms, st.mi,
             list_filter(range(1, len(st.syms)), i ->
               st.syms[i] = mm.ml AND st.syms[i+1] = mm.mr)[1] AS j
           FROM bpe_st st JOIN bpe_m mm ON mm.mi = st.mi
           WHERE st.mi <= $m
         )
       ),
       bpe_wlen AS MATERIALIZED (
         SELECT word, len(syms) AS n FROM bpe_st WHERE mi = ${m + 1}
       ),
       bpe_counts AS (
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bpe
         FROM bpe_words JOIN bpe_wlen USING (word) GROUP BY doc_id
       )"""
  }

  // ---- DuckDB fragments replicating the cross-engine hash/LSH primitives.
  // Every constant below mirrors the Scala side exactly (Dedup / VectorOps);
  // all arithmetic is 64-bit integer or order-identical double folds, so the
  // oracle recomputes signatures bit-for-bit.

  /** Polynomial rolling hash over characters, init 0 (prepended). */
  private def sqlPh(v: String, base: Long, mod: Long): String =
    s"list_reduce([0::BIGINT] || list_transform(string_split($v, ''), ch -> ascii(ch)::BIGINT), " +
      s"(hacc, hx) -> (hacc * $base + hx) % $mod)"

  /** 60-bit token hash: two stacked 30-bit poly hashes (Dedup.tokenHash60). */
  private def sqlTokenHash60(v: String): String =
    s"(${sqlPh(v, 31L, 1000000007L)} * 1073741824 + ${sqlPh(v, 131L, 998244353L)})"

  /** The Rademacher plane family flattened to a ±1.0 literal list (exact
    * doubles — trivially identical across engines). Referenced in oracles as
    * a 1-row CTE `sgt(sg)` so the literal appears once per query.
    */
  private def sqlSigns(numPlanes: Int, dim: Int): String =
    VectorOps.rademacherPlanes(numPlanes, dim).flatten
      .map(w => if (w > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** Dot of vector expr `v` (1-indexed DOUBLE[]) with Rademacher plane `p`
    * over `dim` entries of the `sg` flat sign list; fold order matches
    * VectorOps.srpSignatureU.
    */
  private def sqlPlaneDot(v: String, p: String, dim: Int): String =
    s"list_reduce([0.0] || list_transform(range(0, $dim), dd -> " +
      s"$v[dd + 1] * sg[($p) * $dim + dd + 1]), (dacc, dx) -> dacc + dx)"

  /** SRP bucket of `bits` planes starting at plane offset `off`. */
  private def sqlSrpBucket(v: String, off: String, bits: Int, dim: Int): String =
    s"list_sum(list_transform(range(0, $bits), bb -> CASE WHEN " +
      s"${sqlPlaneDot(v, s"($off) + bb", dim)} >= 0 THEN 1::BIGINT << bb ELSE 0 END))::BIGINT"

  /** Order-exact cosine between two DOUBLE[] exprs (VectorOps.cosineU). */
  private def sqlCos(a: String, b: String): String = {
    def dotRf(x: String, y: String) =
      s"list_reduce([0.0] || list_transform(list_zip($x, $y), zz -> zz[1] * zz[2]), (cacc, cx) -> cacc + cx)"
    // zero-norm convention: cosine against a zero vector is 0.0, matching
    // Kernels.cosine — NULLIF+coalesce (not a CASE re-computing the
    // norms) so the guard adds no extra folds; the fuzz corpus's planted
    // zero vector caught the bare division emitting NaN here
    s"coalesce(${dotRf(a, b)} / NULLIF(sqrt(${dotRf(a, a)}) * sqrt(${dotRf(b, b)}), 0), 0.0)"
  }

  /** Squared L2 distance, matching [[graft.operators.Pq]]'s left-fold
    * order exactly (init 0.0, add per dimension).
    */
  private def sqlL2sq(a: String, b: String): String =
    s"list_reduce([0.0] || list_transform(list_zip($a, $b), " +
      s"zz -> (zz[1] - zz[2]) * (zz[1] - zz[2])), (lacc, lx) -> lacc + lx)"

  /** Shared by the batch query and its streaming dual — the stream's output
    * is hash-checked against the SAME DuckDB result.
    */
  private lazy val sqlSessionize: String =
    """WITH g AS (
         SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         FROM events),
       m AS (
         SELECT user_id,
           CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
         FROM g)
       SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
              count(*) AS n_events
       FROM m GROUP BY user_id"""

  private lazy val sqlHourlyRollup: String =
    """SELECT epoch_us(ts) // 3600000000 AS hour_id,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2"""

  /** The heuristic quality gate's CTE chain ending in
    * `qg_q(doc_id, quality, dup3, n_tokens)` — ONE definition shared by
    * the t_quality_filter oracle and the kappa rater audit, mirroring
    * [[qualityGateFrame]].
    */
  private lazy val sqlQualityGateCtes: String =
    s"""qg_r AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
           (length(text) - length(regexp_replace(text,
             '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
           len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ($stopwordsSql)))::DOUBLE /
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         FROM documents),
         qg_g AS (SELECT doc_id, n_tokens, pr, sr, ${sqlWordNgramHashes(3)} AS g3 FROM qg_r),
         qg_q AS (SELECT doc_id,
             round(least(n_tokens::DOUBLE / 100.0, 1.0) * (1.0 - pr)
               * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS quality,
             round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
               (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END, 6) AS dup3,
             n_tokens
           FROM qg_g)"""

  /** DuckDB replay of tQualityLr's EXACT 5-iteration full-batch GD: a
    * generated chain of (gradient, weight) CTEs with the same operation
    * order as [[graft.operators.Classifier.trainLogistic]] (sums, then
    * `w - (0.5*g)/n`), so the learned weights — not just the scores — are
    * hash-compared. Arithmetic is all-DOUBLE; both engines drift only in
    * sum order (~1e-13), far inside the 1e-5/1e-6 output rounding.
    */
  private lazy val sqlQualityLr: String = {
    def margin(w: String) = s"$w.wb + f1*$w.w1 + f2*$w.w2 + f3*$w.w3 + f4*$w.w4"
    val iters = (1 to 5).map { k =>
      val prev = s"it${k - 1}"
      s"""gr$k AS (SELECT sum(r) AS gb, sum(r*f1) AS g1, sum(r*f2) AS g2,
           sum(r*f3) AS g3, sum(r*f4) AS g4
         FROM (SELECT (1.0/(1.0+exp(-($prev.wb + f1*$prev.w1 + f2*$prev.w2
             + f3*$prev.w3 + f4*$prev.w4))) - y) AS r, f1, f2, f3, f4
           FROM tr, $prev)),
       it$k AS (SELECT $prev.wb - 0.5*gr$k.gb/(SELECT n FROM nn) AS wb,
           $prev.w1 - 0.5*gr$k.g1/(SELECT n FROM nn) AS w1,
           $prev.w2 - 0.5*gr$k.g2/(SELECT n FROM nn) AS w2,
           $prev.w3 - 0.5*gr$k.g3/(SELECT n FROM nn) AS w3,
           $prev.w4 - 0.5*gr$k.g4/(SELECT n FROM nn) AS w4
         FROM it${k - 1}, gr$k)"""
    }.mkString(",\n")
    s"""WITH raw AS MATERIALIZED (
         SELECT doc_id,
           length(text)::DOUBLE / 100.0 AS f1,
           len(string_split(text, ' '))::DOUBLE / 10.0 AS f2,
           length(text)::DOUBLE / len(string_split(text, ' ')) AS f3,
           len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')) AS f4,
           (CASE WHEN len(string_split(text, ' ')) >= 40
             THEN 1.0 ELSE 0.0 END)::DOUBLE AS y
         FROM documents),
       st AS (SELECT
           avg(f1) AS m1, CASE WHEN stddev_pop(f1) = 0 THEN 1.0 ELSE stddev_pop(f1) END AS s1,
           avg(f2) AS m2, CASE WHEN stddev_pop(f2) = 0 THEN 1.0 ELSE stddev_pop(f2) END AS s2,
           avg(f3) AS m3, CASE WHEN stddev_pop(f3) = 0 THEN 1.0 ELSE stddev_pop(f3) END AS s3,
           avg(f4) AS m4, CASE WHEN stddev_pop(f4) = 0 THEN 1.0 ELSE stddev_pop(f4) END AS s4
         FROM raw),
       f AS MATERIALIZED (
         SELECT doc_id, (f1 - m1)/s1 AS f1, (f2 - m2)/s2 AS f2,
           (f3 - m3)/s3 AS f3, (f4 - m4)/s4 AS f4, y
         FROM raw, st),
       mm AS (SELECT greatest(1, count(*)::BIGINT // 4000) AS m FROM raw),
       tr AS MATERIALIZED (
         SELECT f.* FROM f WHERE doc_id % (SELECT m FROM mm) = 0),
       nn AS (SELECT count(*)::DOUBLE AS n FROM tr),
       it0 AS (SELECT 0.0::DOUBLE AS wb, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2,
         0.0::DOUBLE AS w3, 0.0::DOUBLE AS w4),
       $iters
       SELECT doc_id, y AS label,
         round(1.0/(1.0+exp(-(${margin("it5")}))), 5) AS score,
         round(it5.wb, 6) AS wb, round(it5.w1, 6) AS w1, round(it5.w2, 6) AS w2,
         round(it5.w3, 6) AS w3, round(it5.w4, 6) AS w4
       FROM f, it5"""
  }

  /** DuckDB replay of the greedy k-center selection: chained (distances,
    * pick, selected) CTEs per round — the same index-order squared-L2 fold
    * (list_sum over list_transform = Spark's zip_with/aggregate), min over
    * centers (exact, order-free), and d-DESC-then-id-ASC pick. `pick`/`sel`
    * are MATERIALIZED: each sel level is referenced twice, and DuckDB
    * re-inlines non-materialized CTEs per reference (doubling per round).
    */
  /** One definition for the query's k and its oracle's round count — the
    * two would otherwise drift apart as unrelated magic numbers.
    */
  private val KcenterK = 8

  private lazy val sqlKcenterSelect: String = {
    val rounds = (1 until KcenterK).map { r =>
      s"""dr$r AS (
           SELECT a.vec_id AS vec_id,
             min(list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> (a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                  * (a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)))) AS d
           FROM embeddings a, embeddings c
           WHERE c.vec_id IN (SELECT vec_id FROM sel${r - 1})
           GROUP BY a.vec_id),
         pick$r AS MATERIALIZED (
           SELECT vec_id, d FROM dr$r ORDER BY d DESC, vec_id ASC LIMIT 1),
         sel$r AS MATERIALIZED (
           SELECT vec_id FROM sel${r - 1} UNION ALL SELECT vec_id FROM pick$r)"""
    }.mkString(",\n")
    val out = (1 until KcenterK).map(r =>
      s"UNION ALL SELECT $r, vec_id, round(d, 6) FROM pick$r").mkString("\n")
    s"""WITH sel0 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM embeddings),
       $rounds
       SELECT 0 AS sel_round, vec_id, 0.0 AS radius FROM sel0
       $out"""
  }

  /** MMR slate shape, shared query↔oracle like [[KcenterK]]. lambda must
    * stay a value whose complement `1-lambda` is exact in binary (0.75,
    * 0.5, 0.25…) — the oracle spells the complement as a literal.
    */
  private val MmrK = 8
  private val MmrN = 50
  private val MmrLambda = 0.75

  /** Greedy MMR unrolled to [[MmrK]] chained CTE rounds: candidate cut by
    * rounded-rel DESC + id ASC (exactly [[graft.operators.Similarity.mmrRerank]]'s
    * orderBy/limit), per-round max-sim over the selected set with the
    * order-exact [[sqlCos]] fold, round-6 at every compared quantity, id
    * tiebreak on the pick. `pick`/`sel` MATERIALIZED for the same
    * re-inlining reason as [[sqlKcenterSelect]].
    */
  private lazy val sqlMmrRerank: String = {
    val lam = s"$MmrLambda::DOUBLE"
    val mu = s"${1 - MmrLambda}::DOUBLE"
    val rounds = (2 to MmrK).map { r =>
      s"""dr$r AS (
           SELECT c.id, c.v, c.rel,
             max(round(${sqlCos("c.v", "s.v")}, 6)) AS msim
           FROM cand c, sel${r - 1} s
           WHERE c.id NOT IN (SELECT id FROM sel${r - 1})
           GROUP BY c.id, c.v, c.rel),
         pick$r AS MATERIALIZED (
           SELECT id, v, rel, round($lam * rel - $mu * msim, 6) AS score
           FROM dr$r ORDER BY score DESC, id LIMIT 1),
         sel$r AS MATERIALIZED (
           SELECT id, v FROM sel${r - 1} UNION ALL SELECT id, v FROM pick$r)"""
    }.mkString(",\n")
    val out = (2 to MmrK).map(r =>
      s"UNION ALL SELECT $r, id, rel, score FROM pick$r").mkString("\n")
    s"""WITH qv AS MATERIALIZED (
           SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
       cand AS MATERIALIZED (
         SELECT vec_id AS id, v, round(${sqlCos("v", "q")}, 6) AS rel
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), qv
         ORDER BY rel DESC, id LIMIT $MmrN),
       pick1 AS MATERIALIZED (
         SELECT id, v, rel, round($lam * rel - $mu * 0.0::DOUBLE, 6) AS score
         FROM cand ORDER BY score DESC, id LIMIT 1),
       sel1 AS MATERIALIZED (SELECT id, v FROM pick1),
       $rounds
       SELECT 1 AS mmr_rank, id, rel, score AS mmr_score FROM pick1
       $out"""
  }

  /** The Markov removal-effect oracle: journeys → integer-1e6 transition
    * chain → one unrolled 12-step integer power iteration per scenario
    * (base + one per removed channel). Channel list is the corpus's four
    * non-conversion event types (static at SQL-build time; the Spark side
    * derives the same set from the observed sources).
    */
  private lazy val sqlMarkovAttribution: String = {
    val iters = 12
    val channels = Seq("click", "error", "signup", "view")
    def scenario(name: String, removed: Option[String]): String = {
      val pt = removed match {
        case None => "p"
        case Some(c) =>
          s"""(SELECT src, CASE WHEN dst = '$c' THEN 'DROP' ELSE dst END AS dst,
              p_e6 FROM p WHERE src <> '$c')"""
      }
      val rounds = (1 to iters).map { k =>
        s"""a${k}_$name AS (
             SELECT t.src AS st,
               ((sum(t.p_e6 * CASE WHEN t.dst = 'CONV' THEN 1000000
                  WHEN t.dst = 'DROP' THEN 0
                  ELSE coalesce(ap.a, 0) END))::BIGINT // 1000000)::BIGINT AS a
             FROM $pt t LEFT JOIN a${k - 1}_$name ap ON ap.st = t.dst
             GROUP BY 1)"""
      }.mkString(",\n")
      s"""a0_$name(st, a) AS (SELECT NULL::VARCHAR, 0::BIGINT WHERE false),
         $rounds"""
    }
    val scenarios = (scenario("base", None) +:
      channels.map(c => scenario(c, Some(c)))).mkString(",\n")
    val reRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
           CASE WHEN ab > 0 THEN ((ab - coalesce(
             (SELECT a FROM a${iters}_$c WHERE st = 'START'), 0)) * 1000000) // ab
           ELSE 0 END AS re
         FROM abt"""
    }.mkString("\nUNION ALL ")
    s"""WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
           event_type AS ch FROM events),
       pos AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY u
           ORDER BY t, eid) AS pos FROM ev),
       fp AS MATERIALIZED (SELECT u, min(pos) AS fp FROM pos
           WHERE ch = 'purchase' GROUP BY 1),
       journey AS MATERIALIZED (SELECT pp.*, f.fp
           FROM pos pp LEFT JOIN fp f USING (u)
           WHERE f.fp IS NULL OR pp.pos < f.fp),
       tr AS (SELECT ch AS src,
           coalesce(lead(ch) OVER (PARTITION BY u ORDER BY pos),
             CASE WHEN fp IS NOT NULL THEN 'CONV' ELSE 'DROP' END) AS dst
         FROM journey),
       sr AS (SELECT 'START' AS src, ch AS dst
         FROM (SELECT ch, row_number() OVER (PARTITION BY u ORDER BY pos) AS rn
               FROM journey) WHERE rn = 1),
       dc AS (SELECT 'START' AS src, 'CONV' AS dst FROM fp WHERE fp = 1),
       cnt AS (SELECT src, dst, count(*)::BIGINT AS n
         FROM (SELECT * FROM tr UNION ALL SELECT * FROM sr
               UNION ALL SELECT * FROM dc) GROUP BY 1, 2),
       p AS MATERIALIZED (SELECT src, dst,
           ((n * 1000000) // (sum(n) OVER (PARTITION BY src)))::BIGINT AS p_e6
         FROM cnt),
       $scenarios,
       abt AS MATERIALIZED (SELECT coalesce(
           (SELECT a FROM a${iters}_base WHERE st = 'START'), 0)::BIGINT AS ab),
       res AS MATERIALIZED ($reRows),
       rtot AS (SELECT sum(re)::BIGINT AS rt FROM res)
       SELECT channel, re::BIGINT AS removal_effect_e6,
         (CASE WHEN rt > 0 THEN (re * 1000000) // rt ELSE 0 END)::BIGINT AS share_e6
       FROM res, rtot"""
  }

  /** The TextRank oracle: symmetric bigram edges → integer-1e6 transition
    * weights → 10 unrolled integer power rounds (the Markov-attribution
    * device at vocabulary scale) → top-10 cut.
    */
  private lazy val sqlTextrank: String = {
    val iters = 10
    val rounds = (1 to iters).map { kk =>
      s"""r$kk AS (SELECT p.v AS node,
           ((SELECT 150000000 // n FROM nn) +
            (85 * ((sum(p.p_e6 * rp.r))::BIGINT // 1000000)) // 100)::BIGINT AS r
         FROM p JOIN r${kk - 1} rp ON rp.node = p.u
         GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH toks AS MATERIALIZED (
         SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         FROM documents),
       bi AS (SELECT string_split(ngram, ' ')[1] AS w1,
             string_split(ngram, ' ')[2] AS w2, count(*) AS n
           FROM (SELECT array_to_string(tk[i:i+1], ' ') AS ngram
                 FROM toks, unnest(range(1, len(tk))) AS u(i))
           GROUP BY 1, 2),
       ed AS (SELECT w1 AS u, w2 AS v, n FROM bi
              UNION ALL SELECT w2, w1, n FROM bi),
       e2 AS (SELECT u, v, sum(n)::BIGINT AS w FROM ed GROUP BY 1, 2),
       ow AS (SELECT u, sum(w)::BIGINT AS ow FROM e2 GROUP BY 1),
       p AS MATERIALIZED (SELECT e2.u, v, (w * 1000000 // ow)::BIGINT AS p_e6
           FROM e2 JOIN ow USING (u)),
       nn AS MATERIALIZED (SELECT count(DISTINCT u)::BIGINT AS n FROM p),
       r0 AS (SELECT u AS node, (SELECT 1000000000 // n FROM nn)::BIGINT AS r
           FROM (SELECT DISTINCT u FROM p)),
       $rounds
       SELECT (row_number() OVER (ORDER BY r DESC, node))::BIGINT AS rank,
         node AS term, r AS score_e9
       FROM r$iters ORDER BY r DESC, node LIMIT 10"""
  }

  /** The HLL oracle: replays [[graft.operators.Sketches.hllDistinct]] —
    * distinct 30-bit hashes, two affine permutations for register/rank,
    * integer bit-length ranks via `bin()`, the EXACT integer harmonic sum
    * in 2^-31 units, the register-max '__all__' merge, and the shared
    * Scala-side scale literal ([[graft.operators.Sketches.hllScaleNum]])
    * so the single floating division is identical on both engines.
    */
  /** Independent EWMA oracle (trailing weighted range self-join per day,
    * NOT the engine's forward-explode rewrite) — shared by the batch
    * query and its streaming dual.
    */
  private lazy val sqlEwmaAnomaly: String =
    """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day_id,
             sum(round(value * 100.0, 0)::BIGINT)::BIGINT AS rev_e2
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         span AS (SELECT min(day_id) AS min_day, max(day_id) AS max_day
                  FROM daily),
         dom AS (SELECT DISTINCT day_id + o AS day
                 FROM daily, range(0, 14) t(o), span
                 WHERE day_id + o <= max_day),
         acc AS (
           SELECT day,
             sum(rev_e2 * (1::BIGINT << (13 - (day - day_id))::INT))::BIGINT
               AS num,
             sum(CASE WHEN day_id = day THEN rev_e2 ELSE 0 END)::BIGINT
               AS rev_e2
           FROM dom JOIN daily ON day_id BETWEEN day - 13 AND day
           GROUP BY 1)
         SELECT day AS day_id, rev_e2::DOUBLE / 100.0 AS revenue,
           round(num::DOUBLE /
             (16384 - (1::BIGINT << (13 - least(13, day - min_day))::INT))
             / 100.0, 6) AS ewma,
           CASE WHEN rev_e2 * 2 *
             (16384 - (1::BIGINT << (13 - least(13, day - min_day))::INT))
             > num * 3 THEN 1 ELSE 0 END::BIGINT AS spike
         FROM acc, span"""

  private lazy val sqlHllDistinct: String = {
    val Seq((a1, b1), (a2, b2)) = Dedup.minhashCoeffs(2)
    val p = 12; val m = 1 << p
    val scale = graft.operators.Sketches.hllScaleNum(p)
    val prime = Dedup.MinhashP
    s"""WITH d AS MATERIALIZED (
         SELECT DISTINCT l_returnflag AS scope,
           ${sqlPh("l_orderkey::VARCHAR", 31L, 1000000007L)} AS h
         FROM lineitem),
       r AS (SELECT scope,
           (($a1 * h + $b1) % $prime) % $m AS reg,
           CASE WHEN (($a2 * h + $b2) % $prime) = 0 THEN 31
                ELSE 31 - length(bin(($a2 * h + $b2) % $prime)) END AS rho
         FROM d),
       regs AS MATERIALIZED (
         SELECT scope, reg, max(rho) AS rho FROM r GROUP BY 1, 2),
       per AS (SELECT scope, sum(1::BIGINT << (31 - rho))::BIGINT AS sp,
                 count(*) AS present
               FROM regs GROUP BY 1
               UNION ALL
               SELECT '__all__', sum(1::BIGINT << (31 - rho))::BIGINT, count(*)
               FROM (SELECT reg, max(rho) AS rho FROM regs GROUP BY 1)),
       ex AS (SELECT scope, count(*) AS exact_distinct FROM d GROUP BY 1
              UNION ALL SELECT '__all__', count(DISTINCT h) FROM d),
       e AS (SELECT scope, sp + ($m - present) * 2147483648::BIGINT AS hsum,
               $m - present AS zr FROM per)
       SELECT e.scope, ex.exact_distinct,
         round(CASE WHEN zr > 0 AND ($scale::DOUBLE / hsum) <= ${2.5 * m}::DOUBLE
            THEN $m::DOUBLE * ln($m::DOUBLE / zr)
            ELSE $scale::DOUBLE / hsum END, 4) AS hll_est
       FROM e JOIN ex ON e.scope = ex.scope"""
  }

  /** The trained-cells IVF-PQ search oracle, shared by the recompute
    * (e_ivfpq_topk) and materialized-index (e_pq_index_topk) variants —
    * identical semantics by construction.
    */
  private lazy val sqlIvfPqTopK: String = {
    val flatC = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val flatPq = graft.operators.TrainedPq.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
    def subV(v: String, m: String) = s"$v[($m) * 16 + 1 : ($m) * 16 + 16]"
    def cbV(m: String, j: String) =
      s"pq[(($m) * 8 + ($j)) * 16 + 1 : (($m) * 8 + ($j)) * 16 + 16]"
    def term(m: Int) =
      sqlL2sq(subV("qv", m.toString), cbV(m.toString, s"codes[$m + 1]"))
    s"""WITH sgt AS (SELECT $flatC::DOUBLE[] AS sg),
       pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cells AS (SELECT vec_id, v,
           list_transform(list_sort(list_transform(range(0, 8), ci ->
             {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
             st -> st.cell) AS sorted_cells
         FROM e CROSS JOIN sgt),
       c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
             FROM cells),
       enc AS (SELECT neighbor_id, cell, list_transform(range(0, 4), m ->
           (list_sort(list_transform(range(0, 8), j ->
             {'d': ${sqlL2sq(subV("cv", "m"), cbV("m", "j"))}, 'j': j})))[1].j) AS codes
         FROM c CROSS JOIN pqt),
       q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
             FROM cells WHERE vec_id < 5),
       cand AS (SELECT query_id, neighbor_id,
           ${term(0)} + ${term(1)} + ${term(2)} + ${term(3)} AS adist
         FROM enc JOIN q USING (cell) CROSS JOIN pqt
         WHERE query_id <> neighbor_id)
       SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
       WHERE rank <= 10"""
  }

  /** Residual IVF-PQ oracle: [[sqlIvfPqTopK]] with the encode/ADC inputs
    * swapped to residuals — rv = v − centroid(cell) for the corpus, and
    * per probed cell qrv = qv − centroid(cell) for the query — under the
    * residual-trained codebook literals.
    */
  private lazy val sqlIvfPqResidualTopK: String = {
    val flatC = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val flatPq = graft.operators.TrainedPqResidual.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
    def subV(v: String, m: String) = s"$v[($m) * 16 + 1 : ($m) * 16 + 16]"
    def cbV(m: String, j: String) =
      s"pq[(($m) * 8 + ($j)) * 16 + 1 : (($m) * 8 + ($j)) * 16 + 16]"
    def term(m: Int) =
      sqlL2sq(subV("qrv", m.toString), cbV(m.toString, s"codes[$m + 1]"))
    s"""WITH sgt AS (SELECT $flatC::DOUBLE[] AS sg),
       pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cells AS (SELECT vec_id, v,
           list_transform(list_sort(list_transform(range(0, 8), ci ->
             {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
             st -> st.cell) AS sorted_cells
         FROM e CROSS JOIN sgt),
       c AS (SELECT vec_id AS neighbor_id,
             list_transform(range(1, 65),
               i -> v[i] - ${centroidList("sorted_cells[1]")}[i]) AS rv,
             sorted_cells[1] AS cell
           FROM cells CROSS JOIN sgt),
       enc AS (SELECT neighbor_id, cell, list_transform(range(0, 4), m ->
           (list_sort(list_transform(range(0, 8), j ->
             {'d': ${sqlL2sq(subV("rv", "m"), cbV("m", "j"))}, 'j': j})))[1].j) AS codes
         FROM c CROSS JOIN pqt),
       q AS (SELECT query_id, cell,
             list_transform(range(1, 65),
               i -> qv[i] - ${centroidList("cell")}[i]) AS qrv
           FROM (SELECT vec_id AS query_id, v AS qv,
                   unnest(sorted_cells[1:2]) AS cell
                 FROM cells WHERE vec_id < 5) CROSS JOIN sgt),
       cand AS (SELECT query_id, neighbor_id,
           ${term(0)} + ${term(1)} + ${term(2)} + ${term(3)} AS adist
         FROM enc JOIN q USING (cell) CROSS JOIN pqt
         WHERE query_id <> neighbor_id)
       SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
       WHERE rank <= 10"""
  }

  /** The augmented-IVF MIPS oracle: [[eMipsIvfTopK]]'s reduction replayed
    * in SQL — identical augmentation arithmetic (mn = sqrt(max Σx²) once;
    * corpus gets sqrt(greatest(mn·mn − Σx², 0)), queries get 0) feeding
    * the same cell-sort/probe/cosine pipeline as [[sqlIvfTopK]] at 65
    * dims.
    */
  private lazy val sqlMipsIvfTopK: String = {
    val centroidList = (ci: String) => s"sg[($ci) * 65 + 1 : ($ci) * 65 + 65]"
    def cellsOf(src: String) =
      s"""SELECT vec_id, v,
             list_transform(list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
               st -> st.cell) AS sorted_cells
           FROM $src CROSS JOIN sgt"""
    s"""WITH sgt AS (SELECT ${sqlSigns(8, 65)}::DOUBLE[] AS sg),
         e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         n AS (SELECT vec_id, v0,
             list_reduce([0.0] || list_transform(v0, x -> x * x),
               (acc, x) -> acc + x) AS d FROM e0),
         mm AS (SELECT sqrt(max(d)) AS mn FROM n),
         ec AS (SELECT vec_id, v0 || [sqrt(greatest(mn * mn - d, 0.0))] AS v
                FROM n CROSS JOIN mm),
         eq AS (SELECT vec_id, v0 || [0.0] AS v FROM n WHERE vec_id < 5),
         cellsC AS (${cellsOf("ec")}),
         cellsQ AS (${cellsOf("eq")}),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
               FROM cellsC),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cellsQ),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
  }

  /** The untrained-centroid IVF search oracle, shared by the recompute
    * (e_ivf_topk) and materialized-index (e_ivf_index_topk) variants —
    * identical semantics by construction.
    */
  /** The plain-IVF candidate chain cut at `rank <= k` — shared by the
    * e_ivf_topk oracle (k=10) and the hard-negative oracle's wider cut.
    */
  private def sqlIvfCand(k: Int, corpusPred: String = "TRUE"): String = {
    val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
    s"""WITH sgt AS (SELECT ${sqlSigns(8, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id, label, v,
             list_transform(list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
               st -> st.cell) AS sorted_cells
           FROM e CROSS JOIN sgt),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
               FROM cells WHERE $corpusPred),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= $k"""
  }
  private lazy val sqlIvfTopK: String = sqlIvfCand(10)
  private lazy val sqlFilteredTopK: String = sqlIvfCand(10, "label = 1")

  /** The exact-decontamination result both the plain and the bloom-prefilter
    * formulations must produce (the bloom is a performance layer, not a
    * semantic one).
    */
  private lazy val sqlDecontaminate: String = {
    val g3 = sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)
    s"""WITH sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> $g3)) END AS g3
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         ev AS (SELECT DISTINCT unnest(g3) AS g FROM sh WHERE doc_id < 10),
         cont AS (SELECT DISTINCT s.doc_id
                  FROM sh s, unnest(s.g3) AS u(g)
                  WHERE s.doc_id >= 10 AND g IN (SELECT g FROM ev))
         SELECT d.doc_id, d.lang FROM documents d
         WHERE d.doc_id >= 10 AND d.doc_id NOT IN (SELECT doc_id FROM cont)"""
  }

  /** Word n-gram occurrence hashes (NOT distinct) over a `tk` token-array
    * column — mirrors `Kernels.wordNgramStats` hashing (space-joined window,
    * 30-bit poly hash). `range(1, len(tk) - ${n-2})` yields len-n+1 windows.
    */
  private def sqlWordNgramHashes(n: Int): String = {
    val upper = if (n == 2) "len(tk)" else s"len(tk) - ${n - 2}"
    s"CASE WHEN len(tk) < $n THEN []::BIGINT[] ELSE " +
      s"list_transform(range(1, $upper), i -> " +
      s"${sqlPh(s"array_to_string(tk[i:i+${n - 1}], ' ')", 31L, 1000000007L)}) END"
  }

  /** MinHash affine coefficients as SQL list literals. */
  private def sqlMinhashAB(numHashes: Int): (String, String) = {
    val cs = Dedup.minhashCoeffs(numHashes)
    (cs.map(_._1).mkString("[", ", ", "]"), cs.map(_._2).mkString("[", ", ", "]"))
  }

  /** The minhash signature chain over `table(doc_id, text)`, ending in
    * `ph(doc_id, phs)` + `bands(doc_id, bd, bsig)` — shared by the pairs
    * oracle, the connected-components closure, and the skew-guard oracle.
    *
    * Signature arithmetic is UNNESTED (shingle rows × a 32-row coefficient
    * VALUES table, grouped back per (doc, k)) instead of nested
    * list-lambdas: DuckDB evaluates a list-literal index inside a lambda
    * per ELEMENT, which made the original form ~50 s per query at sf0.01 —
    * the driver's whole-gate budget. Same arithmetic, vectorized, <2 s.
    * Band keys come out pre-stringified so candidate generation is a HASH
    * equi-join on (bd, bsig), not an O(n²) theta join with a per-pair
    * lambda.
    */
  private def sqlMinhashSigCtes(table: String): String = {
    val coefRows = Dedup.minhashCoeffs(32).zipWithIndex
      .map { case ((a, b), k) => s"($k, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""sh AS (
           SELECT doc_id,
             CASE WHEN length(lower(text)) < 5 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, length(lower(text)) - 3),
                         i -> lower(text)[i:i+4])) END AS g
           FROM $table),
         ph AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(g, s -> ${sqlPh("s", 31L, 1000000007L)})) AS phs
                FROM sh),
         mh_pu AS (SELECT doc_id, unnest(phs) AS p FROM ph),
         mh_coef(k, a, b) AS (VALUES $coefRows),
         mh_sigk AS (
           SELECT ph.doc_id, c.k,
             coalesce(min((c.a * mh_pu.p + c.b) % 1000000007), 1000000007) AS mh
           FROM ph CROSS JOIN mh_coef c LEFT JOIN mh_pu ON mh_pu.doc_id = ph.doc_id
           GROUP BY ph.doc_id, c.k),
         bands AS MATERIALIZED (
           SELECT doc_id, k // 4 AS bd, string_agg(mh, ',' ORDER BY k) AS bsig
           FROM mh_sigk GROUP BY doc_id, k // 4)"""
  }

  /** LSH candidate pairs as a hash equi-join on the stringified band key —
    * `candName(id_a, id_b, ga, gb)` with the pair's shingle-hash lists
    * attached, `pairCond` constraining (x, y) doc ids.
    */
  private def sqlBandCand(candName: String,
      pairCond: String = "x.doc_id < y.doc_id"): String =
    s"""${candName}0 AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y
             ON x.bd = y.bd AND x.bsig = y.bsig AND $pairCond),
         $candName AS (
           SELECT c.id_a, c.id_b, pa.phs AS ga, pb.phs AS gb
           FROM ${candName}0 c
             JOIN ph pa ON pa.doc_id = c.id_a
             JOIN ph pb ON pb.doc_id = c.id_b)"""

  /** The minhash-LSH pair pipeline as a reusable CTE chain ending in
    * `j(id_a, id_b, jac)` — shared by the pairs oracle and the
    * connected-components closure.
    */
  private lazy val sqlMinhashCtes: String =
    s"""${sqlMinhashSigCtes("documents")},
         ${sqlBandCand("cand")},
         j AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                  ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb)) END AS jac
           FROM cand)"""

  private val langProfilesSql = TextAnalysis.languageProfiles.map { case (lang, markers) =>
    val ms = markers.map(m => s"'$m'").mkString(", ")
    s"{'score': len(list_filter(toks, x -> x IN ($ms))), 'lang': '$lang'}"
  }.mkString(", ")

  /** Shared by q_cusum_shift and s_cusum_stream: the streaming drain's
    * hourly counts feed the same scoring, so one batch replay proves both.
    */
  private lazy val sqlCusumShift: String =
    """WITH h AS MATERIALIZED (SELECT event_type,
           epoch_us(ts) // 3600000000 AS hour_id, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       mn AS (SELECT min(hour_id) AS m FROM h),
       h2 AS (SELECT event_type, hour_id,
           hour_id - (SELECT m FROM mn) AS rh,
           c + CASE WHEN event_type = 'purchase'
                     AND hour_id - (SELECT m FROM mn) >= 500
               THEN 37 ELSE 0 END AS c2
         FROM h),
       sc AS (SELECT event_type, rh,
           avg(c2) OVER (PARTITION BY event_type) AS mean,
           stddev_pop(c2) OVER (PARTITION BY event_type) AS sd,
           count(*) OVER (PARTITION BY event_type) AS n,
           sum(c2) OVER (PARTITION BY event_type ORDER BY hour_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (PARTITION BY event_type ORDER BY hour_id) AS rn
         FROM h2),
       s2 AS (SELECT event_type, rh, n, sd,
           abs(cum - rn * mean) AS abs_s FROM sc),
       pick AS (SELECT event_type, n,
           CASE WHEN sd = 0 THEN 1.0 ELSE sd END AS sd, rh, abs_s,
           row_number() OVER (PARTITION BY event_type
             ORDER BY abs_s DESC, rh ASC) AS rnk
         FROM s2)
       SELECT event_type, CAST(n AS BIGINT) AS n_hours,
         CAST(rh AS BIGINT) AS shift_rh,
         round(abs_s / (sd * sqrt(n)), 6) AS stat,
         abs_s / (sd * sqrt(n)) > 3.0 AS shifted
       FROM pick WHERE rnk = 1"""

  def oracleSql: Map[String, String] = Map(
    "p_pipeline_idempotence" ->
      """SELECT 1 AS run, count(*) AS uploaded FROM events
         UNION ALL SELECT 2 AS run, CAST(0 AS BIGINT) AS uploaded""",
    "p_branch_registry" ->
      """SELECT * FROM (VALUES
         ('ADS_SSD_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_SSI_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_CUSTOMER_MATCH_USER_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('ADS_OFFLINE_CONVERSION', 2000, 'GCLID_TIME', 'GCLID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID', 2000, 'GCLID_TIME', 'GCLID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID', 2000, 'ORDER_ID_TIME', 'ORDER_ID_TIME', false, 0),
         ('ADS_OFFLINE_CONVERSION_CALLS', 2000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('ADS_ENHANCED_CONVERSION_LEADS', 2000, 'UUID', 'UUID', true, 0),
         ('GA_USER_LIST_UPLOAD', 5000000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('GA_DATA_IMPORT', 1000000, 'NOT_TRANSACTIONAL', 'NONE', false, 0),
         ('GA_MEASUREMENT_PROTOCOL', 20, 'UUID', 'UUID', false, 0),
         ('GA_4_MEASUREMENT_PROTOCOL', 20, 'UUID', 'UUID', false, 0),
         ('CM_OFFLINE_CONVERSION', 1000, 'UUID', 'UUID', false, 0),
         ('DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD', 5000, 'NOT_TRANSACTIONAL', 'NONE', true, 0),
         ('APPSFLYER_S2S_EVENTS', 1000, 'UUID', 'UUID', false, 500)
       ) AS t(destination_type, batch_size, read_transactional,
              writeback_transactional, hashed, rate_limit)""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 2) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_top_orders" ->
      """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < DATE '1998-01-01'
         JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q_part_agg" ->
      """SELECT p_brand, count(*) AS n_items,
         round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_extendedprice), 2) AS avg_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "q_rank_suite" ->
      """SELECT c_custkey, c_nationkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(dense_rank() OVER w AS BIGINT) AS drk
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey)""",
    "q_window_rank" ->
      """SELECT event_id, user_id, rn FROM (
           SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 3""",
    "q_sessionize" -> sqlSessionize,
    // the STREAMING sessionizer must reproduce the batch result exactly
    "s_sessionize_stream" -> sqlSessionize,
    // and so must the NATIVE session_window implementation
    "s_session_window_stream" -> sqlSessionize,
    "q_hourly_rollup" -> sqlHourlyRollup,
    // the STREAMING rollup must reproduce the batch result exactly
    "s_rollup_stream" -> sqlHourlyRollup,
    // duplicate-file redelivery deduped back to the original per-user counts
    "s_quality_monitor_stream" ->
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
         FROM r CROSS JOIN (VALUES (0), (1)) AS b(b)""",
    "s_ingest_dedup_stream" ->
      """WITH k AS (SELECT doc_id, lang,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM k WHERE rn = 1 GROUP BY lang""",
    "s_dedup_stream" ->
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
    "q_top_users" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id
         ORDER BY n_events DESC, user_id LIMIT 20""",
    "s_anti_join_stream" ->
      """SELECT event_type, count(*) AS n FROM events
         WHERE event_id % 3 <> 0 GROUP BY 1""",
    "q_anti_join_key" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         round(l_quantity, 2) AS l_quantity
         FROM lineitem li
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_orderkey = li.l_orderkey AND o.o_orderstatus = 'F')""",
    "q_anti_join_2key" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem li
         WHERE NOT EXISTS (
           SELECT 1 FROM lineitem u
           WHERE u.l_returnflag = 'R'
             AND u.l_orderkey = li.l_orderkey AND u.l_linenumber = li.l_linenumber)
         GROUP BY l_returnflag, l_linestatus""",
    "q_prune_user_id" ->
      "SELECT c_name AS user_id FROM customer",
    "q_pii_hash_ads" ->
      """SELECT c_custkey AS crm_id,
         sha256(replace(replace(lower(c_name), '#', '.'), '.', '') || '@gmail.com') AS hashed_email,
         sha256(CAST(c_custkey AS VARCHAR)) AS hashed_phone_number
         FROM customer""",
    "q_cm_custvars_fold" ->
      """SELECT uuid, '[' || string_agg(cv, ', ' ORDER BY cv) || ']' AS customVariables
         FROM (SELECT CAST(user_id AS VARCHAR) AS uuid,
                 '{ "type": "' || event_type || '", "value": "' ||
                 json_extract_string(props, '$.k') || '"}' AS cv
               FROM events)
         GROUP BY uuid""",
    "q_retention_filter" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events)
               - 15::BIGINT * 86400 * 1000000""",
    "q_json_extract_cast" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
         FROM events""",
    "q_batch_count" ->
      """SELECT l_orderkey, count(*) AS n_rows,
         ((count(*) - 1) // 5) + 1 AS n_batches
         FROM lineitem GROUP BY l_orderkey""",
    "q_consolidate" ->
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey AS nationkey FROM supplier)""",
    "q_digits_filter" ->
      """SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
         FROM customer""",
    "q_salted_skew_join" ->
      // the PLAIN join: salting must be semantically invisible
      """WITH ev AS (SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
           FROM events),
         dim AS (SELECT k, count(*) AS k_freq FROM ev GROUP BY k)
         SELECT k, count(*) AS n, max(k_freq) AS k_freq,
           round(sum(value), 2) AS total_value
         FROM ev JOIN dim USING (k) GROUP BY k""",
    "d_exact_dup_groups" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM all_docs GROUP BY text HAVING count(*) > 1""",
    "d_exact_dedup_keep" ->
      """SELECT source, count(*) AS n_kept FROM (
           SELECT * FROM documents
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         GROUP BY source""",
    "d_ngram_jaccard_pairs" -> {
      s"""WITH sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> ${sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)})) END AS g3
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(list_distinct(a.g3 || b.g3)) = 0 THEN 0.0
                  ELSE len(list_intersect(a.g3, b.g3))::DOUBLE /
                       len(list_distinct(a.g3 || b.g3)) END AS jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM pairs WHERE jac >= 0.2"""
    },
    // Independent all-pairs oracle: the prefix filter is lossless, so the
    // engine's output must equal brute force with NO cap caveat.
    "d_prefix_jaccard" -> {
      s"""WITH sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> ${sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)})) END AS g3
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(list_distinct(a.g3 || b.g3)) = 0 THEN 0.0
                  ELSE len(list_intersect(a.g3, b.g3))::DOUBLE /
                       len(list_distinct(a.g3 || b.g3)) END AS jac
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             -- lossless pre-filter: J >= 0.9 forces min >= 0.9*max, so
             -- the expensive intersect runs only on size-compatible pairs
             AND least(len(a.g3), len(b.g3)) * 10 >=
                 greatest(len(a.g3), len(b.g3)) * 9)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM pairs WHERE jac >= 0.9"""
    },
    "g_ppr" -> {
      // unrolled random-walk-with-restart: teleport vector concentrated
      // on the seed part; identical per-round arithmetic to
      // Graph.personalizedPageRank (the g_pagerank oracle precedent)
      val iters = 3
      val rk = (1 to iters).map { k =>
        s"""r$k AS (SELECT n.id,
             0.15::DOUBLE * n.t + 0.85::DOUBLE * coalesce(c.s, 0) AS r
           FROM n LEFT JOIN (
             SELECT tr.dst AS id, sum(tr.p * p.r) AS s
             FROM tr JOIN r${k - 1} p ON tr.src = p.id GROUP BY 1) c
           ON n.id = c.id)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
             count(*)::DOUBLE AS w
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
           GROUP BY 1, 2),
         tr AS (SELECT src, dst, w / NULLIF(sum(w) OVER (PARTITION BY src), 0) AS p
                FROM e),
         n AS (SELECT p_partkey AS id,
             CASE WHEN p_partkey = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS t
           FROM part),
         r0 AS (SELECT id, t AS r FROM n),
         $rk
         SELECT n.id, round(r$iters.r, 8) AS ppr
         FROM r$iters JOIN n ON r$iters.id = n.id"""
    },
    "g_temporal_reach" -> {
      // Bellman-Ford min-arrival relaxation unrolled one CTE per round —
      // identical arithmetic to Graph.temporalEarliestArrival, never a
      // path enumeration (state per node is one BIGINT).
      val rounds = 3
      val relax = (1 to rounds).map { k =>
        s"""a$k AS (
             SELECT id, min(arrival)::BIGINT AS arrival FROM (
               SELECT id, arrival FROM a${k - 1}
               UNION ALL
               SELECT e.dst AS id, e.ts AS arrival
               FROM a${k - 1} p JOIN e ON p.id = e.src AND e.ts >= p.arrival)
             GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH seqo AS (
           SELECT o_orderkey, o_custkey,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nk,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nd
           FROM orders),
         e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
             (epoch_us(nd::TIMESTAMP) // 86400000000)::BIGINT AS ts
           FROM seqo JOIN lineitem a ON a.l_orderkey = o_orderkey
                     JOIN lineitem b ON b.l_orderkey = nk
           WHERE nk IS NOT NULL),
         a0 AS (SELECT 1::BIGINT AS id, 0::BIGINT AS arrival),
         $relax
         SELECT id, arrival FROM a$rounds"""
    },
    "g_sssp_weighted" -> {
      // synchronous Bellman-Ford unrolled one min-fold CTE per round —
      // identical integer arithmetic to Graph.ssspWeighted
      val rounds = 3
      val relax = (1 to rounds).map { k =>
        s"""d$k AS (
             SELECT id, min(dist)::BIGINT AS dist FROM (
               SELECT id, dist FROM d${k - 1}
               UNION ALL
               SELECT e.dst AS id, p.dist + e.w AS dist
               FROM d${k - 1} p JOIN e ON p.id = e.src)
             GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH li AS (SELECT l_orderkey, l_partkey,
             (epoch_us(l_shipdate) // 86400000000)::BIGINT AS day
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT a.l_partkey AS src, b.l_partkey AS dst,
             min(abs(a.day - b.day) + 1)::BIGINT AS w
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
           GROUP BY 1, 2),
         d0 AS (SELECT 1::BIGINT AS id, 0::BIGINT AS dist),
         $relax
         SELECT id, dist FROM d$rounds"""
    },
    "g_hash_walks" -> {
      // the identical LCG hop unrolled one CTE per step over the same
      // row_number-indexed sorted adjacency; all operands positive, so
      // DuckDB's % replays Spark's pmod exactly
      val steps = 3
      val hops = (1 to steps).map { k =>
        s"""s$k AS (SELECT walk, $k::BIGINT AS step, a.dst AS node
             FROM s${k - 1} JOIN adj a ON a.src = s${k - 1}.node
               AND a.idx = ((walk % 2147483647) * 1103515245
                 + $k * 12345) % 2147483647 % a.deg)"""
      }.mkString(",\n")
      val unions = (1 to steps)
        .map(k => s"SELECT walk, step, node FROM s$k").mkString(" UNION ALL ")
      s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey),
         adj AS MATERIALIZED (SELECT src, dst,
             (row_number() OVER (PARTITION BY src ORDER BY dst) - 1)::BIGINT AS idx,
             (count(*) OVER (PARTITION BY src))::BIGINT AS deg
           FROM e),
         s0 AS (SELECT p_partkey::BIGINT AS walk, 0::BIGINT AS step,
             p_partkey::BIGINT AS node FROM part WHERE p_partkey <= 16),
         $hops
         SELECT walk, step, node FROM s0 UNION ALL $unions"""
    },
    "q_fifo_allocation" ->
      // the same running-interval intersection: per-key cumsums on both
      // axes, allocation = interval overlap, zero-width rows dropped
      """WITH d AS (SELECT l_partkey AS key,
             l_orderkey * 10 + l_linenumber AS did,
             CAST(l_quantity AS BIGINT) AS dq,
             sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey * 10 + l_linenumber
               ROWS UNBOUNDED PRECEDING) AS dhi
           FROM lineitem WHERE l_returnflag = 'R'),
         s AS (SELECT l_partkey AS key,
             l_orderkey * 10 + l_linenumber AS lot,
             CAST(l_quantity AS BIGINT) AS sq,
             sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey * 10 + l_linenumber
               ROWS UNBOUNDED PRECEDING) AS shi
           FROM lineitem WHERE l_returnflag = 'A')
         SELECT d.key AS key, did, lot,
           (least(dhi, shi) - greatest(dhi - dq, shi - sq))::BIGINT AS qty
         FROM d JOIN s ON d.key = s.key
         WHERE dhi - dq < shi AND shi - sq < dhi
           AND least(dhi, shi) - greatest(dhi - dq, shi - sq) > 0""",
    "d_containment_pairs" -> {
      s"""WITH base AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents),
         probes AS (SELECT doc_id + 2000000 AS doc_id,
             toks[1:greatest(3, len(toks) // 2)] AS toks
           FROM base WHERE doc_id % 11 = 0),
         allt AS (SELECT * FROM base UNION ALL SELECT * FROM probes),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> ${sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)})) END AS g3
           FROM allt)
         SELECT p.doc_id AS src_id, c.doc_id AS dst_id,
           round(len(list_intersect(p.g3, c.g3))::DOUBLE / len(p.g3), 6) AS containment
         FROM sh p JOIN sh c ON p.doc_id >= 2000000 AND c.doc_id < 2000000
         WHERE len(p.g3) > 0
           AND len(list_intersect(p.g3, c.g3))::DOUBLE / len(p.g3) >= 0.5"""
    },
    "d_minhash_lsh_pairs" ->
      s"""WITH $sqlMinhashCtes
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""",
    "d_lsh_recall" ->
      s"""WITH ${sqlMinhashSigCtes("(SELECT * FROM documents WHERE doc_id < 1000) AS documents")},
         ${sqlBandCand("cand")},
         j AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                  ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb)) END AS jac
           FROM cand),
         lsh AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         -- exact ground truth via a POSTINGS equi-join (shared shingle
         -- hash), not an all-pairs list_intersect: a zero-intersection or
         -- empty-list pair can never reach jac >= 0.5, so only co-occurring
         -- pairs need the arithmetic; |union| = |a| + |b| - |inter| because
         -- phs are per-doc distinct
         ex AS (SELECT id_a, id_b FROM (
               SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
               FROM mh_pu x JOIN mh_pu y ON x.p = y.p AND x.doc_id < y.doc_id
               GROUP BY 1, 2) i
             JOIN (SELECT doc_id, len(phs) AS n FROM ph) la ON la.doc_id = i.id_a
             JOIN (SELECT doc_id, len(phs) AS n FROM ph) lb ON lb.doc_id = i.id_b
           WHERE i.inter::DOUBLE / (la.n + lb.n - i.inter) >= 0.5),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
             CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lsh
           FROM ex LEFT JOIN lsh l USING (id_a, id_b))
         SELECT n_exact, n_lsh, round(n_lsh / n_exact, 6) AS recall FROM c""",
    "d_lsh_index_pairs" ->
      s"""WITH ${sqlMinhashSigCtes("documents")},
         ${sqlBandCand("cand", "x.doc_id < 400 AND y.doc_id >= 400")},
         j AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                  ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb)) END AS jac
           FROM cand)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""",
    "d_incremental_dedup" ->
      """SELECT 1 AS run, count(DISTINCT text) AS n_new FROM documents
         UNION ALL SELECT 2 AS run, CAST(0 AS BIGINT) AS n_new""",
    "d_line_dedup" ->
      """WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN text || '. all rights reserved worldwide' ELSE text END AS text
           FROM documents),
         p AS (SELECT doc_id, string_split_regex(text, '\. ') AS parts FROM planted),
         sent AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, parts[i] AS sentence
                  FROM p, unnest(range(1, len(parts) + 1)) AS t(i)),
         hot AS (SELECT sentence FROM (
                   SELECT sentence, count(DISTINCT doc_id) AS df
                   FROM sent GROUP BY sentence)
                 WHERE df > 5),
         kept AS (SELECT doc_id, pos, sentence FROM sent
                  WHERE sentence NOT IN (SELECT sentence FROM hot)),
         agg AS (SELECT doc_id, string_agg(sentence, '. ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
                 FROM kept GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
         FROM planted d LEFT JOIN agg a USING (doc_id)""",
    "t_token_budget" ->
      // budget metered in real BPE tokens; quality still scores whitespace
      // tokens (qualityScore's own definition)
      s"""WITH RECURSIVE ${sqlBpeCtes("documents")},
         r AS (SELECT doc_id, lang,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS ws_tokens,
           (length(text) - length(regexp_replace(text,
             '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
           len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ($stopwordsSql)))::DOUBLE /
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr
         FROM documents),
         q AS (SELECT r.doc_id, r.lang,
             CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_tokens,
             round(least(ws_tokens::DOUBLE / 100.0, 1.0) * (1.0 - pr)
               * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS quality
           FROM r LEFT JOIN bpe_counts b USING (doc_id))
         SELECT doc_id, lang, n_tokens, cum_tokens FROM (
           SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM q)
         WHERE cum_tokens <= 2000""",
    "d_lsh_skew_guard" ->
      s"""WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN ''
                  WHEN doc_id % 10 = 1 THEN 'terms of service apply to every page of this corpus'
                  ELSE text END AS text
           FROM documents),
         ${sqlMinhashSigCtes("planted")},
         nb AS (SELECT b.doc_id, b.bd, b.bsig AS key
                FROM bands b JOIN ph USING (doc_id) WHERE len(phs) > 0),
         bsz AS (SELECT bd, key, count(*) AS c FROM nb GROUP BY bd, key),
         okb AS (SELECT doc_id, bd, key FROM nb JOIN bsz USING (bd, key) WHERE c <= 20),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM okb a JOIN okb b ON a.bd = b.bd AND a.key = b.key AND a.doc_id < b.doc_id),
         wj AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(x.phs || y.phs)) = 0 THEN 0.0
                  ELSE len(list_intersect(x.phs, y.phs))::DOUBLE /
                       len(list_distinct(x.phs || y.phs)) END AS jac
           FROM cand JOIN ph x ON cand.id_a = x.doc_id
                     JOIN ph y ON cand.id_b = y.doc_id)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM wj WHERE jac >= 0.5""",
    "d_neardup_components" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         mp AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM mp
                   UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b)
         SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a""",
    "d_softdedup_weights" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         mp AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM mp
                   UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b),
         comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
         cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY 1)
         SELECT doc_id, comp.comp, cluster_size,
           CAST(1000000 // cluster_size AS BIGINT) AS weight_e6
         FROM comp JOIN cs USING (comp)""",
    "d_cluster_best_keep" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         mp AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM mp
                   UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b),
         comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
         qr AS (SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
             (length(text) - length(regexp_replace(text,
               '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
             len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
               x -> x IN ($stopwordsSql)))::DOUBLE /
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr
           FROM documents),
         q AS (SELECT doc_id, round(least(n_tokens::DOUBLE / 100.0, 1.0)
             * (1.0 - pr) * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS quality
           FROM qr),
         sel AS (SELECT c.doc_id, c.comp, q.quality
           FROM comp c JOIN q ON c.doc_id = q.doc_id)
         SELECT doc_id, comp, quality FROM (
           SELECT *, row_number() OVER (PARTITION BY comp
             ORDER BY quality DESC, doc_id) AS rn FROM sel)
         WHERE rn = 1""",
    "d_simhash_pairs" ->
      s"""WITH toks AS (
           SELECT doc_id,
             CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                  ELSE list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') END AS tk
           FROM documents),
         h AS (SELECT doc_id, list_transform(tk, t -> ${sqlTokenHash60("t")}) AS hs FROM toks),
         sig AS (SELECT doc_id,
             list_sum(list_transform(range(0, 60), j -> CASE WHEN
               coalesce(list_sum(list_transform(hs, hh ->
                 CASE WHEN (hh >> j) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
               THEN 1::BIGINT << j ELSE 0 END))::BIGINT AS s
           FROM h)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.s, b.s))::BIGINT AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE a.s != 0 AND b.s != 0
           AND bit_count(xor(a.s, b.s)) <= 3""",
    "e_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
             (sqrt(list_sum(list_transform(qv, x -> x * x))) *
              sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
           FROM q, c WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""",
    "e_mips_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) AS d
           FROM q, c WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(d, 6) AS dot FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(d, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""",
    "e_trunc_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         coarse AS (SELECT query_id, neighbor_id, qv, cv,
             list_sum(list_transform(list_zip(qv[1:16], cv[1:16]),
               x -> x[1] * x[2])) AS pdot
           FROM q, c WHERE query_id <> neighbor_id),
         cand AS (SELECT query_id, neighbor_id, qv, cv FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(pdot, 6) DESC, neighbor_id) AS crank FROM coarse)
           WHERE crank <= 30),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
             (sqrt(list_sum(list_transform(qv, x -> x * x))) *
              sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
           FROM cand)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""",
    "e_mmr_rerank" -> sqlMmrRerank,
    "e_hard_negatives" ->
      s"""WITH base AS MATERIALIZED (${sqlIvfCand(30)})
         SELECT query_id, neg_rank, neighbor_id, cosine FROM (
           SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS neg_rank
           FROM base WHERE cosine < 0.98::DOUBLE)
         WHERE neg_rank <= 10""",
    "e_neardup_pairs" ->
      s"""WITH sgt AS (SELECT ${sqlSigns(96, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         bk AS (SELECT vec_id, v,
             list_transform(range(0, 24), tt -> ${sqlSrpBucket("v", "tt * 4", 4, 64)}) AS buckets
           FROM e CROSS JOIN sgt),
         cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
           FROM bk a JOIN bk b ON a.vec_id < b.vec_id
           WHERE len(list_filter(range(0, 24), tt -> a.buckets[tt + 1] = b.buckets[tt + 1])) > 0),
         s AS (SELECT id_a, id_b, ${sqlCos("va", "vb")} AS cos FROM cand)
         SELECT id_a, id_b, round(cos, 6) AS cosine FROM s WHERE cos >= 0.45""",
    "e_ann_srp_topk" ->
      s"""WITH sgt AS (SELECT ${sqlSigns(12, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sig AS (SELECT vec_id, v, ${sqlSrpBucket("v", "0", 12, 64)} AS sig
                 FROM e CROSS JOIN sgt),
         cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM sig q JOIN sig c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
             AND bit_count(xor(q.sig, c.sig)) <= 4)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10""",
    "e_ivf_topk" -> sqlIvfTopK,
    "e_filtered_topk" -> sqlFilteredTopK,
    "e_mips_ivf_topk" -> sqlMipsIvfTopK,
    // the materialized-index variant is semantically identical — same oracle
    "e_ivf_index_topk" -> sqlIvfTopK,
    "e_ivf_trained_topk" -> {
      // identical formulation to e_ivf_topk, with the TRAINED centroid
      // doubles (Double.toString round-trips through DuckDB's parser)
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id, v,
             list_transform(list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
               st -> st.cell) AS sorted_cells
           FROM e CROSS JOIN sgt),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell FROM cells),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
    },
    "e_semdedup_keep" -> {
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      // cells/mp/sd_edges MATERIALIZED: each is referenced 2-4 times
      // (DuckDB inlines per reference by default) and the fuzz corpus's
      // clustered embeddings made the re-inlined cosine work breach the
      // 10 s oracle lab budget — 15.9 s -> 5.6 s, identical rows
      s"""WITH RECURSIVE sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS MATERIALIZED (SELECT vec_id, v,
             (list_transform(list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
               st -> st.cell))[1] AS cell
           FROM e CROSS JOIN sgt),
         mp AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${sqlCos("a.v", "b.v")} >= 0.45),
         sd_edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM mp
                      UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         sd_reach(a, b) AS (
           SELECT vec_id, vec_id FROM cells
           UNION
           SELECT r.a, e2.d FROM sd_reach r JOIN sd_edges e2 ON e2.s = r.b),
         sd_comp AS (SELECT a AS vec_id, min(b) AS comp FROM sd_reach GROUP BY a)
         SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell
         FROM cells c JOIN sd_comp m ON c.vec_id = m.vec_id AND m.comp = c.vec_id"""
    },
    "m_modality_stats" ->
      """SELECT modality, count(*) AS n, round(avg(byte_len), 4) AS avg_bytes FROM (
           SELECT CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                  ELSE 'audio/wav' END AS modality,
                  CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 12 END
                       + octet_length(encode(text)) AS BIGINT) AS byte_len
           FROM documents)
         GROUP BY modality""",
    "m_image_dims" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS width,
                CAST(doc_id % 100 AS BIGINT) AS height
         FROM documents WHERE doc_id % 3 IN (0, 1)""",
    "m_resize_stub" ->
      """SELECT doc_id,
           CAST(n_chars // 2 AS BIGINT) AS width,
           CAST((doc_id % 100) // 2 AS BIGINT) AS height,
           CAST(CASE doc_id % 3 WHEN 0 THEN 24 ELSE 10 END
                + (octet_length(encode(text)) + 1) // 2 AS BIGINT) AS byte_len
         FROM documents WHERE doc_id % 3 IN (0, 1)""",
    "m_phash_neardup" ->
      """WITH img AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 3 IN (0, 1) AND octet_length(encode(text)) >= 61),
         cs AS (SELECT doc_id,
             list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS b
           FROM img),
         sig AS (SELECT doc_id, list_reduce(
             [0::BIGINT] || list_transform(range(1, 61),
               i -> CASE WHEN b[i] > b[i + 1] THEN 1::BIGINT ELSE 0::BIGINT END),
             (acc, x) -> acc * 2 + x) AS sig
           FROM cs)
         SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, c.sig)) AS BIGINT) AS hamming
         FROM sig a JOIN sig c
           ON a.doc_id < c.doc_id AND bit_count(xor(a.sig, c.sig)) <= 3""",
    "m_media_fingerprint" -> {
      // the oracle rebuilds the payload's HEX rendering as a string and
      // replays the same fingerprint fold + stub-embedding affine
      val payloadHex =
        """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
      s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents),
         f AS (SELECT doc_id,
             list_reduce([0::BIGINT] || list_transform(string_split(ph, ''), ch -> ascii(ch)::BIGINT),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
           FROM p)
         SELECT doc_id, fp,
           round(((fp * (2654435761 % 1000000007) + 1) % 1000000007)::DOUBLE / 1000000007.0, 6) AS embed_0
         FROM f"""
    },
    "m_frame_sample" -> {
      val payloadHex =
        """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
      s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents WHERE doc_id < 50)
         SELECT doc_id, fi AS frame_idx, substr(ph, CAST(fi * 128 + 1 AS BIGINT), 32) AS frame_hex
         FROM p, unnest(range(0, ((length(ph) // 2 - 1) // 64) + 1)) AS u(fi)"""
    },
    "m_scene_cuts" -> {
      val payloadHex =
        """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
      s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents),
         fr AS (SELECT doc_id, fi,
             substr(ph, CAST(fi * 128 + 1 AS BIGINT), 128) AS fh
           FROM p, unnest(range(0, ((length(ph) // 2 - 1) // 64) + 1)) AS u(fi)
           ),
         sig AS (SELECT doc_id, fi, list_reduce(
             [0::BIGINT] || list_transform(range(1, 61),
               j -> CASE WHEN ('0x' || substr(fh, (j - 1) * 2 + 1, 2))::BIGINT >
                              ('0x' || substr(fh, j * 2 + 1, 2))::BIGINT
                    THEN 1::BIGINT ELSE 0::BIGINT END),
             (acc, x) -> acc * 2 + x) AS sig
           FROM fr WHERE length(fh) >= 122),
         gs AS (SELECT doc_id, fi, first_value(sig) OVER (
             PARTITION BY doc_id, fi // 3 ORDER BY fi) AS gsig FROM sig),
         cuts AS (SELECT doc_id, gsig, lag(gsig) OVER (
             PARTITION BY doc_id ORDER BY fi) AS prev FROM gs)
         SELECT doc_id, count(*)::BIGINT AS n_frames,
           sum(CASE WHEN prev IS NOT NULL AND bit_count(xor(gsig, prev)) > 10
               THEN 1 ELSE 0 END)::BIGINT AS n_cuts
         FROM cuts GROUP BY 1"""
    },
    "m_jpeg_dims" ->
      // Recursive segment walk mirroring Kernels.jpegDims: `pos` is the
      // 1-based byte index of the current marker's 0xFF (byte i lives at hex
      // offset (i-1)*2+1); recurse past non-SOF segments by 2 + BE16 length,
      // stop at SOF (192-207 minus DHT 196 / JPG 200 / DAC 204), SOS 218,
      // EOI 217, or end of buffer; emit height/width from the SOF payload.
      """WITH RECURSIVE p AS (
           SELECT doc_id,
             'FFD8FFE000104A46494600010100000100010000'
             || CASE WHEN doc_id % 2 = 0 THEN 'FFC4000500AABB' ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END
             || '001108' || lpad(to_hex(doc_id % 300 + 1), 4, '0')
             || lpad(to_hex(n_chars % 1000 + 1), 4, '0')
             || '03011100021101031101'
             || 'FFDA000C03010002110311003F00' || hex(encode(text)) AS ph
           FROM documents),
         walk AS (
           SELECT doc_id, ph, 3::BIGINT AS pos FROM p
           UNION ALL
           SELECT doc_id, ph,
             pos + 2 + ('0x' || substr(ph, (pos + 1) * 2 + 1, 2))::BIGINT * 256
                     + ('0x' || substr(ph, (pos + 2) * 2 + 1, 2))::BIGINT
           FROM walk
           WHERE ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (217, 218)
             AND NOT (('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT BETWEEN 192 AND 207
                      AND ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (196, 200, 204))
             AND (pos + 3) * 2 <= length(ph))
         SELECT doc_id,
           ('0x' || substr(ph, (pos + 6) * 2 + 1, 2))::BIGINT * 256
             + ('0x' || substr(ph, (pos + 7) * 2 + 1, 2))::BIGINT AS width,
           ('0x' || substr(ph, (pos + 4) * 2 + 1, 2))::BIGINT * 256
             + ('0x' || substr(ph, (pos + 5) * 2 + 1, 2))::BIGINT AS height
         FROM walk
         WHERE ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT BETWEEN 192 AND 207
           AND ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (196, 200, 204)""",
    "m_wav_format" ->
      // ground truth stated from the planting formulas — the byte walk must
      // recover them through the variable-offset chunk layout
      """SELECT doc_id,
         CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
         CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
         CAST((doc_id % 2 + 1) * 8 AS BIGINT) AS bits
         FROM documents""",
    "m_mp4_meta" ->
      // ground truth stated from the planting formulas — the box walk must
      // recover them through the variable (optional-free-box) layout
      """SELECT doc_id,
         CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
              WHEN 2 THEN 24000 ELSE 90000 END AS BIGINT) AS timescale,
         CAST((n_chars % 10000) * 100 + doc_id % 100 AS BIGINT) AS duration
         FROM documents""",
    "m_avi_meta" ->
      // ground truth stated from the planting formulas — the RIFF list walk
      // must recover them through the variable (optional-JUNK-chunk) layout
      """SELECT doc_id,
         CAST(n_chars % 1000 + 16 AS BIGINT) AS width,
         CAST(doc_id % 480 + 16 AS BIGINT) AS height,
         CAST(doc_id % 200 + 1 AS BIGINT) AS frames,
         CAST(CASE doc_id % 4 WHEN 0 THEN 16666 WHEN 1 THEN 33333
              WHEN 2 THEN 40000 ELSE 41666 END AS BIGINT) AS us_per_frame
         FROM documents""",
    "m_audio_spectrum" ->
      // the integer-twiddle DFT replayed exactly: same body bytes as
      // m_audio_energy, nested lambdas re-deriving per-frame re/im/power
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
                    FROM documents WHERE doc_id % 3 = 2),
         b AS (SELECT doc_id, list_transform(range(1, length(hx) // 2 + 1),
                 i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))::BIGINT) AS bytes
               FROM h),
         pz AS (SELECT doc_id, bytes, len(bytes) // 8 AS nf,
                 [1000,707,0,-707,-1000,-707,0,707] AS c,
                 [0,707,1000,707,0,-707,-1000,-707] AS s
                FROM b),
         pk AS (SELECT doc_id, list_transform([1,2,3,4], k ->
                 CAST(coalesce(list_sum(list_transform(
                   list_transform(range(0, CAST(nf AS BIGINT)), f ->
                     {'re': list_sum(list_transform(range(0, 8), n ->
                        bytes[CAST(f * 8 + n + 1 AS BIGINT)] * c[CAST((n * k) % 8 + 1 AS BIGINT)])),
                      'im': list_sum(list_transform(range(0, 8), n ->
                        bytes[CAST(f * 8 + n + 1 AS BIGINT)] * s[CAST((n * k) % 8 + 1 AS BIGINT)]))}),
                   x -> x.re * x.re + x.im * x.im)), 0) AS BIGINT)) AS ps
                FROM pz)
         SELECT doc_id, CAST(list_position(ps, list_max(ps)) AS BIGINT) AS dom_bin,
           ps[1] AS p1, ps[2] AS p2, ps[3] AS p3, ps[4] AS p4
         FROM pk""",
    "m_audio_energy" ->
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
                    FROM documents WHERE doc_id % 3 = 2),
         b AS (SELECT doc_id, list_transform(range(1, length(hx) // 2 + 1),
                 i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))::BIGINT) AS bytes
               FROM h)
         SELECT doc_id,
           round(CASE WHEN len(bytes) = 0 THEN 0.0 ELSE
             sqrt(list_sum(list_transform(bytes, x -> x * x))::DOUBLE / len(bytes)) END, 6) AS rms,
           CAST(coalesce(list_max(bytes), 0) AS BIGINT) AS peak
         FROM b""",
    "t_bpe_tokens" ->
      s"""WITH RECURSIVE ${sqlBpeCtes("documents")}
         SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws,
         CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM documents d LEFT JOIN bpe_counts b USING (doc_id)""",
    "t_token_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         round(avg(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))), 4) AS avg_tokens,
         round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang""",
    "t_quality_lr" -> sqlQualityLr,
    "t_conformal" ->
      s"""WITH scored AS MATERIALIZED ( $sqlQualityLr ),
         cal AS (SELECT CASE WHEN label = 1.0 THEN 1.0 - score
                             ELSE score END AS s
                 FROM scored WHERE doc_id % 5 = 0),
         nc AS (SELECT count(*)::BIGINT AS ncal FROM cal),
         kk AS (SELECT ceil((ncal + 1) * 0.9)::BIGINT AS k FROM nc),
         g AS (SELECT s, count(*)::BIGINT AS c FROM cal GROUP BY 1),
         cum AS (SELECT s, sum(c) OVER (ORDER BY s)::BIGINT AS cum FROM g),
         qh AS (SELECT coalesce(min(s), 'infinity'::DOUBLE) AS qhat
                FROM cum, kk WHERE cum >= k),
         test AS (SELECT label,
             (1.0 - score) <= qhat AS has1, score <= qhat AS has0
           FROM scored, qh WHERE doc_id % 5 <> 0),
         agg AS (SELECT count(*)::BIGINT AS n_test,
             sum(CASE WHEN has1 AND has0 THEN 1 ELSE 0 END)::BIGINT AS n_both,
             sum(CASE WHEN has1 AND NOT has0 THEN 1 ELSE 0 END)::BIGINT AS n_only1,
             sum(CASE WHEN has0 AND NOT has1 THEN 1 ELSE 0 END)::BIGINT AS n_only0,
             sum(CASE WHEN NOT has0 AND NOT has1 THEN 1 ELSE 0 END)::BIGINT AS n_empty,
             sum(CASE WHEN (label = 1.0 AND has1) OR (label = 0.0 AND has0)
               THEN 1 ELSE 0 END)::BIGINT AS n_cov
           FROM test)
         SELECT (SELECT ncal FROM nc) AS n_cal,
           round((SELECT qhat FROM qh), 5) AS qhat,
           n_test, n_both, n_only1, n_only0, n_empty,
           round(n_cov::DOUBLE / n_test::DOUBLE, 6) AS coverage
         FROM agg""",
    "t_rater_kappa" ->
      s"""WITH scored AS MATERIALIZED ( $sqlQualityLr ),
         $sqlQualityGateCtes,
         lab AS (SELECT qg_q.doc_id,
             CASE WHEN quality >= 0.25 AND dup3 <= 0.2 AND n_tokens >= 5
               THEN 1 ELSE 0 END AS a,
             CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS b
           FROM qg_q JOIN scored ON qg_q.doc_id = scored.doc_id),
         c AS (SELECT count(*)::BIGINT AS n, sum(a * b)::BIGINT AS n11,
             sum((1 - a) * (1 - b))::BIGINT AS n00,
             sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb
           FROM lab),
         p AS (SELECT *,
             (na * nb + (n - na) * (n - nb))::DOUBLE / (n * n)::DOUBLE AS pe
           FROM c)
         SELECT n, n11, n00, na, nb,
           CASE WHEN pe = 1.0 THEN NULL
             ELSE round(((n11 + n00)::DOUBLE / n::DOUBLE - pe) / (1.0 - pe), 6)
           END AS kappa
         FROM p""",
    "t_lr_auc" ->
      s"""WITH g AS (
           SELECT score, count(*)::DOUBLE AS n_eq, sum(label)::DOUBLE AS n_pos_eq
           FROM ( $sqlQualityLr ) scored GROUP BY score),
         r AS (
           SELECT *, coalesce(sum(n_eq) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_less
           FROM g),
         a AS (
           SELECT sum(n_pos_eq * (cnt_less + (n_eq + 1.0) / 2.0)) AS rank_pos,
             sum(n_pos_eq) AS n_pos, sum(n_eq) AS n_all
           FROM r)
         SELECT round((rank_pos - n_pos * (n_pos + 1.0) / 2.0)
             / NULLIF(n_pos * (n_all - n_pos), 0), 6) AS auc,
           n_pos::BIGINT AS n_pos, (n_all - n_pos)::BIGINT AS n_neg
         FROM a""",
    "t_fertility" ->
      s"""WITH RECURSIVE ${sqlBpeCtes("documents")},
         per_doc AS (
           SELECT d.doc_id, d.lang,
             len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS n_ws,
             coalesce(b.n_bpe, 0) AS n_bpe
           FROM documents d LEFT JOIN bpe_counts b USING (doc_id))
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           round(CAST(sum(n_bpe) AS BIGINT)::DOUBLE
             / CAST(sum(n_ws) AS BIGINT), 6) AS fertility
         FROM per_doc GROUP BY lang""",
    "t_quality" ->
      s"""WITH r AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpeish,
           (length(text) - length(regexp_replace(text,
             '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
           len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
             x -> x IN ($stopwordsSql)))::DOUBLE /
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr
         FROM documents)
         SELECT doc_id, n_tokens, n_bpeish,
           round(pr, 6) AS punct_ratio, round(sr, 6) AS stopword_ratio,
           round(least(n_tokens::DOUBLE / 100.0, 1.0) * (1.0 - pr)
             * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS quality
         FROM r""",
    "q_pii_hash_dv" ->
      """SELECT c_custkey AS crm_id,
         sha256(replace(replace(lower(c_name), '#', '.'), '.', '') || '@gmail.com') AS hashedEmails,
         sha256(CAST(c_custkey AS VARCHAR)) AS hashedPhoneNumbers,
         sha256(lower(c_name)) AS hashedFirstName,
         sha256(lower(c_mktsegment)) AS hashedLastName,
         'BR' AS countryCode,
         CAST(c_custkey AS VARCHAR) AS zipCodes
         FROM customer""",
    "t_langid" ->
      s"""SELECT doc_id, (list_sort([$langProfilesSql])[-1]).lang AS lang_pred
         FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
               FROM documents)""",
    "t_langid_eval" ->
      s"""SELECT lang, lang_pred, count(*) AS n FROM (
           SELECT lang, (list_sort([$langProfilesSql])[-1]).lang AS lang_pred
           FROM (SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
                 FROM documents))
         GROUP BY 1, 2""",
    "t_fingerprint" ->
      """SELECT doc_id,
         list_reduce([0::BIGINT] || list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM documents""",
    "t_repetition" ->
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
                        FROM documents),
         g AS (SELECT doc_id, ${sqlWordNgramHashes(2)} AS g2, ${sqlWordNgramHashes(3)} AS g3
               FROM toks)
         SELECT doc_id,
           round(CASE WHEN len(g2) = 0 THEN 0.0 ELSE
             coalesce(list_max(list_transform(list_distinct(g2),
               x -> len(list_filter(g2, y -> y = x)))), 0)::DOUBLE / len(g2) END, 6)
             AS top_2gram_frac,
           round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
             (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END, 6)
             AS dup_3gram_frac
         FROM g""",
    "t_redact" ->
      s"""WITH r AS (SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or call '
                  || lpad(doc_id::VARCHAR, 7, '0') AS raw
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '${TextAnalysis.EmailPattern}'))
              + len(regexp_extract_all(
                  regexp_replace(raw, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
                  '${TextAnalysis.LongNumberPattern}')) AS BIGINT) AS n_pii,
           regexp_replace(regexp_replace(raw, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
             '${TextAnalysis.LongNumberPattern}', '<NUM>', 'g') AS clean
         FROM r""",
    "t_quality_filter" ->
      s"""WITH $sqlQualityGateCtes
         SELECT doc_id, quality FROM qg_q
         WHERE quality >= 0.25 AND dup3 <= 0.2 AND n_tokens >= 5""",
    "c_decontaminate" -> sqlDecontaminate,
    "c_contamination_report" -> {
      val g3 = sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)
      s"""WITH sh AS MATERIALIZED (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> $g3)) END AS g3
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         ev AS (SELECT doc_id AS eval_id, unnest(g3) AS g FROM sh WHERE doc_id < 10),
         tg AS MATERIALIZED (
           SELECT doc_id AS train_id, unnest(g3) AS g FROM sh WHERE doc_id >= 10),
         tot AS (SELECT eval_id, count(*) AS n_grams FROM ev GROUP BY 1),
         hit AS (SELECT e.eval_id, count(*) AS n_hit FROM ev e
                 WHERE e.g IN (SELECT g FROM tg) GROUP BY 1),
         rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM tg GROUP BY g)
                  WHERE df <= 100),
         pair AS (SELECT e.eval_id, t.train_id, count(*) AS shared
                  FROM ev e JOIN tg t USING (g)
                  WHERE e.g IN (SELECT g FROM rare) GROUP BY 1, 2),
         worst AS (SELECT eval_id, train_id AS worst_train_doc, shared AS worst_shared
                   FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
                           ORDER BY shared DESC, train_id ASC) AS rn FROM pair)
                   WHERE rn = 1)
         SELECT t.eval_id, t.n_grams,
           coalesce(h.n_hit, 0)::BIGINT AS n_hit,
           round(coalesce(h.n_hit, 0) / t.n_grams, 6) AS overlap_frac,
           coalesce(w.worst_shared, 0)::BIGINT AS worst_shared,
           coalesce(w.worst_train_doc, -1)::BIGINT AS worst_train_doc
         FROM tot t LEFT JOIN hit h USING (eval_id)
           LEFT JOIN worst w USING (eval_id)"""
    },
    // the bloom variant's prefilter is semantics-free (false positives are
    // removed by the exact verify join) — identical declared result
    "c_decontaminate_bloom" -> sqlDecontaminate,
    "c_stratified_sample" ->
      s"""SELECT doc_id, source FROM documents
         WHERE ${sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)} % 1000 <
           CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 250
                WHEN source IN ('src4', 'src5', 'src6') THEN 500
                ELSE 1000 END""",
    // PERMISSIVE quarantine: corrupt rows (the planted 13th) roll up under
    // _corrupt with a null char sum; parsed rows group by their source
    "q_bad_records" ->
      """SELECT CASE WHEN doc_id % 13 = 0 THEN '_corrupt' ELSE source END AS src,
           count(*) AS n,
           CAST(sum(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END)
             AS BIGINT) AS chars_sum
         FROM documents GROUP BY 1""",
    "t_encoding_audit" ->
      """WITH d AS (SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN text || chr(65533) || chr(65533) || chr(7)
                  ELSE text END AS t
           FROM documents),
         m AS (SELECT source,
             length(t) - length(regexp_replace(t, chr(65533), '', 'g')) AS repl,
             length(t) - length(regexp_replace(t,
               '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctrl
           FROM d)
         SELECT source, CAST(sum(repl) AS BIGINT) AS n_repl,
           CAST(sum(ctrl) AS BIGINT) AS n_ctrl,
           CAST(count(CASE WHEN repl > 0 OR ctrl > 0 THEN 1 END) AS BIGINT)
             AS n_flagged
         FROM m GROUP BY 1""",
    "q_k_anonymity" ->
      """WITH c AS (SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hr,
             CAST(count(DISTINCT user_id) AS BIGINT) AS k
           FROM events GROUP BY 1, 2, 3)
         SELECT CASE WHEN k = 1 THEN 'k=1' WHEN k < 5 THEN 'k=2-4'
                     WHEN k < 10 THEN 'k=5-9' ELSE 'k>=10' END AS k_bucket,
           count(*) AS n_cells, CAST(sum(k) AS BIGINT) AS n_users
         FROM c GROUP BY 1""",
    "q_cusum_shift" -> sqlCusumShift,
    // streaming dual: the drained hourly counts run through the same
    // scoring, so the batch replay IS the oracle
    "s_cusum_stream" -> sqlCusumShift,
    "q_mad_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS prio,
             2 * round(o_totalprice * 100.0, 0)::BIGINT AS v2 FROM orders),
         med AS (SELECT prio, quantile_cont(v2::DOUBLE, 0.5)::BIGINT AS med2
                 FROM v GROUP BY 1),
         dev AS (SELECT v.prio, abs(v2 - med2)::BIGINT AS dev2
                 FROM v JOIN med USING (prio)),
         mad AS (SELECT prio, quantile_cont(dev2::DOUBLE, 0.5)::BIGINT AS mad2
                 FROM dev GROUP BY 1)
         SELECT dev.prio, count(*)::BIGINT AS n,
           max(med2)::BIGINT AS med2_e2, max(mad2)::BIGINT AS mad2_e2,
           sum(CASE WHEN dev2::DOUBLE > 3.0 * 1.4826 * mad2::DOUBLE
               THEN 1 ELSE 0 END)::BIGINT AS n_outliers
         FROM dev JOIN mad USING (prio) JOIN med USING (prio)
         GROUP BY 1""",
    "q_benford" ->
      """WITH d AS (SELECT substr((round(o_totalprice * 100.0, 0)::BIGINT)::VARCHAR,
             1, 1) AS digit FROM orders),
         g AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
         t AS (SELECT sum(n)::BIGINT AS total FROM g),
         e AS (SELECT digit, n, n * 1000000 // total AS share_e6,
             CASE digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
               WHEN '3' THEN 124939 WHEN '4' THEN 96910 WHEN '5' THEN 79181
               WHEN '6' THEN 66947 WHEN '7' THEN 57992 WHEN '8' THEN 51153
               ELSE 45757 END AS benford_e6
           FROM g, t)
         SELECT digit, n, share_e6::BIGINT AS share_e6,
           benford_e6::BIGINT AS benford_e6,
           round(pow(share_e6::DOUBLE - benford_e6::DOUBLE, 2)
             / benford_e6::DOUBLE, 0)::BIGINT AS chi_term_e6
         FROM e""",
    "q_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
         FROM events GROUP BY 1""",
    "q_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id
           FROM events),
         runs AS (
           SELECT user_id,
             day_id - row_number() OVER (PARTITION BY user_id ORDER BY day_id)
               AS grp
           FROM days),
         streaks AS (
           SELECT user_id, count(*)::BIGINT AS streak_days
           FROM runs GROUP BY user_id, grp)
         SELECT streak_days, count(*)::BIGINT AS n_streaks,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM streaks GROUP BY 1""",
    "q_cramers_v" ->
      """WITH cells AS (
           SELECT event_type, (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             count(*)::BIGINT AS obs
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT obs,
             sum(obs) OVER (PARTITION BY event_type) AS row_tot,
             sum(obs) OVER (PARTITION BY dow) AS col_tot,
             sum(obs) OVER () AS n,
             event_type, dow
           FROM cells),
         terms AS (
           SELECT n, event_type, dow,
             round(pow(obs::DOUBLE - row_tot::DOUBLE * col_tot::DOUBLE / n::DOUBLE, 2)
               / (row_tot::DOUBLE * col_tot::DOUBLE / n::DOUBLE) * 1000000.0, 0)::BIGINT
               AS term_e6
           FROM m)
         SELECT max(n)::BIGINT AS n,
           count(DISTINCT event_type)::BIGINT AS n_types,
           count(DISTINCT dow)::BIGINT AS n_dows,
           sum(term_e6)::BIGINT AS chi2_e6,
           round(sqrt(sum(term_e6)::BIGINT::DOUBLE / 1000000.0 /
             NULLIF(max(n)::BIGINT::DOUBLE *
              (least(count(DISTINCT event_type), count(DISTINCT dow))::BIGINT::DOUBLE
                - 1.0), 0)), 6) AS cramers_v
         FROM terms""",
    "q_sql_gateway" -> sqlGatewayText,
    "q_trailing_window" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
             sum(round(value * 1000000.0, 0)::BIGINT)::BIGINT AS rev_e6
           FROM events GROUP BY 1, 2)
         SELECT event_type, day_id, rev_e6,
           sum(rev_e6) OVER (PARTITION BY event_type ORDER BY day_id
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS trailing7_e6
         FROM daily""",
    "q_bootstrap_ci" -> {
      val h = sqlPh("o_orderkey::VARCHAR || ':' || b::VARCHAR", 31L, 1000000007L)
      s"""WITH r AS (SELECT o_orderkey,
             round(o_totalprice * 100.0, 0)::BIGINT AS cents FROM orders),
         bs AS (SELECT unnest(range(0, 32))::BIGINT AS b),
         h AS (SELECT b, cents, $h % 1000000 AS u FROM r CROSS JOIN bs),
         w AS (SELECT b, cents,
             CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                  WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                  WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
                  WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
                  ELSE 8 END AS w
           FROM h)
         SELECT b, sum(w)::BIGINT AS n_eff,
           sum(w * cents)::BIGINT::DOUBLE / NULLIF(sum(w)::BIGINT::DOUBLE, 0)
             / 100.0 AS mean_price
         FROM w GROUP BY 1"""
    },
    "q_skew_diagnose" -> {
      def ks(table: String, key: String) =
        s"""SELECT '$table.$key' AS key, count(*)::BIGINT AS n_keys,
             max(f)::BIGINT AS max_f,
             (quantile_cont(f::DOUBLE, 0.5) * 2)::BIGINT AS p50_x2,
             max(f)::BIGINT * 2000000 // (quantile_cont(f::DOUBLE, 0.5) * 2)::BIGINT
               AS skew_e6
           FROM (SELECT $key, count(*)::BIGINT AS f FROM $table GROUP BY 1)"""
      s"""${ks("events", "user_id")}
         UNION ALL ${ks("lineitem", "l_orderkey")}
         UNION ALL ${ks("orders", "o_custkey")}"""
    },
    "q_l_diversity" ->
      """WITH c AS (SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hr,
             CAST(count(DISTINCT CAST(floor(value / 100.0) AS BIGINT)) AS BIGINT) AS l
           FROM events GROUP BY 1, 2, 3)
         SELECT CASE WHEN l = 1 THEN 'l=1' WHEN l = 2 THEN 'l=2'
                     WHEN l < 5 THEN 'l=3-4' ELSE 'l>=5' END AS l_bucket,
           count(*) AS n_cells, CAST(sum(l) AS BIGINT) AS sum_l
         FROM c GROUP BY 1""",
    "c_temperature_mix" -> {
      val h = sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             $h AS h
           FROM documents),
         tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
           FROM d GROUP BY 1),
         wt AS MATERIALIZED (SELECT source, t,
             CAST(floor(sqrt(t::DOUBLE) * 1000) AS BIGINT) AS w
           FROM tot WHERE floor(sqrt(t::DOUBLE) * 1000) > 0),
         ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM wt),
         -- HUGEINT ratio arithmetic: t*wsum overflows BIGINT already at
         -- ~1e13 tokens x 1e6 weight sum (the same reason the Spark side
         -- runs DECIMAL(38,0))
         kk AS (SELECT min(t::HUGEINT * (SELECT wsum FROM ws) // w) AS k FROM wt),
         bud AS MATERIALIZED (SELECT source, w,
             CAST(CASE WHEN t::HUGEINT * (SELECT wsum FROM ws) // w = (SELECT k FROM kk)
                  THEN t::HUGEINT
                  ELSE w::HUGEINT * (SELECT k FROM kk) // (SELECT wsum FROM ws)
                  END AS BIGINT) AS budget
           FROM wt),
         sel AS (SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM d)
         SELECT bud.source, bud.w, bud.budget,
           count(*) AS kept_docs, CAST(sum(sel.n_tokens) AS BIGINT) AS kept_tokens
         FROM sel JOIN bud ON sel.source = bud.source AND sel.cum <= bud.budget
         GROUP BY 1, 2, 3"""
    },
    // A-ES weighted sampling: the oracle replays key = ln((h+1)/(P+1))/w
    // and ranks per source — same hash, same IEEE arithmetic
    "c_weighted_sample" ->
      s"""WITH d AS (SELECT source, doc_id,
             ln((${sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)} + 1)
               / 1000000008.0) / n_chars AS k
           FROM documents WHERE n_chars > 0),
         r AS (SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY k DESC, doc_id) AS BIGINT) AS rank
           FROM d)
         SELECT source, rank, doc_id FROM r WHERE rank <= 20""",
    // cluster-level split: the recursive components CTE is the same as
    // d_neardup_components; the split hashes the cluster representative
    "c_kcenter_select" -> sqlKcenterSelect,
    "c_leakage_split" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         mp AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM mp
                   UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b),
         comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a)
         SELECT doc_id, comp,
           CASE WHEN ${sqlPh("'split:' || comp::VARCHAR", 31L, 1000000007L)} % 100 < 5
                THEN 'val' ELSE 'train' END AS split
         FROM comp""",
    "t_top_ngrams" ->
      """WITH toks AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
                       FROM documents WHERE trim(text) <> ''),
         g AS (SELECT array_to_string(tk[i:i+1], ' ') AS ngram
               FROM toks, unnest(range(1, len(tk))) AS u(i))
         SELECT ngram, count(*) AS n FROM g
         GROUP BY ngram ORDER BY n DESC, ngram LIMIT 50""",
    "t_zipf_fit" ->
      """WITH toks AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
                       FROM documents),
         cnts AS (SELECT term, count(*) AS n
                  FROM (SELECT unnest(tk) AS term FROM toks) GROUP BY 1),
         topk AS (SELECT term, n,
                    row_number() OVER (ORDER BY n DESC, term) AS rank
                  FROM cnts QUALIFY rank <= 500),
         xy AS (SELECT ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y FROM topk),
         s AS (SELECT count(*)::DOUBLE AS cnt, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
               FROM xy)
         SELECT cnt::BIGINT AS k_terms,
           round((cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0), 6)
             AS zipf_slope,
           round((sy - (cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0)
             * sx) / cnt, 6) AS zipf_intercept,
           round((cnt * sxy - sx * sy) * (cnt * sxy - sx * sy) /
             NULLIF((cnt * sxx - sx * sx) * (cnt * syy - sy * sy), 0), 6) AS r2
         FROM s""",
    "t_length_deciles" ->
      """WITH r AS (SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)::DOUBLE /
             count(*) OVER (PARTITION BY lang) AS cd
           FROM documents)
         SELECT lang, CAST(d AS BIGINT) AS decile, min(n_chars) AS value
         FROM r, unnest(range(1, 10)) AS u(d)
         WHERE cd >= d / 10.0
         GROUP BY lang, d""",
    "t_chunks" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
                       FROM documents WHERE trim(text) <> '')
         SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
           CAST(len(tk[j*64+1 : j*64+64]) AS BIGINT) AS chunk_tokens,
           array_to_string(tk[j*64+1 : j*64+64], ' ') AS chunk
         FROM toks, unnest(range(0, (len(tk) - 1) // 64 + 1)) AS u(j)""",
    "c_pack_sequences" ->
      s"""WITH RECURSIVE ${sqlBpeCtes("documents")},
         d AS (SELECT doc_id, lang, CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_tokens
               FROM documents LEFT JOIN bpe_counts b USING (doc_id)),
         c AS (SELECT doc_id, lang, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM d)
         SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
           ((cum - 1) // 2048 > (cum - n_tokens) // 2048 AND n_tokens > 0) AS crosses
         FROM c""",
    "c_curation_pipeline" ->
      // Full replay of the composed pipeline, stage by stage: plant →
      // quality gate → scrub → line dedup → minhash-LSH pairs → recursive
      // component closure → representative keep → BPE token budget.
      s"""WITH RECURSIVE c_planted AS (
           SELECT doc_id, lang,
             text || (CASE WHEN doc_id % 5 = 0
                           THEN '. all rights reserved worldwide' ELSE '' END)
                  || (CASE WHEN doc_id % 7 = 0
                           THEN '. contact admin' || doc_id || '@example.com now'
                           ELSE '' END) AS text
           FROM documents),
         c_feat AS (
           SELECT doc_id, lang, text,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_ws,
             (length(text) - length(regexp_replace(text,
               '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
             len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
               x -> x IN ($stopwordsSql)))::DOUBLE /
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
           FROM c_planted),
         c_gate AS (
           SELECT doc_id, lang, text,
             round(least(n_ws::DOUBLE / 100.0, 1.0) * (1.0 - pr)
               * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS quality,
             round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
               (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END, 6) AS dup3,
             n_ws
           FROM (SELECT *, ${sqlWordNgramHashes(3)} AS g3 FROM c_feat)),
         c_scrub AS MATERIALIZED (
           SELECT doc_id, lang, quality,
             regexp_replace(regexp_replace(text,
               '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
               '${TextAnalysis.LongNumberPattern}', '<NUM>', 'g') AS text
           FROM c_gate WHERE quality >= 0.25 AND dup3 <= 0.2 AND n_ws >= 5),
         c_parts AS (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
                     FROM c_scrub),
         c_sent AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, parts[i] AS sentence
                    FROM c_parts, unnest(range(1, len(parts) + 1)) AS u(i)),
         c_hotl AS (SELECT sentence FROM (
                      SELECT sentence, count(DISTINCT doc_id) AS df
                      FROM c_sent GROUP BY sentence)
                    WHERE df > 5),
         c_lines AS (SELECT doc_id, string_agg(sentence, '. ' ORDER BY pos) AS clean_text
                     FROM c_sent
                     WHERE sentence NOT IN (SELECT sentence FROM c_hotl)
                     GROUP BY doc_id),
         curated AS MATERIALIZED (SELECT s.doc_id, s.lang, s.quality,
                       coalesce(l.clean_text, '') AS text
                     FROM c_scrub s LEFT JOIN c_lines l USING (doc_id)),
         ${sqlMinhashSigCtes("curated")},
         ${sqlBandCand("c_cand")},
         c_mp AS (SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                    ELSE len(list_intersect(ga, gb))::DOUBLE /
                         len(list_distinct(ga || gb)) END AS jac
             FROM c_cand)
           WHERE jac >= 0.5),
         c_edges AS (SELECT id_a AS s, id_b AS d FROM c_mp
                     UNION ALL SELECT id_b AS s, id_a AS d FROM c_mp),
         c_reach(a, b) AS (
           SELECT doc_id, doc_id FROM curated
           UNION
           SELECT r.a, e.d FROM c_reach r JOIN c_edges e ON e.s = r.b),
         c_comp AS MATERIALIZED (SELECT a AS doc_id, min(b) AS comp FROM c_reach GROUP BY a),
         reps AS MATERIALIZED (SELECT c.doc_id, c.lang, c.quality, c.text
                  FROM curated c JOIN c_comp m
                    ON c.doc_id = m.doc_id AND m.comp = c.doc_id),
         ${sqlBpeCtes("reps")},
         c_sel AS (SELECT r.doc_id, r.lang, r.quality,
                     CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_tokens
                   FROM reps r LEFT JOIN bpe_counts b USING (doc_id))
         SELECT doc_id, lang, n_tokens, cum_tokens FROM (
           SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
           FROM c_sel)
         WHERE cum_tokens <= 2000""",
    "s_topk_stream" ->
      """SELECT hour_id, rank, event_id, value FROM (
           SELECT epoch_us(ts) // 3600000000 AS hour_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY epoch_us(ts) // 3600000000
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
           FROM events) WHERE rank <= 3""",
    "q_topk_agg" ->
      """SELECT user_id, rank, event_id, value FROM (
           SELECT user_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
           FROM events) WHERE rank <= 3""",
    "t_lm_score" -> {
      val ph1 = sqlPh("t[i:i]", 31L, 1000000007L)
      val ph2 = sqlPh("t[i:i+1]", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         occ AS (
           SELECT doc_id, lang, st.h1 AS h1, st.h2 AS h2
           FROM d, unnest(list_transform(range(1, length(t)),
             i -> {'h1': $ph1, 'h2': $ph2})) AS u(st)),
         c2 AS (SELECT lang, h1, h2, count(*) AS c2 FROM occ GROUP BY 1, 2, 3),
         c1 AS (SELECT lang, h1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1, 2),
         model AS (SELECT lang, h1, h2, (c2 * ${graft.operators.NgramLm.Scale})
             // (c1 + ${graft.operators.NgramLm.SmoothK}) AS term
           FROM c2 JOIN c1 USING (lang, h1)),
         sc AS (SELECT o.doc_id, o.lang, count(*) AS n_bigrams,
               CAST(sum(coalesce(m.term, 0)) AS BIGINT) AS s
             FROM occ o LEFT JOIN model m USING (lang, h1, h2) GROUP BY 1, 2)
         SELECT d.doc_id, d.lang,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.s // sc.n_bigrams, 0) AS lm_score
         FROM d LEFT JOIN sc USING (doc_id, lang)"""
    },
    "t_ccnet_buckets" -> {
      val ph1 = sqlPh("t[i:i]", 31L, 1000000007L)
      val ph2 = sqlPh("t[i:i+1]", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         occ AS (
           SELECT doc_id, lang, st.h1 AS h1, st.h2 AS h2
           FROM d, unnest(list_transform(range(1, length(t)),
             i -> {'h1': $ph1, 'h2': $ph2})) AS u(st)),
         c2 AS (SELECT lang, h1, h2, count(*) AS c2 FROM occ GROUP BY 1, 2, 3),
         c1 AS (SELECT lang, h1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1, 2),
         model AS (SELECT lang, h1, h2, (c2 * ${graft.operators.NgramLm.Scale})
             // (c1 + ${graft.operators.NgramLm.SmoothK}) AS term
           FROM c2 JOIN c1 USING (lang, h1)),
         sc AS (SELECT o.doc_id, o.lang, count(*) AS n_bigrams,
               CAST(sum(coalesce(m.term, 0)) AS BIGINT) AS s
             FROM occ o LEFT JOIN model m USING (lang, h1, h2) GROUP BY 1, 2),
         base AS (SELECT d.doc_id, d.lang,
             CAST(coalesce(sc.s // sc.n_bigrams, 0) AS BIGINT) AS lm_score
           FROM d LEFT JOIN sc USING (doc_id, lang)),
         hist AS (SELECT lang, lm_score, count(*) AS n FROM base GROUP BY 1, 2),
         cw AS (SELECT lang, lm_score,
             sum(n) OVER (PARTITION BY lang ORDER BY lm_score DESC) AS cum,
             sum(n) OVER (PARTITION BY lang) AS total
           FROM hist),
         th AS (SELECT lang,
             max(CASE WHEN cum * 3 >= total THEN lm_score END) AS t_head,
             max(CASE WHEN cum * 3 >= total * 2 THEN lm_score END) AS t_mid
           FROM cw GROUP BY 1)
         SELECT doc_id, lang, lm_score,
           CASE WHEN lm_score >= t_head THEN 'head'
                WHEN lm_score >= t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM base JOIN th USING (lang)"""
    },
    "c_cross_modal" ->
      s"""WITH $sqlMinhashCtes,
         sel AS (SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT id_a, id_b, jaccard,
           round(${sqlCos("ea.v", "eb.v")}, 6) AS cosine
         FROM sel JOIN e ea ON ea.vec_id = id_a
                  JOIN e eb ON eb.vec_id = id_b""",
    "d_winnow_pairs" -> {
      val ph16 = sqlPh("t[i:i+15]", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id,
             lower(text || (CASE WHEN doc_id % 11 = 0
               THEN ' the shared boilerplate passage that winnowing must catch'
               ELSE '' END)) AS t
           FROM documents),
         h AS (SELECT doc_id,
             CASE WHEN length(t) < 16 THEN []::BIGINT[]
                  ELSE list_transform(range(1, length(t) - 14), i -> $ph16) END AS hs
           FROM d),
         wf AS (SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(
                         range(1, greatest(len(hs) - 7, 1) + 1),
                         i -> list_min(hs[i:i+7]))) END AS fps
           FROM h),
         e AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
         under AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM e GROUP BY 1)
                   WHERE c <= 1000),
         ee AS (SELECT doc_id, fp FROM e WHERE fp IN (SELECT fp FROM under)),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
               FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT id_a, id_b, shared FROM p WHERE shared >= 2"""
    },
    "c_source_overlap" -> {
      val g3 = sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)
      s"""WITH sh AS (SELECT doc_id, source,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> $g3)) END AS g3
           FROM (SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         sg AS (SELECT DISTINCT source, unnest(g3) AS g FROM sh),
         sz AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
         p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams
               FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
               GROUP BY 1, 2)
         SELECT src_a, src_b, shared_grams,
           (shared_grams * 1000000) // least(za.n, zb.n) AS overlap_e6
         FROM p JOIN sz za ON za.source = src_a
                JOIN sz zb ON zb.source = src_b"""
    },
    "c_domain_cap" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
           FROM documents) WHERE rk <= 20""",
    "e_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q8t AS (SELECT vec_id, v,
             CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x ->
                    CAST(floor(x * (127.0 / m) + 0.5) AS BIGINT)) END AS q
           FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS m FROM e)),
         cand AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(qq.q) + 1),
               i -> qq.q[i] * cc.q[i])) AS qdot
           FROM q8t cc JOIN q8t qq
             ON qq.vec_id < 5 AND qq.vec_id <> cc.vec_id),
         top AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id) AS crank FROM cand)
           WHERE crank <= 30),
         res AS (SELECT query_id, neighbor_id,
             ${sqlCos("eq.v", "ec.v")} AS cos
           FROM top JOIN e eq ON eq.vec_id = query_id
                JOIN e ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM res)
         WHERE rank <= 10""",
    // popcount(xor) of packed sign words == count of positions whose sign
    // bits differ, so the oracle ranks by the unpacked per-position sum —
    // exact integers on both sides, no packing arithmetic to replay.
    "e_binary_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cand AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(qq.v) + 1),
               i -> CASE WHEN (qq.v[i] > 0) <> (cc.v[i] > 0)
                         THEN 1 ELSE 0 END))::BIGINT AS hd
           FROM e cc JOIN e qq
             ON qq.vec_id < 5 AND qq.vec_id <> cc.vec_id),
         top AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY hd, neighbor_id) AS crank FROM cand)
           WHERE crank <= 30),
         res AS (SELECT query_id, neighbor_id,
             ${sqlCos("eq.v", "ec.v")} AS cos
           FROM top JOIN e eq ON eq.vec_id = query_id
                JOIN e ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM res)
         WHERE rank <= 10""",
    "e_cell_drift" -> {
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})))[1] AS best
           FROM e CROSS JOIN sgt),
         a AS (SELECT CAST(best.cell AS BIGINT) AS cell,
                      vec_id % 2 = 0 AS even FROM cells),
         p AS (SELECT cell,
             CAST(count(*) FILTER (even) AS BIGINT) AS n_even,
             CAST(count(*) FILTER (NOT even) AS BIGINT) AS n_odd
           FROM a GROUP BY cell),
         t AS (SELECT cell, n_even, n_odd,
             CAST(round(n_even * 1000000.0 / sum(n_even) OVER (), 0) AS BIGINT) AS se,
             CAST(round(n_odd * 1000000.0 / sum(n_odd) OVER (), 0) AS BIGINT) AS so
           FROM p)
         SELECT cell, n_even, n_odd, abs(se - so) AS delta_share_e6 FROM t"""
    },
    "e_cluster_profile" -> {
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})))[1] AS best
           FROM e CROSS JOIN sgt),
         p AS (SELECT CAST(best.cell AS BIGINT) AS cell,
                      round(-best.negCos, 6) AS cos FROM cells)
         SELECT cell, count(*) AS n,
           round(CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_cos
         FROM p GROUP BY cell"""
    },
    "e_ood_outliers" -> {
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})))[1] AS best
           FROM e CROSS JOIN sgt),
         b AS (SELECT vec_id, CAST(best.cell AS BIGINT) AS cell,
             round(-best.negCos, 6) AS cos,
             CAST(round(round(-best.negCos, 6) * 1000000, 0) AS BIGINT) AS cos_e6
           FROM cells),
         st AS (SELECT cell, count(*)::BIGINT AS n_cell,
             sum(cos_e6)::BIGINT AS s1, sum(cos_e6 * cos_e6)::BIGINT AS s2
           FROM b GROUP BY 1),
         sc AS (SELECT cell, s1::DOUBLE / n_cell AS mu,
             sqrt(greatest(s2::DOUBLE / n_cell
               - (s1::DOUBLE / n_cell) * (s1::DOUBLE / n_cell), 0.0)) AS sigma
           FROM st)
         SELECT vec_id, b.cell AS cell, cos,
           round((mu - cos_e6::DOUBLE) / sigma, 4) AS z
         FROM b JOIN sc ON b.cell = sc.cell
         WHERE sigma > 0.0
         ORDER BY z DESC, vec_id LIMIT 25"""
    },
    "e_silhouette" -> {
      val flat = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         arr AS (SELECT vec_id,
             list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})) AS ar
           FROM e CROSS JOIN sgt),
         p AS (SELECT CAST(ar[1].cell AS BIGINT) AS cell,
                      1.0 + ar[1].negCos AS a, 1.0 + ar[2].negCos AS b FROM arr),
         q AS (SELECT cell,
             CASE WHEN b <= 0 THEN 0.0
                  ELSE (b - a) / greatest(a, b) END AS sil
           FROM p)
         SELECT cell, count(*) AS n,
           round(CAST(sum(CAST(round(sil * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_silhouette
         FROM q GROUP BY cell"""
    },
    "q_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""",
    "q_jsonl_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""",
    "s_outer_interval_stream" ->
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
         GROUP BY 1""",
    "s_interval_join_stream" ->
      """SELECT l.user_id, count(*) AS n_pairs
         FROM events l JOIN events r
           ON l.user_id = r.user_id
          AND l.event_type = 'click' AND r.event_type = 'purchase'
          AND epoch_us(r.ts) >= epoch_us(l.ts)
          AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
         GROUP BY 1""",
    // DuckDB's native ASOF JOIN is the semantic spec the union+window
    // formulation must reproduce
    "q_asof_join" ->
      """WITH o AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND epoch_us(e.ts) >= o.o_us""",
    // the native AsofJoinExec merge must equal DuckDB's ASOF LEFT JOIN,
    // including the matched order's own timestamp in the output
    "q_asof_native" ->
      """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.o_us AS last_order_us, o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_user AND epoch_us(e.ts) >= o.o_us""",
    // the salted variant must be result-identical to the unsalted native
    // join — same ASOF oracle, salting invisible in the rows
    "q_asof_salted" ->
      """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.o_us AS last_order_us, o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_user AND epoch_us(e.ts) >= o.o_us""",
    // tolerance/forward variants have no native DuckDB ASOF form — the
    // oracle replays them as bounded arg_max/arg_min over the range join
    "q_asof_tolerance" ->
      """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price
           FROM orders GROUP BY 1, 2),
         e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
         SELECT e.event_id, e.user_id, e.ts_us,
           CAST(arg_max(o.o_us, o.o_us) AS BIGINT) AS last_order_us,
           arg_max(o.last_order_price, o.o_us) AS last_order_price
         FROM e LEFT JOIN o ON e.user_id = o.o_user
           AND o.o_us <= e.ts_us AND e.ts_us - o.o_us <= 2592000000000
         GROUP BY 1, 2, 3""",
    "q_asof_forward" ->
      """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price
           FROM orders GROUP BY 1, 2),
         e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
         SELECT e.event_id, e.user_id, e.ts_us,
           CAST(arg_min(o.o_us, o.o_us) AS BIGINT) AS next_order_us,
           arg_min(o.last_order_price, o.o_us) AS next_order_price
         FROM e LEFT JOIN o ON e.user_id = o.o_user
           AND o.o_us >= e.ts_us AND o.o_us - e.ts_us <= 7776000000000
         GROUP BY 1, 2, 3""",
    "q_range_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS t, value FROM events),
         a AS (SELECT event_id AS anchor_id, t AS s FROM ev WHERE value > 300)
         SELECT a.anchor_id, count(*) AS n_events,
           round(sum(ev.value), 2) AS total_value
         FROM a JOIN ev ON ev.t >= a.s AND ev.t < a.s + 1800000000
         GROUP BY 1""",
    "t_heavy_hitters" -> {
      val (a, b) = sqlMinhashAB(4)
      val ph = sqlPh("tok", 31L, 1000000007L)
      s"""WITH occ AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
             FROM documents WHERE trim(text) <> ''),
         h AS (SELECT $ph AS ph FROM occ),
         cells AS (SELECT r, ((($a)[r + 1] * ph + ($b)[r + 1]) % 1000000007) % 1024 AS bucket
           FROM h, unnest(range(0, 4)) AS u(r)),
         cms AS (SELECT r, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
         cand AS (SELECT tok, count(*) AS exact_n FROM occ GROUP BY 1
           ORDER BY exact_n DESC, tok LIMIT 50),
         probe AS (SELECT tok, exact_n, r,
             ((($a)[r + 1] * $ph + ($b)[r + 1]) % 1000000007) % 1024 AS bucket
           FROM cand, unnest(range(0, 4)) AS u(r))
         SELECT p.tok, p.exact_n,
           CAST(min(coalesce(m.c, 0)) AS BIGINT) AS cms_est
         FROM probe p LEFT JOIN cms m ON m.r = p.r AND m.bucket = p.bucket
         GROUP BY 1, 2"""
    },
    // the STREAMING as-of enrichment must equal DuckDB's native ASOF JOIN
    "s_transitions_stream" ->
      """WITH seq AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
           FROM events)
         SELECT event_type AS src_type, next_type AS dst_type,
           CAST(count(*) AS BIGINT) AS n
         FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2""",
    "s_asof_stream" ->
      """WITH o AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS p
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.p AS last_order_price
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND epoch_us(e.ts) >= o.o_us""",
    // the STREAMING sliding rollup must equal the batch explode + tumble
    "s_sliding_stream" ->
      """WITH ev AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
         x AS (SELECT (t // 1800000000 - d) * 30 AS win_min, event_type, value
           FROM ev, unnest(range(0, 2)) AS u(d))
         SELECT win_min, event_type, count(*) AS n,
           round(sum(value), 2) AS total_value
         FROM x GROUP BY 1, 2""",
    "q_rolling_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         count(*) OVER w AS n_1h, max(value) OVER w AS max_v_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    // v1 must still answer like the pre-merge base after v2 publishes
    "q_version_expire" ->
      """SELECT 2::BIGINT AS version, count(*) AS n_rows
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT 3::BIGINT, count(*) FROM customer WHERE c_custkey % 3 = 0""",
    "q_delete_vectors" ->
      """SELECT 'base' AS view, count(*) AS n_rows,
           round(sum(c_acctbal), 2) AS acctbal_sum
         FROM customer
         UNION ALL
         SELECT 'mor', count(*), round(sum(c_acctbal), 2)
         FROM customer
         WHERE c_custkey % 97 <> 0 AND c_custkey % 101 <> 0""",
    "q_rtbf_delete" ->
      """SELECT 1::BIGINT AS snapshot, count(*) AS n_rows,
           sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_requested_remaining,
           round(sum(c_acctbal), 2) AS acctbal_sum
         FROM customer
         UNION ALL
         SELECT 2::BIGINT, count(*),
           sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT,
           round(sum(c_acctbal), 2)
         FROM customer WHERE c_custkey % 97 <> 0""",
    "q_time_travel" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             0::BIGINT AS version, 0 AS src FROM orders),
         upd AS (SELECT o_orderkey, round(o_totalprice + 1000, 2),
             1::BIGINT, 1 FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 1.0::DOUBLE, 1::BIGINT, 1
           FROM orders WHERE o_orderkey % 97 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC, src DESC) AS rn FROM u),
         merged AS (SELECT o_orderkey, o_totalprice FROM r WHERE rn = 1)
         SELECT 1::BIGINT AS snapshot, count(*) AS n_orders,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price FROM base
         UNION ALL
         SELECT 2::BIGINT, count(*),
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) FROM merged""",
    "q_schema_evolution" ->
      """SELECT lang, count(*) AS n,
         count(CASE WHEN doc_id >= 250 THEN 1 END) AS n_evolved,
         CAST(sum(CASE WHEN doc_id >= 250 THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_evolved
         FROM documents GROUP BY 1""",
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             0::BIGINT AS version, 0 AS src FROM orders),
         upd AS (SELECT o_orderkey, round(o_totalprice + 1000, 2),
             1::BIGINT, 1 FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey + 100000000, 1.0::DOUBLE, 1::BIGINT, 1
           FROM orders WHERE o_orderkey % 97 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC, src DESC) AS rn FROM u)
         SELECT o_orderkey, o_totalprice, version FROM r WHERE rn = 1""",
    "q_merge_cdc" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             0::BIGINT AS version, 0 AS src, 'U' AS op FROM orders),
         upd AS (SELECT o_orderkey, round(o_totalprice + 1000, 2),
             1::BIGINT, 1, 'U' FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, 0.0::DOUBLE, 2::BIGINT, 1, 'D'
           FROM orders WHERE o_orderkey % 13 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC, src DESC) AS rn FROM u)
         SELECT o_orderkey, o_totalprice, version FROM r
         WHERE rn = 1 AND op <> 'D'""",
    "q_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             0::BIGINT AS version, 0 AS src, 'U' AS op FROM orders),
         upd AS (SELECT o_orderkey, round(o_totalprice + 1000, 2),
             1::BIGINT, 1, 'U' FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, 0.0::DOUBLE, 2::BIGINT, 1, 'D'
           FROM orders WHERE o_orderkey % 13 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC, src DESC) AS rn FROM u),
         merged AS (SELECT o_orderkey, o_totalprice FROM r
           WHERE rn = 1 AND op <> 'D'),
         v1 AS (SELECT o_orderkey, round(o_totalprice, 2) AS old_price FROM orders),
         d AS (SELECT coalesce(v1.o_orderkey, m.o_orderkey) AS o_orderkey,
             v1.old_price, m.o_totalprice AS new_price,
             CASE WHEN v1.old_price IS NULL THEN 'added'
                  WHEN m.o_totalprice IS NULL THEN 'removed'
                  WHEN v1.old_price <> m.o_totalprice THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM v1 FULL OUTER JOIN merged m ON v1.o_orderkey = m.o_orderkey)
         SELECT o_orderkey, status, old_price, new_price
         FROM d WHERE status <> 'unchanged'""",
    "t_lm_cross" -> {
      val ph1 = sqlPh("t[i:i]", 31L, 1000000007L)
      val ph2 = sqlPh("t[i:i+1]", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         occ AS (
           SELECT doc_id, lang, st.h1 AS h1, st.h2 AS h2
           FROM d, unnest(list_transform(range(1, length(t)),
             i -> {'h1': $ph1, 'h2': $ph2})) AS u(st)),
         c2 AS (SELECT lang, h1, h2, count(*) AS c2 FROM occ
           WHERE doc_id < 250 GROUP BY 1, 2, 3),
         c1 AS (SELECT lang, h1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1, 2),
         model AS (SELECT lang, h1, h2, (c2 * ${graft.operators.NgramLm.Scale})
             // (c1 + ${graft.operators.NgramLm.SmoothK}) AS term
           FROM c2 JOIN c1 USING (lang, h1)),
         sc AS (SELECT o.doc_id, o.lang, count(*) AS n_bigrams,
               CAST(sum(coalesce(m.term, 0)) AS BIGINT) AS s
             FROM occ o LEFT JOIN model m USING (lang, h1, h2) GROUP BY 1, 2)
         SELECT d.doc_id, d.lang,
           coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.s // sc.n_bigrams, 0) AS lm_score
         FROM d LEFT JOIN sc USING (doc_id, lang)"""
    },
    // the z-ordered rewrite must be lossless (same box-query answer as the
    // original table) and the z-values bit-exact (z_sum replays the
    // interleave); the layout property itself is asserted in BucketingSpec
    "q_quarantine" ->
      """WITH dim AS (SELECT DISTINCT c_custkey FROM customer),
         r AS (SELECT CASE
             WHEN o_custkey IS NULL THEN 'completeness:o_custkey'
             WHEN o_totalprice IS NOT NULL
               AND NOT (o_totalprice >= 0 AND o_totalprice <= 100000)
               THEN 'bounds:o_totalprice'
             WHEN o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 'in_set:o_orderstatus'
             WHEN o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM dim)
               THEN 'foreign_key:o_custkey'
             END AS reason
           FROM orders)
         SELECT coalesce(reason, 'pass') AS disposition,
           CAST(count(*) AS BIGINT) AS n
         FROM r GROUP BY 1""",
    "q_expectations" ->
      """WITH m AS (SELECT count(*) AS n, count(o_custkey) AS c_cust,
           count(DISTINCT o_orderkey) AS d_ok, count(o_orderkey) AS n_ok,
           count(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 100000
             THEN 1 END) AS in_b,
           count(o_totalprice) AS n_tp,
           count(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 END) AS in_s,
           count(o_orderstatus) AS n_os
           FROM orders),
         fk AS (SELECT count(*) AS orphans FROM orders o
           LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL),
         r AS (
           SELECT 'completeness' AS "check", 'o_custkey' AS target,
             c_cust * 1000000 // n AS observed_e6 FROM m
           UNION ALL SELECT 'uniqueness', 'o_orderkey',
             d_ok * 1000000 // n_ok FROM m
           UNION ALL SELECT 'bounds', 'o_totalprice',
             in_b * 1000000 // n_tp FROM m
           UNION ALL SELECT 'in_set', 'o_orderstatus',
             in_s * 1000000 // n_os FROM m
           UNION ALL SELECT 'foreign_key', 'o_custkey',
             (c_cust - orphans) * 1000000 // c_cust FROM m, fk)
         SELECT "check", target, CAST(observed_e6 AS BIGINT) AS observed_e6,
           CAST(1000000 AS BIGINT) AS threshold_e6,
           observed_e6 >= 1000000 AS pass
         FROM r""",
    "q_bucket_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_e2
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q_zorder_layout" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour_id, value
           FROM events),
         f AS (SELECT user_id, hour_id, value,
             CAST(list_sum(list_transform(range(0, 21), i ->
               (((user_id >> i) & 1) << (2 * i)) +
               (((hour_id >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zv
           FROM ev
           WHERE user_id BETWEEN 10 AND 30 AND hour_id BETWEEN 473400 AND 473500)
         SELECT user_id, count(*) AS n, round(sum(value), 2) AS total_value,
           CAST(sum(zv) AS BIGINT) AS z_sum
         FROM f GROUP BY 1""",
    "t_approx_quantiles" ->
      """WITH h AS (SELECT CAST(floor(value / 1.0) AS BIGINT) AS bin, count(*) AS n
           FROM events GROUP BY 1),
         c AS (SELECT bin, n,
             CAST(sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(n) OVER () AS BIGINT) AS total
           FROM h)
         SELECT CAST(q_pm AS BIGINT) AS q_pm, bin * (1.0::DOUBLE) AS est
         FROM c, unnest([100, 250, 500, 750, 900, 950, 990, 999]) AS u(q_pm)
         WHERE q_pm * total > (cum - n) * 1000 AND q_pm * total <= cum * 1000""",
    "c_mixture_sample" -> {
      val h = sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             $h AS h
           FROM documents WHERE source IN ('src0', 'src1', 'src2')),
         wt AS (SELECT * FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 2)) AS t(source, w)),
         tot AS (SELECT d.source, w, CAST(sum(n_tokens) AS BIGINT) AS t
           FROM d JOIN wt USING (source) GROUP BY 1, 2),
         kk AS (SELECT min(t * 10 // w) AS k FROM tot),
         bud AS (SELECT source,
             CAST(CASE WHEN t * 10 // w = k THEN t
                       ELSE w * k // 10 END AS BIGINT) AS budget
           FROM tot, kk),
         sel AS (SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM d)
         SELECT sel.doc_id, sel.source, sel.n_tokens, sel.cum_tokens, bud.budget
         FROM sel JOIN bud USING (source) WHERE cum_tokens <= budget"""
    },
    "t_distinct_kmv" -> {
      val ph = sqlPh("tok", 31L, 1000000007L)
      val (ca, cb) = Dedup.minhashCoeffs(1).head
      s"""WITH occ AS (SELECT lang, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
           FROM documents WHERE trim(text) <> ''),
         dh AS (SELECT DISTINCT lang, ($ca * ($ph) + $cb) % 1000000007 AS h FROM occ),
         r AS (SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY lang) AS nd
           FROM dh)
         SELECT lang, CAST(max(nd) AS BIGINT) AS exact_distinct,
           CAST(coalesce(max(CASE WHEN rn = 16 THEN (15::BIGINT * 1000000007) // h END),
             max(nd)) AS BIGINT) AS kmv_est
         FROM r GROUP BY lang"""
    },
    "t_kmv_jaccard" -> {
      val ph = sqlPh("tok", 31L, 1000000007L)
      val (ca, cb) = Dedup.minhashCoeffs(1).head
      s"""WITH occ AS (SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
           FROM documents WHERE trim(text) <> ''),
         dh AS (SELECT DISTINCT source AS g, ($ca * ($ph) + $cb) % 1000000007 AS h
           FROM occ),
         r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
           FROM dh),
         sk AS (SELECT g, h FROM r WHERE rn <= 64),
         gs AS (SELECT DISTINCT g FROM dh),
         pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
         ud AS (SELECT DISTINCT pr.ga, pr.gb, sk.h
           FROM pr JOIN sk ON sk.g = pr.ga OR sk.g = pr.gb),
         ur AS (SELECT ga, gb, h,
             row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY ga, gb) AS nu
           FROM ud),
         usl AS (SELECT ga, gb, h, least(64, nu) AS kk FROM ur
           WHERE rn <= least(64, nu)),
         boths AS (SELECT u.ga, u.gb, u.kk,
             CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END AS inb
           FROM usl u
           LEFT JOIN sk sa ON sa.g = u.ga AND sa.h = u.h
           LEFT JOIN sk sb ON sb.g = u.gb AND sb.h = u.h),
         est AS (SELECT ga, gb,
             CAST(sum(inb) * 1000000 // max(kk) AS BIGINT) AS kmv_jac_e6
           FROM boths GROUP BY 1, 2),
         sizes AS (SELECT g, count(*) AS n FROM dh GROUP BY 1),
         xj AS (SELECT x.g AS ga, y.g AS gb, count(*) AS ni
           FROM dh x JOIN dh y ON x.h = y.h AND x.g < y.g GROUP BY 1, 2)
         SELECT p.ga AS src_a, p.gb AS src_b,
           CAST(coalesce(ni, 0) * 1000000 // (sa.n + sb.n - coalesce(ni, 0))
             AS BIGINT) AS exact_jac_e6,
           est.kmv_jac_e6
         FROM pr p
         JOIN est ON est.ga = p.ga AND est.gb = p.gb
         LEFT JOIN xj ON xj.ga = p.ga AND xj.gb = p.gb
         JOIN sizes sa ON sa.g = p.ga
         JOIN sizes sb ON sb.g = p.gb"""
    },
    "t_kmv_union" -> {
      val ph = sqlPh("tok", 31L, 1000000007L)
      val (ca, cb) = Dedup.minhashCoeffs(1).head
      s"""WITH occ AS (SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
           FROM documents WHERE trim(text) <> ''),
         dh AS (SELECT DISTINCT source AS scope, ($ca * ($ph) + $cb) % 1000000007 AS h
           FROM occ),
         r AS (SELECT scope, h,
             row_number() OVER (PARTITION BY scope ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY scope) AS nd
           FROM dh),
         per AS (SELECT scope, CAST(max(nd) AS BIGINT) AS exact_distinct,
             CAST(coalesce(max(CASE WHEN rn = 16 THEN (15::BIGINT * 1000000007) // h END),
               max(nd)) AS BIGINT) AS kmv_est
           FROM r GROUP BY scope),
         m AS (SELECT DISTINCT h FROM r WHERE rn <= 16),
         mr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM m),
         g AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS ge FROM dh)
         SELECT scope, exact_distinct, kmv_est FROM per
         UNION ALL
         SELECT '__all__' AS scope, ge AS exact_distinct,
           CAST(coalesce(
             (SELECT (15::BIGINT * 1000000007) // h FROM mr WHERE rn = 16),
             ge) AS BIGINT) AS kmv_est
         FROM g"""
    },
    "t_dsir_weights" -> {
      val ph = sqlPh("tok", 31L, 1000000007L)
      s"""WITH occ AS (SELECT doc_id, lang, $ph % 1024 AS b
           FROM (SELECT doc_id, lang,
                   unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
                 FROM documents WHERE trim(text) <> '')),
         cnt AS (SELECT b, count(*) AS rc,
             count(*) FILTER (WHERE lang = 'en') AS tc
           FROM occ GROUP BY 1),
         model AS (SELECT b, (tc + 1) * ${graft.operators.Importance.Scale}
             // (rc + 1) AS term FROM cnt),
         sc AS (SELECT o.doc_id, count(*) AS n_tokens,
             CAST(sum(m.term) AS BIGINT) AS s
           FROM occ o JOIN model m USING (b) GROUP BY 1)
         SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
           coalesce(sc.s // sc.n_tokens, 0) AS dsir_score
         FROM documents d LEFT JOIN sc USING (doc_id)"""
    },
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
    "q_pivot" ->
      """SELECT user_id % 100 AS user_bucket,
           round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
           round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
           round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
           round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view
         FROM events GROUP BY 1""",
    "t_tfidf_keywords" ->
      """WITH d AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, lang, unnest(tk) AS term FROM d),
         n AS (SELECT count(*) AS n_docs FROM d),
         tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         sc AS (SELECT lang, term, tf, df,
             round(tf * ln(n_docs::DOUBLE / df), 6) AS score
           FROM tf JOIN dfq USING (term) CROSS JOIN n)
         SELECT lang, term, tf, df, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY lang
             ORDER BY score DESC, term) AS rank FROM sc)
         WHERE rank <= 10""",
    "t_bm25_topk" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, unnest(tk) AS term FROM d),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         hits AS (SELECT doc_id, term FROM toks
           WHERE term IN ('vector', 'stream', 'merge')),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
         c AS (SELECT tf.doc_id,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (total_len::DOUBLE / n_docs))) AS wt
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         sc AS (SELECT doc_id, count(*) AS n_terms, round(sum(wt), 6) AS score
           FROM c GROUP BY 1)
         SELECT doc_id, n_terms, score, rank FROM (
           SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         WHERE rank <= 20""",
    "t_ndcg" ->
      // the BM25 chain replayed at k=10, relevance = distinct query terms
      // per doc, DCG terms rounded to 9 dp then folded in RANK ORDER
      // (list_reduce over list(... ORDER BY rank) == Spark's sorted-array
      // left fold, both starting from the first element exactly)
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, unnest(tk) AS term FROM d),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         hits AS (SELECT doc_id, term FROM toks
           WHERE term IN ('vector', 'stream', 'merge')),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
         c AS (SELECT tf.doc_id,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (total_len::DOUBLE / n_docs))) AS wt
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         sc AS (SELECT doc_id, round(sum(wt), 6) AS score FROM c GROUP BY 1),
         rk AS (SELECT doc_id, rank FROM (
             SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             FROM sc) WHERE rank <= 10),
         rel AS MATERIALIZED (SELECT doc_id, count(DISTINCT term) AS rel
           FROM hits GROUP BY 1),
         rg AS (SELECT rk.rank,
             round((pow(2, rel) - 1) / log2(rk.rank + 1), 9) AS g
           FROM rk JOIN rel USING (doc_id)),
         ideal AS (SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS rank, rel
           FROM (SELECT * FROM rel ORDER BY rel DESC, doc_id LIMIT 10)),
         ig AS (SELECT rank, round((pow(2, rel) - 1) / log2(rank + 1), 9) AS g
           FROM ideal),
         dcg AS (SELECT CAST(count(*) AS BIGINT) AS n_ranked,
             round(CASE WHEN count(*) FILTER (WHERE rank <= 5) = 0 THEN 0.0
               ELSE list_reduce(list(g ORDER BY rank) FILTER (WHERE rank <= 5),
                 (a, b) -> a + b) END, 6) AS dcg_5,
             round(CASE WHEN count(*) = 0 THEN 0.0
               ELSE list_reduce(list(g ORDER BY rank), (a, b) -> a + b) END, 6) AS dcg_10
           FROM rg),
         idcg AS (SELECT
             round(CASE WHEN count(*) FILTER (WHERE rank <= 5) = 0 THEN 0.0
               ELSE list_reduce(list(g ORDER BY rank) FILTER (WHERE rank <= 5),
                 (a, b) -> a + b) END, 6) AS idcg_5,
             round(CASE WHEN count(*) = 0 THEN 0.0
               ELSE list_reduce(list(g ORDER BY rank), (a, b) -> a + b) END, 6) AS idcg_10
           FROM ig)
         SELECT n_ranked, round(dcg_5 / idcg_5, 6) AS ndcg_5,
           round(dcg_10 / idcg_10, 6) AS ndcg_10
         FROM dcg CROSS JOIN idcg WHERE n_ranked > 0""",
    "t_hybrid_rrf" ->
      s"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, unnest(tk) AS term FROM d),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         hits AS (SELECT doc_id, term FROM toks
           WHERE term IN ('vector', 'stream', 'merge')),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
         c AS (SELECT tf.doc_id,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (total_len::DOUBLE / n_docs))) AS wt
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         sc AS (SELECT doc_id, round(sum(wt), 6) AS score FROM c GROUP BY 1),
         sp AS (SELECT doc_id, CAST(rank AS BIGINT) AS rank_sparse FROM (
             SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             FROM sc) WHERE rank <= 30),
         qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         cos AS (SELECT vec_id AS doc_id, ${sqlCos("qv.v", "cv")} AS cos
           FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
                 WHERE vec_id <> 0), qv),
         dn AS (SELECT doc_id, CAST(rank AS BIGINT) AS rank_dense FROM (
             SELECT doc_id, row_number() OVER (ORDER BY round(cos, 6) DESC, doc_id) AS rank
             FROM cos) WHERE rank <= 30),
         f AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
             rank_sparse, rank_dense,
             round(coalesce(1.0::DOUBLE / (60 + rank_sparse), 0.0)
               + coalesce(1.0::DOUBLE / (60 + rank_dense), 0.0), 6) AS rrf_score
           FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id)
         SELECT doc_id, rank_sparse, rank_dense, rrf_score, rank FROM (
           SELECT *, CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
             AS BIGINT) AS rank
           FROM f)
         WHERE rank <= 20""",
    "e_ann_recall" ->
      s"""WITH sgt AS (SELECT ${sqlSigns(12, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sig AS (SELECT vec_id, v, ${sqlSrpBucket("v", "0", 12, 64)} AS sig
                 FROM e CROSS JOIN sgt),
         annc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM sig q JOIN sig c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
             AND bit_count(xor(q.sig, c.sig)) <= 4),
         ann AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM annc)
           WHERE rank <= 10),
         exc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         exact AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM exc)
           WHERE rank <= 10)
         SELECT exact.query_id,
           CAST(count(ann.neighbor_id) AS BIGINT) AS hits,
           round(count(ann.neighbor_id)::DOUBLE / count(*), 6) AS recall
         FROM exact LEFT JOIN ann
           ON exact.query_id = ann.query_id
           AND exact.neighbor_id = ann.neighbor_id
         GROUP BY 1""",
    "e_pq_topk" -> {
      val flat = graft.operators.TrainedPq.sf001.flatten.flatten
        .map(_.toString).mkString("[", ", ", "]")
      def subV(v: String, m: String) = s"$v[($m) * 16 + 1 : ($m) * 16 + 16]"
      def cbV(m: String, j: String) =
        s"pq[(($m) * 8 + ($j)) * 16 + 1 : (($m) * 8 + ($j)) * 16 + 16]"
      def term(m: Int) =
        sqlL2sq(subV("qv", m.toString), cbV(m.toString, s"codes[$m + 1]"))
      s"""WITH pqt AS (SELECT $flat::DOUBLE[] AS pq),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         enc AS (SELECT vec_id, list_transform(range(0, 4), m ->
             (list_sort(list_transform(range(0, 8), j ->
               {'d': ${sqlL2sq(subV("v", "m"), cbV("m", "j"))}, 'j': j})))[1].j) AS codes
           FROM e CROSS JOIN pqt),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         cand AS (SELECT query_id, enc.vec_id AS neighbor_id,
             ${term(0)} + ${term(1)} + ${term(2)} + ${term(3)} AS adist
           FROM enc CROSS JOIN q CROSS JOIN pqt WHERE query_id <> enc.vec_id)
         SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
    },
    "d_dup_span_stats" -> {
      val h = sqlTokenHash60("array_to_string(tk[i:i+4], ' ')")
      s"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         g AS (SELECT doc_id, i - 1 AS pos, $h AS h
           FROM d, unnest(range(1, len(tk) - 3)) AS u(i)),
         dup AS (SELECT h FROM (
             SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
           WHERE nd >= 2),
         f AS (SELECT g.* FROM g WHERE h IN (SELECT h FROM dup)),
         tw AS (SELECT doc_id, count(*) AS total_windows FROM g GROUP BY 1),
         dw AS (SELECT doc_id, count(*) AS dup_windows FROM f GROUP BY 1),
         cov AS (SELECT doc_id, count(*) AS dup_tokens FROM (
             SELECT DISTINCT doc_id, pos + x AS tp
             FROM f, unnest(range(0, 5)) AS ux(x)) GROUP BY 1)
         SELECT doc_id,
           coalesce(total_windows, 0) AS total_windows,
           coalesce(dup_windows, 0) AS dup_windows,
           coalesce(dup_tokens, 0) AS dup_tokens
         FROM documents
         LEFT JOIN tw USING (doc_id)
         LEFT JOIN dw USING (doc_id)
         LEFT JOIN cov USING (doc_id)"""
    },
    "e_ivfpq_topk" -> sqlIvfPqTopK,
    "e_ivfpq_residual_topk" -> sqlIvfPqResidualTopK,
    // the materialized-index variant is semantically identical — same oracle
    "e_pq_index_topk" -> sqlIvfPqTopK,
    "q_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""",
    "q_lead_lag" ->
      """SELECT event_id, user_id, gap_us, next_type FROM (
           SELECT event_id, user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
             lag(epoch_us(ts)) OVER w AS prev_ts,
             lead(event_type) OVER w AS next_type
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         WHERE prev_ts IS NOT NULL""",
    "d_dup_span_scrub" -> {
      val h = sqlTokenHash60("array_to_string(tk[i:i+4], ' ')")
      s"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
           FROM documents WHERE trim(text) <> ''),
         g AS (SELECT doc_id, i - 1 AS pos, $h AS h
           FROM d, unnest(range(1, len(tk) - 3)) AS u(i)),
         dup AS (SELECT h FROM (
             SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
           WHERE nd >= 2),
         cov AS (SELECT DISTINCT doc_id, pos + x AS pos
           FROM (SELECT g.* FROM g WHERE h IN (SELECT h FROM dup)) f,
             unnest(range(0, 5)) AS ux(x)),
         toks AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
           FROM d, unnest(range(1, len(tk) + 1)) AS u(i)),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
           LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
           WHERE cov.pos IS NULL),
         res AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY 1)
         SELECT doc_id, coalesce(clean_text, '') AS clean_text,
           coalesce(n_kept, 0) AS n_kept
         FROM documents LEFT JOIN res USING (doc_id)"""
    },
    "c_epoch_shuffle" -> {
      val h = sqlPh("'epoch0:' || doc_id::VARCHAR", 31L, 1000000007L)
      s"""WITH d AS (SELECT doc_id, $h AS h FROM documents)
         SELECT doc_id, h % 8 AS shard,
           row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
         FROM d"""
    },
    "c_curriculum_order" -> {
      // independent formulation: the oracle derives stage offsets from the
      // ACTUAL (lang, stage) group counts, checking the engine's
      // closed-form floor(n*k/4) sizing against ground truth
      val h = sqlPh("'cur0:' || doc_id::VARCHAR", 31L, 1000000007L)
      s"""WITH r AS (SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
             (length(text) - length(regexp_replace(text,
               '[.,!?;:''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text) AS pr,
             len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
               x -> x IN ($stopwordsSql)))::DOUBLE /
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS sr
           FROM documents),
         q AS (SELECT doc_id, lang,
             round(least(n_tokens::DOUBLE / 100.0, 1.0) * (1.0 - pr)
               * (0.5 + least(sr * 5.0, 1.0) * 0.5), 6) AS qr
           FROM r),
         st AS (SELECT doc_id, lang,
             CAST(ceil((row_number() OVER (PARTITION BY lang ORDER BY qr DESC, doc_id)::DOUBLE /
               count(*) OVER (PARTITION BY lang)) * 4) AS BIGINT) AS stage
           FROM q),
         p AS (SELECT doc_id, lang, stage,
             row_number() OVER (PARTITION BY lang, stage ORDER BY $h, doc_id) AS pos
           FROM st),
         c AS (SELECT lang, stage, count(*) AS cnt FROM p GROUP BY 1, 2),
         o AS (SELECT lang, stage,
             (sum(cnt) OVER (ORDER BY stage, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)::BIGINT AS off
           FROM c)
         SELECT p.doc_id, p.lang, p.stage, p.pos, o.off + p.pos AS global_pos
         FROM p JOIN o USING (lang, stage)"""
    },
    "q13_cust_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN
             (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
             ON c_custkey = o.o_custkey
           GROUP BY 1)
         GROUP BY 1""",
    "c_embedding_pipeline" -> {
      val flatC = graft.operators.TrainedCentroids.sf001.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val flatPq = graft.operators.TrainedPq.sf001.flatten.flatten
        .map(_.toString).mkString("[", ", ", "]")
      val centroidList = (ci: String) => s"sg[($ci) * 64 + 1 : ($ci) * 64 + 64]"
      def subV(v: String, m: String) = s"$v[($m) * 16 + 1 : ($m) * 16 + 16]"
      def cbV(m: String, j: String) =
        s"pq[(($m) * 8 + ($j)) * 16 + 1 : (($m) * 8 + ($j)) * 16 + 16]"
      def term(m: Int) =
        sqlL2sq(subV("qv", m.toString), cbV(m.toString, s"codes[$m + 1]"))
      s"""WITH RECURSIVE sgt AS (SELECT $flatC::DOUBLE[] AS sg),
         pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS MATERIALIZED (SELECT vec_id, v,
             list_transform(list_sort(list_transform(range(0, 8), ci ->
               {'negCos': -${sqlCos("v", centroidList("ci"))}, 'cell': ci})),
               st -> st.cell) AS sorted_cells
           FROM e CROSS JOIN sgt),
         cl AS MATERIALIZED (SELECT vec_id, v, sorted_cells[1] AS cell FROM cells),
         mp AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM cl a JOIN cl b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${sqlCos("a.v", "b.v")} >= 0.45),
         sd_edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM mp
                      UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         sd_reach(a, b) AS (
           SELECT vec_id, vec_id FROM cl
           UNION
           SELECT r.a, e2.d FROM sd_reach r JOIN sd_edges e2 ON e2.s = r.b),
         sd_comp AS (SELECT a AS vec_id, min(b) AS comp FROM sd_reach GROUP BY a),
         keep AS (SELECT vec_id FROM sd_comp WHERE comp = vec_id),
         cc AS (SELECT cl.vec_id AS neighbor_id, cl.v AS cv, cl.cell
                FROM cl JOIN keep USING (vec_id)),
         enc AS (SELECT neighbor_id, cell, list_transform(range(0, 4), m ->
             (list_sort(list_transform(range(0, 8), j ->
               {'d': ${sqlL2sq(subV("cv", "m"), cbV("m", "j"))}, 'j': j})))[1].j) AS codes
           FROM cc CROSS JOIN pqt),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id,
             ${term(0)} + ${term(1)} + ${term(2)} + ${term(3)} AS adist
           FROM enc JOIN q USING (cell) CROSS JOIN pqt
           WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
    },
    "q5_supplier_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem, orders, customer, supplier, nation, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""",
    "q18_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 300)
         SELECT c_custkey, c_name, o_orderkey,
           o_orderdate::DATE AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice, sum_qty
         FROM orders JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey""",
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate)::BIGINT AS l_year, l_extendedprice, l_discount
           FROM lineitem, orders, customer, supplier, nation n1, nation n2
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
             AND c_nationkey = n2.n_nationkey
             AND n1.n_name IN ('NATION_1', 'NATION_2')
             AND n2.n_name IN ('NATION_1', 'NATION_2')
             AND n1.n_name <> n2.n_name)
         GROUP BY 1, 2, 3""",
    "q10_returned_items" ->
      """WITH rev AS (
           SELECT o_custkey,
             sum(round((l_extendedprice * (1 - l_discount)) * 10000.0, 0)::BIGINT)::BIGINT
               AS rev_e4
           FROM lineitem, orders
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
             AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
           GROUP BY 1 ORDER BY rev_e4 DESC, o_custkey LIMIT 20)
         SELECT c_custkey, c_name, c_mktsegment,
           rev_e4::DOUBLE / 10000.0 AS revenue
         FROM rev JOIN customer ON o_custkey = c_custkey""",
    "q4_priority_count" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
         FROM orders
         WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""",
    "q6_revenue_filter" ->
      """SELECT sum(round(l_extendedprice * l_discount * 10000.0, 0)::BIGINT)
               ::BIGINT::DOUBLE / 10000.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q8_market_share" ->
      """WITH vol AS (
           SELECT year(o_orderdate)::BIGINT AS o_year,
             round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
               AS vol_e4,
             n1.n_name AS supp_nation
           FROM lineitem, orders, customer, supplier, part,
                nation n1, nation n2, region
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND l_partkey = p_partkey
             AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
             AND p_type = 'PROMO')
         SELECT o_year,
           sum(CASE WHEN supp_nation = 'NATION_1' THEN vol_e4 ELSE 0 END)
             ::BIGINT::DOUBLE / sum(vol_e4)::BIGINT::DOUBLE AS mkt_share
         FROM vol GROUP BY 1""",
    "q12_late_lines" ->
      """SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 0 ELSE 1 END)::BIGINT AS low_line_count
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey
           AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           AND l_shipdate > o_orderdate
         GROUP BY 1""",
    "q14_promo_share" ->
      """SELECT 100.0 *
           sum(CASE WHEN p_type = 'PROMO'
               THEN round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
               ELSE 0 END)::BIGINT::DOUBLE /
           sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
             ::BIGINT::DOUBLE AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
               ::BIGINT AS rev_e4
           FROM lineitem
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, rev_e4::DOUBLE / 10000.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)""",
    "q17_small_qty" ->
      """WITH li AS (
           SELECT l_partkey, l_quantity::BIGINT AS qty,
             round(l_extendedprice * 100.0, 0)::BIGINT AS price_e2
           FROM lineitem, part
           WHERE l_partkey = p_partkey AND p_brand = 'Brand#11'),
         pp AS (
           SELECT l_partkey AS pk, count(*)::BIGINT AS cnt,
             sum(qty)::BIGINT AS sum_qty
           FROM li GROUP BY 1)
         SELECT sum(price_e2)::BIGINT::DOUBLE / 700.0 AS avg_yearly
         FROM li JOIN pp ON l_partkey = pk
         WHERE qty * cnt * 2 < sum_qty""",
    "q19_disjunctive" ->
      """SELECT sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT)
               ::BIGINT::DOUBLE / 10000.0 AS revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey AND (
           (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
             AND p_size BETWEEN 1 AND 5) OR
           (p_brand = 'Brand#12' AND l_quantity BETWEEN 10 AND 20
             AND p_size BETWEEN 1 AND 10) OR
           (p_brand = 'Brand#13' AND l_quantity BETWEEN 20 AND 30
             AND p_size BETWEEN 1 AND 15))""",
    "q21_sole_max" ->
      """WITH f AS (
           SELECT l_orderkey, l_suppkey, l_shipdate
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         st AS (
           SELECT l_orderkey AS ok, max(l_shipdate) AS max_ship
           FROM f GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
         sole AS (
           SELECT f.l_orderkey, min(f.l_suppkey) AS supp
           FROM f JOIN st ON f.l_orderkey = st.ok AND f.l_shipdate = st.max_ship
           GROUP BY 1 HAVING count(DISTINCT f.l_suppkey) = 1)
         SELECT s_name, count(*)::BIGINT AS numwait
         FROM sole JOIN supplier ON supp = s_suppkey
         GROUP BY 1""",
    "q22_idle_balance" ->
      """WITH c AS (
           SELECT c_custkey, c_mktsegment,
             round(c_acctbal * 100.0, 0)::BIGINT AS bal_e2
           FROM customer),
         thr AS (
           SELECT sum(bal_e2)::BIGINT AS sum_pos, count(*)::BIGINT AS n_pos
           FROM c WHERE bal_e2 > 0)
         SELECT c_mktsegment, count(*)::BIGINT AS numcust,
           sum(bal_e2)::BIGINT::DOUBLE / 100.0 AS totacctbal
         FROM c, thr
         WHERE bal_e2 * n_pos > sum_pos
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= '2000-01-01')
         GROUP BY 1""",
    "q2_min_cost_supp" ->
      """WITH esupp AS (
           SELECT s_suppkey, s_name, n_name,
             round(s_acctbal * 100.0, 0)::BIGINT::DOUBLE / 100.0 AS s_acctbal
           FROM supplier, nation, region
           WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             AND r_name = 'EUROPE'),
         ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2),
         cand AS (
           SELECT p_partkey, p_brand, s_acctbal, s_name, n_name, ps_cost_e2
           FROM part JOIN ps ON p_partkey = ps_partkey
           JOIN esupp ON ps_suppkey = s_suppkey
           WHERE p_type = 'PROMO' AND p_size <= 10),
         mn AS (SELECT p_partkey AS pk, min(ps_cost_e2) AS min_e2
                FROM cand GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_cost_e2::DOUBLE / 100.0 AS supply_cost
         FROM cand JOIN mn ON p_partkey = pk AND ps_cost_e2 = min_e2""",
    "q9_product_profit" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2)
         SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
           sum(round(l_extendedprice * (1 - l_discount) * 10000.0, 0)::BIGINT
             - ps_cost_e2 * l_quantity::BIGINT * 100)::BIGINT::DOUBLE
             / 10000.0 AS profit
         FROM lineitem, orders, supplier, nation, part, ps
         WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND s_nationkey = n_nationkey AND l_partkey = p_partkey
           AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
           AND p_name LIKE '%widget%'
         GROUP BY 1, 2""",
    "q11_important_stock" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             sum(l_quantity)::BIGINT AS ps_availqty,
             min(round(l_extendedprice * 100.0, 0)::BIGINT) AS ps_cost_e2
           FROM lineitem GROUP BY 1, 2),
         v AS (
           SELECT ps_partkey,
             sum(ps_cost_e2 * ps_availqty)::BIGINT AS value_e2
           FROM ps, supplier, nation
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_1'
           GROUP BY 1),
         tot AS (SELECT sum(value_e2)::BIGINT AS total_e2 FROM v)
         SELECT ps_partkey, value_e2::DOUBLE / 100.0 AS value
         FROM v, tot WHERE value_e2 * 500 > total_e2""",
    "q16_supplier_cnt" ->
      """WITH ps AS (
           SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
           FROM lineitem)
         SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey)::BIGINT AS supplier_cnt
         FROM part JOIN ps ON p_partkey = ps_partkey
         WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
           AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
           AND ps_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    "q20_excess_stock" ->
      """WITH sm AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
         sml AS (SELECT * FROM lineitem
                 WHERE l_partkey IN (SELECT p_partkey FROM sm)),
         ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             sum(l_quantity)::BIGINT AS ps_availqty
           FROM sml GROUP BY 1, 2),
         ship96 AS (
           SELECT l_partkey AS sk_pk, l_suppkey AS sk_sk,
             sum(l_quantity)::BIGINT AS qty96
           FROM sml
           WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           GROUP BY 1, 2),
         excess AS (
           SELECT DISTINCT ps_suppkey
           FROM ps JOIN ship96 ON ps_partkey = sk_pk AND ps_suppkey = sk_sk
           WHERE ps_availqty > 2 * qty96)
         SELECT s_name,
           round(s_acctbal * 100.0, 0)::BIGINT::DOUBLE / 100.0 AS s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_2'
           AND s_suppkey IN (SELECT ps_suppkey FROM excess)""",
    // Independent oracle: brute-force windowed distinct (a range join per
    // day), NOT the engine's interval-coverage rewrite — so a coverage
    // logic error cannot self-confirm.
    "q_sliding_distinct" ->
      """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id
           FROM events),
         dom AS (SELECT DISTINCT day_id + o AS day FROM days, range(0, 7) t(o))
         SELECT day AS day_id, count(DISTINCT user_id)::BIGINT AS active_users_7d
         FROM dom JOIN days ON day_id BETWEEN day - 6 AND day
         GROUP BY 1""",
    // The streaming dual must converge to the same brute-force answer.
    "s_active_users_stream" ->
      """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id
           FROM events),
         dom AS (SELECT DISTINCT day_id + o AS day FROM days, range(0, 7) t(o))
         SELECT day AS day_id, count(DISTINCT user_id)::BIGINT AS active_users_7d
         FROM dom JOIN days ON day_id BETWEEN day - 6 AND day
         GROUP BY 1""",
    "q_ks_stat" ->
      """WITH ev AS (
           SELECT round(value * 100.0, 0)::BIGINT AS val_e2,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
           FROM events WHERE event_type IN ('purchase', 'click')),
         pv AS (SELECT val_e2, sum(is_p)::BIGINT AS n1,
                  sum(1 - is_p)::BIGINT AS n2
                FROM ev GROUP BY 1),
         cum AS (SELECT val_e2,
                  sum(n1) OVER (ORDER BY val_e2)::BIGINT AS c1,
                  sum(n2) OVER (ORDER BY val_e2)::BIGINT AS c2 FROM pv),
         tot AS (SELECT sum(is_p)::BIGINT AS tot1,
                  (count(*) - sum(is_p))::BIGINT AS tot2 FROM ev),
         d AS (SELECT val_e2, abs(c1 * tot2 - c2 * tot1)::BIGINT AS adiff,
                 tot1, tot2 FROM cum, tot),
         best AS (SELECT * FROM d ORDER BY adiff DESC, val_e2 ASC LIMIT 1)
         SELECT round(adiff::DOUBLE / NULLIF(tot1 * tot2, 0), 6) AS ks_stat,
           val_e2::DOUBLE / 100.0 AS at_value,
           tot1 AS n_purchase, tot2 AS n_click FROM best""",
    // One oracle form proves both the batch and the streaming EWMA path
    // (the s_cusum_stream precedent).
    "s_ewma_stream" -> sqlEwmaAnomaly,
    "q_lorenz_deciles" ->
      """WITH rev AS (
           SELECT o_custkey,
             sum(round(o_totalprice * 100.0, 0)::BIGINT)::BIGINT AS v_e2
           FROM orders GROUP BY 1),
         pv AS (SELECT v_e2, count(*)::BIGINT AS nv FROM rev GROUP BY 1),
         cum AS (SELECT v_e2, nv,
                   sum(nv) OVER (ORDER BY v_e2)::BIGINT AS cum_n FROM pv),
         tot AS (SELECT max(cum_n)::BIGINT AS n_tot FROM cum),
         ex AS (SELECT v_e2, nv, cum_n, n_tot, d::BIGINT AS decile
           FROM cum, tot,
             unnest(range(((cum_n - nv) * 10) // n_tot,
                          ((cum_n - 1) * 10) // n_tot + 1)) AS t(d)),
         seg AS (SELECT decile, v_e2,
             greatest(cum_n - nv + 1, (decile * n_tot + 9) // 10 + 1) AS lo,
             least(cum_n, ((decile + 1) * n_tot + 9) // 10) AS hi
           FROM ex),
         agg AS (SELECT decile, sum(hi - lo + 1)::BIGINT AS n_customers,
             sum((hi - lo + 1) * v_e2)::BIGINT AS rev_e2
           FROM seg WHERE hi >= lo GROUP BY 1),
         tt AS (SELECT sum(rev_e2)::BIGINT AS t FROM agg)
         SELECT decile, n_customers, rev_e2::DOUBLE / 100.0 AS revenue,
           round(rev_e2::DOUBLE / NULLIF(t, 0), 6) AS share,
           round((sum(rev_e2) OVER (ORDER BY decile))::DOUBLE / NULLIF(t, 0), 6)
             AS cum_share
         FROM agg, tt""",
    "q_gini" ->
      """WITH rev AS (
           SELECT o_custkey,
             sum(round(o_totalprice * 100.0, 0)::BIGINT)::BIGINT AS v_e2
           FROM orders GROUP BY 1),
         pv AS (SELECT v_e2, count(*)::BIGINT AS nv FROM rev GROUP BY 1),
         cum AS (SELECT v_e2, nv,
                   sum(nv) OVER (ORDER BY v_e2)::BIGINT AS cum_n FROM pv),
         agg AS (SELECT
             sum(v_e2 * (nv * (cum_n - nv) + (nv * (nv + 1)) // 2)) AS s,
             sum(nv)::BIGINT AS n, sum(v_e2 * nv) AS t
           FROM cum)
         SELECT round(2.0 * s::DOUBLE / NULLIF(n::DOUBLE * t::DOUBLE, 0)
             - (n::DOUBLE + 1.0) / n::DOUBLE, 6) AS gini,
           n AS n_customers FROM agg""",
    "q_mondrian_anon" -> {
      // unrolled Mondrian: one (median, side-counts, re-cell) CTE trio per
      // round — identical splits to Safety.mondrianCells (quantile_cont
      // shares Spark percentile's p·(n-1) rule; ties go left)
      val rounds = 4
      val dims = Seq("d1", "d2")
      val steps = (1 to rounds).map { r =>
        val d = dims((r - 1) % dims.length)
        s"""m$r AS (SELECT cell, quantile_cont($d, 0.5) AS med
             FROM c${r - 1} GROUP BY 1),
           s$r AS (SELECT c.cell, d1, d2,
               CASE WHEN c.$d <= m.med THEN 0 ELSE 1 END AS side
             FROM c${r - 1} c JOIN m$r m USING (cell)),
           k$r AS (SELECT cell,
               (sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) >= 50 AND
                sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) >= 50) AS ok
             FROM s$r GROUP BY 1),
           c$r AS (SELECT (CASE WHEN ok THEN s.cell * 2 + side
                                ELSE s.cell * 2 END)::BIGINT AS cell, d1, d2
             FROM s$r s JOIN k$r USING (cell))"""
      }.mkString(",\n")
      s"""WITH c0 AS (SELECT 0::BIGINT AS cell, c_acctbal::DOUBLE AS d1,
             c_nationkey::DOUBLE AS d2 FROM customer),
         $steps
         SELECT cell, count(*)::BIGINT AS n,
           min(d1) AS c_acctbal_lo, max(d1) AS c_acctbal_hi,
           min(d2) AS c_nationkey_lo, max(d2) AS c_nationkey_hi
         FROM c$rounds GROUP BY 1"""
    },
    // Independent oracle: the trailing weighted sum as a range self-join
    // per day, NOT the engine's forward-explode rewrite.
    "q_ewma_anomaly" -> sqlEwmaAnomaly,
    "q_hll_distinct" -> sqlHllDistinct,
    "q_dpp_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS omonth, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""",
    "q_runtime_filter" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""",
    "q_f2_selfjoin" -> {
      val half = Dedup.MinhashP / 2
      val coefRows = Dedup.minhashCoeffs(32).zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH h AS MATERIALIZED (
           SELECT ${sqlPh("l_orderkey::VARCHAR", 31L, 1000000007L)} AS h
           FROM lineitem),
         coef(r, ca, cb) AS (VALUES $coefRows),
         sgn AS (SELECT r,
             sum(CASE WHEN (ca * h + cb) % ${Dedup.MinhashP} < $half
                 THEN 1 ELSE -1 END)::BIGINT AS z
           FROM h, coef GROUP BY 1),
         est AS (SELECT (sum(z * z)::BIGINT // 32)::BIGINT AS ams_f2_est FROM sgn),
         ex AS (SELECT sum(n * n)::BIGINT AS exact_f2
                FROM (SELECT h, count(*)::BIGINT AS n FROM h GROUP BY 1))
         SELECT exact_f2, ams_f2_est FROM ex, est"""
    },
    "s_srm_stream" ->
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
         FROM c""",
    "s_hll_stream" -> {
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
    },
    "q_psi_drift" ->
      """WITH c AS MATERIALIZED (
           SELECT event_type,
             count(*) FILTER (WHERE epoch_us(ts) < 1705363200000000) AS na,
             count(*) FILTER (WHERE epoch_us(ts) >= 1705363200000000) AS nb
           FROM events GROUP BY 1),
         tot AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM c),
         terms AS (
           SELECT event_type, na, nb,
             round((na::DOUBLE / ta - nb::DOUBLE / tb) *
               ln((na::DOUBLE / ta) / (nb::DOUBLE / tb)) * 1000000.0,
               0)::BIGINT AS psi_e6
           FROM c, tot WHERE na > 0 AND nb > 0)
         SELECT event_type, na, nb, psi_e6,
           (sum(psi_e6) OVER ())::BIGINT AS total_psi_e6
         FROM terms""",
    "t_pmi_phrases" ->
      """WITH toks AS MATERIALIZED (
           SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents),
         uni AS MATERIALIZED (
           SELECT term, count(*) AS cnt
           FROM (SELECT unnest(tk) AS term FROM toks) GROUP BY 1),
         bi AS MATERIALIZED (
           SELECT array_to_string(tk[i:i+1], ' ') AS ngram, count(*) AS n
           FROM toks, unnest(range(1, len(tk))) AS u(i)
           GROUP BY 1 HAVING count(*) >= 5),
         tot AS (SELECT (SELECT sum(cnt)::BIGINT FROM uni) AS nn,
                        (SELECT sum(greatest(len(tk) - 1, 0))::BIGINT FROM toks) AS bb)
         SELECT ngram, n,
           round(ln((n::DOUBLE / bb) /
             ((ca::DOUBLE / nn) * (cb::DOUBLE / nn))), 6) AS pmi
         FROM (SELECT b.ngram, b.n, ua.cnt AS ca, ub.cnt AS cb
               FROM bi b
               JOIN uni ua ON ua.term = string_split(b.ngram, ' ')[1]
               JOIN uni ub ON ub.term = string_split(b.ngram, ' ')[2]), tot
         ORDER BY pmi DESC, ngram LIMIT 50""",
    "t_grouped_quantiles" ->
      """WITH h AS (SELECT event_type, CAST(floor(value / 1.0) AS BIGINT) AS bin,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, bin, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
           FROM h)
         SELECT event_type, CAST(q_pm AS BIGINT) AS q_pm, bin * (1.0::DOUBLE) AS est
         FROM c, unnest([500, 950, 990]) AS u(q_pm)
         WHERE q_pm * total > (cum - n) * 1000 AND q_pm * total <= cum * 1000""",
    "t_llr_phrases" ->
      """WITH toks AS MATERIALIZED (
           SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents),
         bi AS MATERIALIZED (
           SELECT ngram, count(*) AS k11,
             string_split(ngram, ' ')[1] AS w1, string_split(ngram, ' ')[2] AS w2
           FROM (SELECT array_to_string(tk[i:i+1], ' ') AS ngram
                 FROM toks, unnest(range(1, len(tk))) AS u(i))
           GROUP BY 1),
         r AS (SELECT w1, sum(k11)::BIGINT AS r1 FROM bi GROUP BY 1),
         c AS (SELECT w2, sum(k11)::BIGINT AS c1 FROM bi GROUP BY 1),
         tot AS (SELECT sum(k11)::BIGINT AS nn FROM bi),
         cells AS (SELECT b.ngram, b.k11, r.r1, c.c1, t.nn
                   FROM bi b JOIN r USING (w1) JOIN c USING (w2), tot t
                   WHERE b.k11 >= 5)
         SELECT ngram, k11 AS n,
           round(2.0 * (
             (CASE WHEN k11 > 0 THEN k11::DOUBLE *
               ln((k11::DOUBLE * nn) / (r1::DOUBLE * c1)) ELSE 0.0 END) +
             (CASE WHEN (r1 - k11) > 0 THEN (r1 - k11)::DOUBLE *
               ln(((r1 - k11)::DOUBLE * nn) / (r1::DOUBLE * (nn - c1))) ELSE 0.0 END) +
             (CASE WHEN (c1 - k11) > 0 THEN (c1 - k11)::DOUBLE *
               ln(((c1 - k11)::DOUBLE * nn) / ((nn - r1)::DOUBLE * c1)) ELSE 0.0 END) +
             (CASE WHEN (nn - r1 - c1 + k11) > 0 THEN (nn - r1 - c1 + k11)::DOUBLE *
               ln(((nn - r1 - c1 + k11)::DOUBLE * nn) / ((nn - r1)::DOUBLE * (nn - c1))) ELSE 0.0 END)
           ), 4) AS llr
         FROM cells
         ORDER BY llr DESC, ngram LIMIT 50""",
    "q_markov_attribution" -> sqlMarkovAttribution,
    "t_textrank" -> sqlTextrank,
    "t_lr_calibration" ->
      s"""WITH scored AS MATERIALIZED ( $sqlQualityLr )
         SELECT least(floor(score * 10)::BIGINT, 9) AS bin,
           count(*)::BIGINT AS n,
           (sum(label::BIGINT) * 1000000 // count(*))::BIGINT AS pos_rate_e6,
           sum(round(score * 100000, 0)::BIGINT)::BIGINT AS sum_score_e5
         FROM scored GROUP BY 1""",
    "s_psi_stream" ->
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
         FROM terms GROUP BY 1""",
    "q_cohort_ltv" ->
      """WITH ev AS (SELECT user_id, ts::DATE AS day, event_type, value FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
         wk AS (SELECT cohort_day,
             (date_diff('day', cohort_day, day) // 7)::BIGINT AS week_offset,
             sum(round(value * 1000000.0, 0)::BIGINT)::BIGINT AS wk_revenue_e6
           FROM ev JOIN f USING (user_id)
           WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT cohort_day, week_offset, wk_revenue_e6,
           (sum(wk_revenue_e6) OVER (PARTITION BY cohort_day ORDER BY week_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS cum_revenue_e6
         FROM wk""",
    "q_incrementality" ->
      """WITH pu AS (SELECT user_id % 2 = 0 AS exposed, user_id,
             max(CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END)::BIGINT AS act_pre,
             max(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END)::BIGINT AS act_post,
             max(CASE WHEN epoch_us(ts) < 1705363200000000 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END)::BIGINT AS buy_pre,
             max(CASE WHEN epoch_us(ts) >= 1705363200000000 AND event_type = 'purchase'
                 THEN 1 ELSE 0 END)::BIGINT AS buy_post
           FROM events GROUP BY 1, 2),
         seg AS (SELECT exposed,
             sum(act_pre)::BIGINT AS n_pre, sum(act_post)::BIGINT AS n_post,
             sum(buy_pre)::BIGINT AS k_pre, sum(buy_post)::BIGINT AS k_post
           FROM pu GROUP BY 1),
         rates AS (SELECT exposed, n_pre, n_post, k_pre, k_post,
             (k_pre * 1000000 // NULLIF(n_pre, 0))::BIGINT AS rate_pre_e6,
             (k_post * 1000000 // NULLIF(n_post, 0))::BIGINT AS rate_post_e6,
             ((k_post * 1000000 // NULLIF(n_post, 0))
               - (k_pre * 1000000 // NULLIF(n_pre, 0)))::BIGINT AS lift_e6
           FROM seg)
         SELECT *, (sum(CASE WHEN exposed THEN lift_e6 ELSE -lift_e6 END)
           OVER ())::BIGINT AS did_e6
         FROM rates""",
    "s_f2_stream" -> {
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
    },
    "q_incr_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1""",
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(epoch_us(ts)) AS t2
             FROM events e JOIN v ON e.user_id = v.user_id
             WHERE event_type = 'click' AND epoch_us(ts) > t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(epoch_us(ts)) AS t3
             FROM events e JOIN c ON e.user_id = c.user_id
             WHERE event_type = 'purchase' AND epoch_us(ts) > t2 GROUP BY 1)
         SELECT '1_view' AS stage, count(*) AS users FROM v
         UNION ALL SELECT '2_click', count(*) FROM c
         UNION ALL SELECT '3_purchase', count(*) FROM p""",
    "q_scd2" ->
      """WITH s AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         ch AS (SELECT * FROM s WHERE prev IS NULL OR prev <> o_orderstatus)
         SELECT o_custkey, o_orderstatus,
           o_orderdate::DATE AS effective_from,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey))::DATE AS effective_to,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey)) IS NULL AS is_current
         FROM ch""",
    "c_data_card" ->
      """WITH card AS (
           SELECT source, lang,
             CASE WHEN grouping(source) = 0 AND grouping(lang) = 0 THEN 0
                  WHEN grouping(source) = 0 THEN 1
                  WHEN grouping(lang) = 0 THEN 2 ELSE 3 END AS gid,
             count(*) AS n_docs,
             sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')))::BIGINT AS total_tokens,
             sum(n_chars)::BIGINT AS total_chars,
             count(DISTINCT sha256(text))::BIGINT AS n_distinct,
             round(quantile_cont(n_chars, 0.1), 4) AS len_p10,
             round(quantile_cont(n_chars, 0.5), 4) AS len_p50,
             round(quantile_cont(n_chars, 0.9), 4) AS len_p90
           FROM documents
           GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())),
         lc AS (SELECT source, lang, count(*)::DOUBLE AS cnt
                FROM documents GROUP BY 1, 2),
         es AS (SELECT 1 AS egid, source AS esource,
                  round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 6) AS e
                FROM lc GROUP BY source),
         lt AS (SELECT lang, sum(cnt) AS cnt FROM lc GROUP BY lang),
         eg AS (SELECT 3 AS egid, NULL::VARCHAR AS esource,
                  round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 6) AS e
                FROM lt)
         SELECT c.source, c.lang, c.gid, c.n_docs, c.total_tokens,
           c.total_chars, c.n_distinct,
           round(1.0 - c.n_distinct / c.n_docs, 6) AS dup_rate,
           c.len_p10, c.len_p50, c.len_p90,
           coalesce(ent.e, 0.0) AS lang_entropy
         FROM card c LEFT JOIN (SELECT * FROM es UNION ALL SELECT * FROM eg) ent
           ON c.gid = ent.egid AND c.source IS NOT DISTINCT FROM ent.esource""",
    "g_pagerank" -> {
      // unrolled power iteration: one generated CTE per round, identical
      // arithmetic to Graph.pageRank (GraphX static convention)
      val iters = 5
      val rk = (1 to iters).map { k =>
        s"""r$k AS (SELECT n.id,
             (SELECT 0.15::DOUBLE / count(*) FROM n) +
             0.85::DOUBLE * coalesce(c.s, 0) AS r
           FROM n LEFT JOIN (
             SELECT tr.dst AS id, sum(tr.p * p.r) AS s
             FROM tr JOIN r${k - 1} p ON tr.src = p.id GROUP BY 1) c
           ON n.id = c.id)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT c_nationkey AS src, s_nationkey AS dst,
             sum(l_extendedprice * (1 - l_discount)) AS w
           FROM lineitem, orders, customer, supplier
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey
           GROUP BY 1, 2),
         tr AS (SELECT src, dst, w / NULLIF(sum(w) OVER (PARTITION BY src), 0) AS p FROM e),
         n AS (SELECT n_nationkey AS id, n_name FROM nation),
         r0 AS (SELECT id, 1.0::DOUBLE / (SELECT count(*) FROM n) AS r FROM n),
         $rk
         SELECT n.n_name, round(r$iters.r, 8) AS pr
         FROM r$iters JOIN n ON r$iters.id = n.id"""
    },
    "g_hits" -> {
      // unrolled mutual power iteration with BATCHED normalization —
      // identical reassociated arithmetic to Graph.hits (round 13): the
      // loop chains UNNORMALIZED raw sums (ar_k from hr_{k-1} directly;
      // a node absent from a raw CTE contributes nothing, exactly as its
      // explicit 0.0 row did), and ONE final L1 division per vector
      // replaces the per-round normalize CTEs. z coalesced to 0 so an
      // empty graph yields zeros, not NULLs, matching the Spark `when`
      // guard. Every CTE is MATERIALIZED: DuckDB's default CTE inlining
      // would re-expand the whole upstream chain per reference —
      // exponential in iteration count.
      val iters = 4
      val rk = (1 to iters).map { k =>
        val prev = if (k == 1) s"h0 h ON e.src = h.id" else s"hr${k - 1} h ON e.src = h.id"
        s"""ar$k AS MATERIALIZED (SELECT e.dst AS id, sum(e.w * h.h) AS a
             FROM e JOIN $prev GROUP BY 1),
           hr$k AS MATERIALIZED (SELECT e.src AS id, sum(e.w * a.a) AS h
             FROM e JOIN ar$k a ON e.dst = a.id GROUP BY 1)"""
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT c_nationkey AS src, s_nationkey AS dst,
             sum(l_extendedprice * (1 - l_discount)) AS w
           FROM lineitem, orders, customer, supplier
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey
           GROUP BY 1, 2),
         n AS MATERIALIZED (SELECT n_nationkey AS id, n_name FROM nation),
         h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS h FROM n),
         $rk,
         za AS MATERIALIZED (SELECT coalesce(sum(abs(a)), 0) AS z FROM ar$iters),
         zh AS MATERIALIZED (SELECT coalesce(sum(abs(h)), 0) AS z FROM hr$iters)
         SELECT n.n_name,
           round(CASE WHEN zh.z = 0 THEN 0
             ELSE coalesce(hr.h, 0) / zh.z END, 7) AS hub,
           round(CASE WHEN za.z = 0 THEN 0
             ELSE coalesce(ar.a, 0) / za.z END, 7) AS authority
         FROM n CROSS JOIN zh CROSS JOIN za
         LEFT JOIN hr$iters hr ON n.id = hr.id
         LEFT JOIN ar$iters ar ON n.id = ar.id"""
    },
    "q_acf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS x FROM orders GROUP BY 1),
         st AS (SELECT avg(x) AS mu, var_pop(x) * count(*) AS denom FROM daily),
         lg AS (SELECT unnest(range(1, 8)) AS lag),
         pr AS (SELECT l.lag, a.x AS xa, b.x AS xb
           FROM daily a CROSS JOIN lg l
           JOIN daily b ON b.day = a.day + l.lag::INT)
         SELECT lag, count(*)::BIGINT AS n_pairs,
           round(sum((xa - mu) * (xb - mu)) / NULLIF(max(denom), 0), 6) AS acf
         FROM pr CROSS JOIN st GROUP BY 1""",
    "q_stl_decompose" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS x FROM orders GROUP BY 1),
         d2 AS (SELECT day, x, (day - DATE '1970-01-01')::BIGINT AS dn FROM daily),
         tr AS (SELECT day, x, dn,
             avg(x) OVER (ORDER BY dn RANGE BETWEEN 3 PRECEDING
               AND 3 FOLLOWING) AS trend,
             dn % 7 AS dow_idx FROM d2),
         se AS (SELECT dow_idx, avg(x - trend) AS s_raw FROM tr GROUP BY 1),
         sc AS (SELECT dow_idx,
             s_raw - (SELECT avg(s_raw) FROM se) AS seasonal FROM se)
         SELECT t.day, round(t.x, 2) AS x, round(t.trend, 2) AS trend,
           round(sc.seasonal, 2) AS seasonal,
           round(t.x - t.trend - sc.seasonal, 2) AS resid
         FROM tr t JOIN sc ON t.dow_idx = sc.dow_idx""",
    "q_t_closeness" ->
      """WITH cnts AS (SELECT o_orderpriority AS grp,
             least(floor(o_totalprice / 50000)::BIGINT, 9) AS bucket,
             count(*)::BIGINT AS c
           FROM orders GROUP BY 1, 2),
         gt AS (SELECT grp, sum(c)::BIGINT AS gn FROM cnts GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS n,
             count(DISTINCT bucket)::BIGINT AS m FROM cnts),
         q AS (SELECT bucket, sum(c)::DOUBLE / max(n) AS q, max(m) AS m
           FROM cnts CROSS JOIN tot GROUP BY 1),
         grid AS (SELECT gt.grp, q.bucket, q.q, q.m, gt.gn,
             coalesce(c.c, 0)::DOUBLE / gt.gn AS p
           FROM gt CROSS JOIN q
           LEFT JOIN cnts c ON c.grp = gt.grp AND c.bucket = q.bucket),
         cum AS (SELECT grp, m, gn,
             sum(p - q) OVER (PARTITION BY grp ORDER BY bucket) AS cumdiff
           FROM grid)
         SELECT grp, max(gn) AS n_rows,
           round(CASE WHEN max(m) = 1 THEN 0.0
             ELSE sum(abs(cumdiff)) / (max(m) - 1) END, 6) AS t_closeness
         FROM cum GROUP BY 1""",
    "q_seq_mining" ->
      """WITH bt AS (SELECT user_id, event_type,
             min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
           FROM events GROUP BY 1, 2),
         tot AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM bt),
         pr AS (SELECT a.user_id, a.event_type AS seq_a, b.event_type AS seq_b
           FROM bt a JOIN bt b ON a.user_id = b.user_id
             AND a.event_type <> b.event_type AND a.first_us < b.last_us)
         SELECT seq_a, seq_b, count(*)::BIGINT AS n_users,
           round(count(*)::DOUBLE / max(nu), 6) AS support
         FROM pr CROSS JOIN tot GROUP BY 1, 2
         HAVING count(*) >= 0.05 * max(nu)""",
    "q_qte" ->
      """WITH per AS (SELECT user_id,
             sum(round(value * 100)::BIGINT)::BIGINT AS v
           FROM events GROUP BY 1),
         pa AS (SELECT user_id % 2 AS gidx, v FROM per),
         rk AS (SELECT gidx, v,
             row_number() OVER (PARTITION BY gidx ORDER BY v) AS r,
             count(*) OVER (PARTITION BY gidx) AS n FROM pa),
         qs AS (SELECT qq.q, gidx, min(v) AS qv
           FROM rk CROSS JOIN
             (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS q) qq
           WHERE r >= ceil(qq.q * n) GROUP BY 1, 2)
         SELECT a.q AS quantile, round(a.qv / 100.0, 2) AS v_a,
           round(b.qv / 100.0, 2) AS v_b,
           round((b.qv - a.qv) / 100.0, 2) AS qte
         FROM qs a JOIN qs b ON a.q = b.q AND a.gidx = 0 AND b.gidx = 1""",
    "q_basket_triples" ->
      // the oracle counts triples directly — A-priori pruning is
      // lossless, so the pruned Spark plan and the direct count are the
      // same relation
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
             l_partkey AS p FROM lineitem),
         no AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM li),
         fp AS MATERIALIZED (SELECT a.p AS pa, b.p AS pb
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
         li2 AS MATERIALIZED (SELECT * FROM li
           WHERE p IN (SELECT pa FROM fp UNION SELECT pb FROM fp)),
         tri AS (SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
             count(*)::BIGINT AS n_abc
           FROM li2 a JOIN li2 b ON a.o = b.o AND a.p < b.p
           JOIN li2 c ON a.o = c.o AND b.p < c.p
           GROUP BY 1, 2, 3 HAVING count(*) >= 2)
         SELECT part_a, part_b, part_c, n_abc,
           round(n_abc::DOUBLE / (SELECT n_orders FROM no), 6) AS support
         FROM tri""",
    "q_holt_winters" ->
      // same recursive-CTE replay as q_holt_forecast, with the rotating
      // 4-slot seasonal list; >> is exact on both engines
      """WITH weekly AS (SELECT epoch_us(o_orderdate) // 86400000000 // 7 AS week,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_e2
           FROM orders GROUP BY 1),
         ser AS (SELECT list(rev_e2 ORDER BY week) AS ys,
             count(*)::BIGINT AS n_weeks FROM weekly),
         steps AS (
           WITH RECURSIVE s AS (
             SELECT 1::BIGINT AS i, ys[1] AS l, 0::BIGINT AS b,
               [0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT] AS se FROM ser
             UNION ALL
             SELECT i + 1,
               (ys[i + 1] - se[1] + l + b) >> 1,
               (((ys[i + 1] - se[1] + l + b) >> 1) - l + b) >> 1,
               list_append(se[2:4], (ys[i + 1] - l - b + se[1]) >> 1)
             FROM s, ser WHERE i < n_weeks)
           SELECT * FROM s)
         SELECT n_weeks, l AS level_e2, b AS trend_e2,
           l + 1 * b + se[1] AS fc1_e2, l + 2 * b + se[2] AS fc2_e2,
           l + 3 * b + se[3] AS fc3_e2, l + 4 * b + se[4] AS fc4_e2
         FROM steps CROSS JOIN ser WHERE i = n_weeks""",
    "q_msprt" ->
      """WITH per AS (SELECT user_id,
             sum(round(value * 100)::BIGINT)::BIGINT AS y
           FROM events GROUP BY 1),
         arms AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
             sum(y * y)::BIGINT AS syy
           FROM per GROUP BY 1),
         one AS (SELECT
             max(CASE WHEN arm = 'A' THEN n END) AS n_a,
             max(CASE WHEN arm = 'A' THEN sy END) AS sy_a,
             max(CASE WHEN arm = 'A' THEN syy END) AS syy_a,
             max(CASE WHEN arm = 'B' THEN n END) AS n_b,
             max(CASE WHEN arm = 'B' THEN sy END) AS sy_b,
             max(CASE WHEN arm = 'B' THEN syy END) AS syy_b
           FROM arms),
         sc AS (SELECT n_a, n_b,
             (n_a::DOUBLE * syy_a - sy_a::DOUBLE * sy_a)
               / NULLIF(n_a::DOUBLE * (n_a::DOUBLE - 1.0), 0) / 10000.0 AS va,
             (n_b::DOUBLE * syy_b - sy_b::DOUBLE * sy_b)
               / NULLIF(n_b::DOUBLE * (n_b::DOUBLE - 1.0), 0) / 10000.0 AS vb,
             sy_b::DOUBLE / n_b / 100.0 - sy_a::DOUBLE / n_a / 100.0 AS delta
           FROM one),
         v AS (SELECT n_a, n_b, delta,
             NULLIF(va / n_a + vb / n_b, 0) AS bigv,
             (va + vb) / 2.0 AS tau2 FROM sc)
         SELECT n_a, n_b, round(delta, 4) AS delta,
           round(0.5 * ln(bigv / (bigv + tau2))
             + delta * delta * tau2 / (2.0 * bigv * (bigv + tau2)), 6)
             AS log_lambda,
           round(least(1.0, exp(-(0.5 * ln(bigv / (bigv + tau2))
             + delta * delta * tau2 / (2.0 * bigv * (bigv + tau2))))), 6)
             AS p_always_valid
         FROM v""",
    "q_abc_classes" ->
      // identical integer class cuts on the ascending value-grain
      // cumulative (window here, distributed scan on the Spark side)
      """WITH rev AS (SELECT l_partkey,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS v_e2
           FROM lineitem GROUP BY 1),
         pv AS (SELECT v_e2, count(*)::BIGINT AS nv,
             (count(*) * v_e2)::BIGINT AS block_rev
           FROM rev GROUP BY 1),
         cum AS (SELECT v_e2, nv, block_rev,
             sum(block_rev) OVER (ORDER BY v_e2)::BIGINT AS cum_rev FROM pv),
         tot AS (SELECT max(cum_rev)::BIGINT AS t_rev FROM cum)
         SELECT CASE WHEN (t_rev - cum_rev) * 100 < t_rev * 80 THEN 'A'
                     WHEN (t_rev - cum_rev) * 100 < t_rev * 95 THEN 'B'
                     ELSE 'C' END AS abc_class,
           sum(nv)::BIGINT AS n_parts,
           round(sum(block_rev)::DOUBLE / 100.0, 2) AS revenue,
           round(sum(block_rev)::DOUBLE / NULLIF(max(t_rev), 0), 6) AS share
         FROM cum CROSS JOIN tot GROUP BY 1""",
    "q_mix_effect" ->
      """WITH agg AS (SELECT p_brand,
             sum(CASE WHEN year(l_shipdate) = 1996
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS rev0,
             sum(CASE WHEN year(l_shipdate) = 1996
               THEN l_quantity ELSE 0 END) AS q0,
             sum(CASE WHEN year(l_shipdate) = 1997
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS rev1,
             sum(CASE WHEN year(l_shipdate) = 1997
               THEN l_quantity ELSE 0 END) AS q1
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           GROUP BY 1 HAVING sum(CASE WHEN year(l_shipdate) = 1996
               THEN l_quantity ELSE 0 END) > 0
             AND sum(CASE WHEN year(l_shipdate) = 1997
               THEN l_quantity ELSE 0 END) > 0)
         SELECT p_brand, round(rev0, 2) AS rev0, round(rev1, 2) AS rev1,
           round((q1 - q0) * (rev0 / q0), 2) AS volume_effect,
           round((rev1 / q1 - rev0 / q0) * q1, 2) AS price_effect
         FROM agg""",
    "q_price_elasticity" ->
      """SELECT p_brand, count(*)::BIGINT AS n_lines,
           round(covar_pop(ln(l_extendedprice / l_quantity), ln(l_quantity))
             / NULLIF(var_pop(ln(l_extendedprice / l_quantity)), 0),
             4) AS elasticity,
           round(avg(ln(l_extendedprice / l_quantity)), 4) AS avg_ln_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""",
    "q_stl_anomalies" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS x FROM orders GROUP BY 1),
         d2 AS (SELECT day, x, (day - DATE '1970-01-01')::BIGINT AS dn FROM daily),
         tr AS (SELECT day, x, dn,
             avg(x) OVER (ORDER BY dn RANGE BETWEEN 3 PRECEDING
               AND 3 FOLLOWING) AS trend,
             dn % 7 AS dow_idx FROM d2),
         se AS (SELECT dow_idx, avg(x - trend) AS s_raw FROM tr GROUP BY 1),
         sc AS (SELECT dow_idx,
             s_raw - (SELECT avg(s_raw) FROM se) AS seasonal FROM se),
         wr AS (SELECT t.day, t.x, t.x - t.trend - sc.seasonal AS resid
           FROM tr t JOIN sc ON t.dow_idx = sc.dow_idx),
         st AS (SELECT stddev_pop(resid) AS sd FROM wr)
         SELECT day, round(x, 2) AS x, round(resid / NULLIF(sd, 0), 4) AS z
         FROM wr CROSS JOIN st
         WHERE abs(round(resid / NULLIF(sd, 0), 4)) >= 2.5""",
    "q_holt_backtest" ->
      """WITH weekly AS (SELECT epoch_us(o_orderdate) // 86400000000 // 7 AS week,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_e2
           FROM orders GROUP BY 1),
         ser AS (SELECT list(rev_e2 ORDER BY week) AS ys,
             count(*)::BIGINT AS n_weeks FROM weekly),
         steps AS (
           WITH RECURSIVE s AS (
             SELECT 1::BIGINT AS i, ys[1] AS l, 0::BIGINT AS b,
               0::BIGINT AS ae, 0::BIGINT AS sgn FROM ser
             UNION ALL
             SELECT i + 1, (ys[i + 1] + l + b) >> 1,
               (((ys[i + 1] + l + b) >> 1) - l + b) >> 1,
               ae + abs(ys[i + 1] - (l + b)),
               sgn + (ys[i + 1] - (l + b))
             FROM s, ser WHERE i < n_weeks)
           SELECT * FROM s)
         SELECT n_weeks,
           CASE WHEN n_weeks = 1 THEN NULL ELSE
             ((2 * ae * 100 + (n_weeks - 1)) // (2 * (n_weeks - 1)))::DOUBLE
               / 10000.0 END AS mae,
           CASE WHEN n_weeks = 1 THEN NULL ELSE
             (CASE WHEN sgn < 0 THEN -1 ELSE 1 END
              * ((2 * abs(sgn) * 100 + (n_weeks - 1))
                 // (2 * (n_weeks - 1))))::DOUBLE / 10000.0 END AS bias
         FROM steps CROSS JOIN ser WHERE i = n_weeks""",
    "g_assortativity" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src,
             b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS deg
           FROM e GROUP BY 1),
         s AS (SELECT count(*)::BIGINT AS n_edges,
             sum(dx.deg)::BIGINT AS sx, sum(dy.deg)::BIGINT AS sy,
             sum(dx.deg * dy.deg)::BIGINT AS sxy,
             sum(dx.deg * dx.deg)::BIGINT AS sxx,
             sum(dy.deg * dy.deg)::BIGINT AS syy
           FROM e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id)
         SELECT n_edges,
           round(CASE WHEN sqrt(n_edges::DOUBLE * sxx - sx::DOUBLE * sx)
               * sqrt(n_edges::DOUBLE * syy - sy::DOUBLE * sy) = 0 THEN 0.0
             ELSE (n_edges::DOUBLE * sxy - sx::DOUBLE * sy)
               / (sqrt(n_edges::DOUBLE * sxx - sx::DOUBLE * sx)
                  * sqrt(n_edges::DOUBLE * syy - sy::DOUBLE * sy)) END, 6)
             AS assortativity
         FROM s""",
    "g_degree_dist" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS id, b.l_partkey AS nb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*)::BIGINT AS degree FROM e GROUP BY 1),
         tail AS (SELECT count(*)::BIGINT AS n_tail,
             sum(ln(degree::DOUBLE / 64)) AS sum_ln
           FROM deg WHERE degree >= 64),
         al AS (SELECT n_tail,
             CASE WHEN sum_ln > 0.0
               THEN round(1.0 + n_tail::DOUBLE / sum_ln, 4)
               ELSE NULL END AS alpha_hill
           FROM tail)
         SELECT degree, count(*)::BIGINT AS n_nodes, al.n_tail, al.alpha_hill
         FROM deg CROSS JOIN al GROUP BY 1, 3, 4""",
    "t_phrase_search" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents),
         pos AS (SELECT doc_id, unnest(tk) AS term,
             unnest(range(1, len(tk) + 1)) AS p FROM toks)
         SELECT a.doc_id, count(*)::BIGINT AS n_occ
         FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         WHERE a.term = 'batch' AND b.term = 'part'
         GROUP BY 1""",
    "g_triangles" ->
      """WITH e0 AS (SELECT c_nationkey AS s, s_nationkey AS d,
             sum(l_extendedprice * (1 - l_discount)) AS w
           FROM lineitem, orders, customer, supplier
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey
           GROUP BY 1, 2 HAVING sum(l_extendedprice * (1 - l_discount)) >= 1500000),
         und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
           FROM e0 WHERE s <> d),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1
           JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         corners AS (SELECT x AS id FROM tri
           UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         SELECT n_name, CAST(count(*) AS BIGINT) AS n_triangles
         FROM corners JOIN nation ON id = n_nationkey GROUP BY 1""",
    "g_node_similarity" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS id, b.l_partkey AS nb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT id, count(*) AS deg FROM e GROUP BY 1),
         post AS (SELECT e.id, e.nb FROM e
           JOIN deg d ON e.nb = d.id AND d.deg <= 64),
         sh AS (SELECT p1.id AS id_a, p2.id AS id_b,
             CAST(count(*) AS BIGINT) AS shared
           FROM post p1 JOIN post p2
             ON p1.nb = p2.nb AND p1.id < p2.id
           GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, shared,
             shared * 1000000 // (da.deg + db.deg - shared) AS jaccard_e6
           FROM sh JOIN deg da ON sh.id_a = da.id
             JOIN deg db ON sh.id_b = db.id)
         SELECT id_a, id_b, shared, CAST(jaccard_e6 AS BIGINT) AS jaccard_e6
         FROM j ORDER BY jaccard_e6 DESC, id_a, id_b LIMIT 20""",
    "g_reach_hops" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         r AS (SELECT p_partkey AS id, 0 AS h FROM part WHERE p_partkey = 1
           UNION
           SELECT e.dst AS id, r.h + 1 AS h
           FROM r JOIN e ON e.src = r.id WHERE r.h < 3)
         SELECT id, CAST(min(h) AS BIGINT) AS hops FROM r GROUP BY 1""",
    "g_harmonic" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         r AS (SELECT p_partkey AS seed, p_partkey AS id, 0 AS h
           FROM part WHERE p_partkey <= 8
           UNION
           SELECT r.seed, e.dst AS id, r.h + 1 AS h
           FROM r JOIN e ON e.src = r.id WHERE r.h < 3),
         m AS (SELECT seed, id, min(h) AS d FROM r GROUP BY 1, 2),
         c AS (SELECT seed,
             sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_1,
             sum(CASE WHEN d = 2 THEN 1 ELSE 0 END)::BIGINT AS n_2,
             sum(CASE WHEN d = 3 THEN 1 ELSE 0 END)::BIGINT AS n_3
           FROM m WHERE d > 0 GROUP BY 1)
         SELECT seed, n_1, n_2, n_3,
           round(n_1::DOUBLE / 1.0 + n_2::DOUBLE / 2.0 + n_3::DOUBLE / 3.0, 6)
             AS harmonic
         FROM c""",
    "q_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 3),
         item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
           FROM li GROUP BY 1),
         n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li)
         SELECT part_a, part_b, n_ab,
           round(n_ab / ia.n_item, 6) AS confidence,
           round(n_ab * n.n_orders / (ia.n_item * ib.n_item), 6) AS lift
         FROM pairs
         JOIN item ia ON ia.l_partkey = part_a
         JOIN item ib ON ib.l_partkey = part_b
         CROSS JOIN n""",
    "q_zscore_outliers" ->
      """WITH j AS (SELECT c_nationkey, o_orderkey, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey),
         s AS (SELECT c_nationkey, avg(o_totalprice) AS m,
             stddev_pop(o_totalprice) AS sd
           FROM j GROUP BY 1)
         SELECT c_nationkey, o_orderkey,
           round((o_totalprice - m) / NULLIF(sd, 0), 4) AS z
         FROM j JOIN s USING (c_nationkey)
         WHERE abs(round((o_totalprice - m) / NULLIF(sd, 0), 4)) >= 1.65""",
    "q_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate::DATE) AS ship_year,
           CAST(sum(round(l_extendedprice * 100)::BIGINT *
             (100 - round(l_discount * 100)::BIGINT)) AS BIGINT) AS revenue_e4
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         GROUP BY 1, 2, 3""",
    "q_semi_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate::DATE > o.o_orderdate::DATE + 60)
         GROUP BY 1""",
    "q_markov" ->
      """WITH seq AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
           FROM events),
         c AS (SELECT event_type AS src_type, next_type AS dst_type,
             CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT src_type, dst_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY src_type) AS BIGINT), 6) AS p
         FROM c""",
    "q_partitioned_prune" ->
      """SELECT event_type AS etype, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
         FROM events WHERE event_type = 'purchase' GROUP BY 1""",
    "q_seasonality" ->
      """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_value
         FROM events GROUP BY 1, 2""",
    "q_funnel_time" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         fv AS (SELECT user_id, min(us) AS view_us FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         conv AS (SELECT ev.user_id, fv.view_us, min(ev.us) AS buy_us
           FROM ev JOIN fv USING (user_id)
           WHERE ev.event_type = 'purchase' AND ev.us >= fv.view_us
           GROUP BY 1, 2)
         SELECT CAST((buy_us - view_us) // 3600000000 AS BIGINT) AS hours_bucket,
           CAST(count(*) AS BIGINT) AS n_users
         FROM conv GROUP BY 1""",
    "g_clustering_coeff" ->
      """WITH e0 AS (SELECT c_nationkey AS s, s_nationkey AS d
           FROM lineitem, orders, customer, supplier
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey
           GROUP BY 1, 2 HAVING sum(l_extendedprice * (1 - l_discount)) >= 1500000),
         und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
           FROM e0 WHERE s <> d),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
           (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         w AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
         tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM und e1
           JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
         SELECT tri.n_triangles, w.n_wedges,
           round(3.0 * tri.n_triangles / w.n_wedges, 6) AS global_cc
         FROM tri CROSS JOIN w""",
    "c_dedup_report" ->
      s"""WITH $sqlMinhashCtes,
         lsh AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         ex AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_exact_dup_docs,
             CAST(count(*) AS BIGINT) AS n_exact_groups
           FROM (SELECT count(*) AS c FROM documents
                 GROUP BY text HAVING count(*) > 1))
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           ex.n_exact_dup_docs, ex.n_exact_groups,
           (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh_pairs,
           (SELECT CAST(count(DISTINCT i.id) AS BIGINT)
            FROM (SELECT id_a AS id FROM lsh
                  UNION ALL SELECT id_b FROM lsh) i) AS n_neardup_docs
         FROM ex""",
    "t_ngram_novelty" -> {
      val ph = sqlPh("array_to_string(toks[i:i+2], ' ')", 31L, 1000000007L)
      s"""WITH sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN []::BIGINT[]
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> $ph)) END AS g3
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                 FROM documents)),
         ex AS (SELECT doc_id, unnest(g3) AS g FROM sh),
         dfs AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY 1),
         per AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
           FROM ex JOIN dfs USING (g) GROUP BY 1)
         SELECT doc_id, n_grams, round(n_unique / n_grams, 6) AS novelty
         FROM per"""
    },
    "t_readability" ->
      """WITH c AS (SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS n_sents,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_sylls
         FROM documents)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(206.835 - 1.015 * (n_words::DOUBLE / n_sents)
             - 84.6 * (n_sylls::DOUBLE / n_words), 4) AS flesch
         FROM c WHERE n_words > 0""",
    "q_skyline" ->
      """WITH b AS (SELECT o_orderkey,
             round(o_totalprice * 100)::BIGINT AS price_e2,
             o_orderdate::DATE AS d
           FROM orders)
         SELECT o_orderkey, price_e2, d FROM b o
         WHERE NOT EXISTS (SELECT 1 FROM b x
           WHERE x.price_e2 > o.price_e2 AND x.d > o.d)""",
    "q_corr_matrix" ->
      """WITH a AS (SELECT
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6) AS qty_disc,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc
         FROM lineitem)
         SELECT 'qty_price' AS pair, qty_price AS r FROM a
         UNION ALL SELECT 'qty_disc' AS pair, qty_disc AS r FROM a
         UNION ALL SELECT 'price_disc' AS pair, price_disc AS r FROM a""",
    "t_js_divergence" ->
      """WITH cnt AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
         bs AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM cnt GROUP BY 1),
         bl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cnt GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cnt),
         terms AS (SELECT source,
             (n / n_src) * log2((n / n_src) / (((n / n_src) + (n_lang / n_tot)) / 2)) / 2
               + (n_lang / n_tot) * log2((n_lang / n_tot) / (((n / n_src) + (n_lang / n_tot)) / 2)) / 2
               AS term,
             n_lang / n_tot AS q
           FROM cnt JOIN bs USING (source) JOIN bl USING (lang) CROSS JOIN tot)
         SELECT source, round(sum(term) + (1.0 - sum(q)) / 2, 6) AS js_divergence
         FROM terms GROUP BY 1""",
    "q_gap_fill" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS hour, event_type FROM events),
         actual AS (SELECT hour, CAST(count(*) AS BIGINT) AS n
           FROM ev WHERE event_type = 'purchase' GROUP BY 1),
         bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev),
         spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
           FROM bounds)
         SELECT spine.hour, coalesce(actual.n, 0) AS n_purchases
         FROM spine LEFT JOIN actual ON spine.hour = actual.hour""",
    "q_cumulative_users" ->
      """WITH f AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY 1),
         d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
         SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM d""",
    "q_unpivot" ->
      """WITH w AS (SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, 'sum_qty' AS measure,
           sum_qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_price' AS measure,
           sum_price AS value FROM w""",
    "q_revenue_share" ->
      """WITH bn AS (SELECT c_nationkey,
             CAST(sum(round(l_extendedprice * 100)::BIGINT *
               (100 - round(l_discount * 100)::BIGINT)) AS BIGINT) AS revenue_e4
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         tot AS (SELECT CAST(sum(revenue_e4) AS BIGINT) AS total_e4 FROM bn)
         SELECT c_nationkey, revenue_e4,
           round(revenue_e4 / NULLIF(total_e4, 0), 6) AS share
         FROM bn CROSS JOIN tot""",
    "q_profile_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_custkey,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           min(o_orderdate::DATE) AS first_date,
           max(o_orderdate::DATE) AS last_date
         FROM orders""",
    "q_linkage_score" ->
      """WITH dn AS (SELECT DISTINCT p_brand, p_name FROM part)
         SELECT x.p_brand AS brand, x.p_name AS name_a, y.p_name AS name_b,
           round(jaro_winkler_similarity(x.p_name, y.p_name), 6) AS jw
         FROM dn x JOIN dn y
           ON x.p_brand = y.p_brand AND x.p_name < y.p_name
         WHERE round(jaro_winkler_similarity(x.p_name, y.p_name), 6) >= 0.92""",
    "q_fuzzy_block" ->
      """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 2""",
    "g_communities" ->
      s"""WITH $sqlLpaCtes
         SELECT id, label FROM r$LpaRounds""",
    "g_modularity" ->
      // per-community Newman terms over the same LPA labels; q_term is one
      // exact-integer numerator over one exact denominator, divided once
      s"""WITH $sqlLpaCtes,
         lab AS MATERIALIZED (SELECT id, label FROM r$LpaRounds),
         umod AS MATERIALIZED (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         mmod AS (SELECT count(*)::BIGINT AS m FROM umod),
         degm AS (SELECT id, count(*)::BIGINT AS deg FROM (
             SELECT a AS id FROM umod UNION ALL SELECT b AS id FROM umod)
           GROUP BY 1),
         ns AS (SELECT lab.label AS community, count(*)::BIGINT AS n_nodes,
             sum(coalesce(degm.deg, 0))::BIGINT AS degree_sum
           FROM lab LEFT JOIN degm ON lab.id = degm.id GROUP BY 1),
         ie AS (SELECT la.label AS community, count(*)::BIGINT AS intra_edges
           FROM umod JOIN lab la ON umod.a = la.id
                     JOIN lab lb ON umod.b = lb.id
           WHERE la.label = lb.label GROUP BY 1)
         SELECT community, n_nodes,
           coalesce(intra_edges, 0)::BIGINT AS intra_edges, degree_sum,
           round((4 * m * coalesce(intra_edges, 0)
                  - degree_sum * degree_sum)::DOUBLE / (4 * m * m), 9) AS q_term
         FROM ns LEFT JOIN ie USING (community) CROSS JOIN mmod""",
    "g_kcore" -> sqlKcore,
    "g_community_rollup" ->
      s"""WITH $sqlLpaCtes,
         rev AS (SELECT l_partkey AS id,
             CAST(sum(round(l_extendedprice * 100)::BIGINT *
               (100 - round(l_discount * 100)::BIGINT)) AS BIGINT) AS rev_e4
           FROM lineitem GROUP BY 1)
         SELECT label AS community, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(coalesce(rev.rev_e4, 0)) AS BIGINT) AS revenue_e4
         FROM r$LpaRounds r LEFT JOIN rev USING (id)
         GROUP BY 1 HAVING count(*) >= 5""",
    "q_argmax" ->
      """SELECT c_nationkey, c_acctbal AS top_acctbal, c_custkey AS top_custkey
         FROM (SELECT c_nationkey, c_acctbal, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
           FROM customer)
         WHERE rn = 1""",
    "q_cohort_retention" ->
      """WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
         SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
           count(DISTINCT ev.user_id) AS users
         FROM ev JOIN f ON ev.user_id = f.user_id
         GROUP BY 1, 2""",
    "q_trend_fit" ->
      """SELECT c_nationkey, count(*) AS n_orders,
           round(covar_pop(x, y) / NULLIF(var_pop(x), 0), 4) AS slope,
           round(avg(y) - (covar_pop(x, y) / NULLIF(var_pop(x), 0)) * avg(x), 2)
             AS intercept
         FROM (SELECT c_nationkey,
             date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::DOUBLE AS x,
             o_totalprice AS y
           FROM orders JOIN customer ON o_custkey = c_custkey)
         GROUP BY 1""",
    "q_array_hof" ->
      """SELECT l_orderkey, count(*) AS n_lines,
           sum(round(l_extendedprice * 100)::BIGINT *
               (100 - round(l_discount * 100)::BIGINT))::BIGINT AS revenue_e4,
           sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END)::BIGINT AS n_big
         FROM lineitem GROUP BY 1""",
    "q_attribution" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
             event_type AS ch,
             CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         wc AS (SELECT *, min(CASE WHEN side = 0 THEN t END) OVER
             (PARTITION BY u ORDER BY t DESC, side DESC, eid DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_t
           FROM e),
         rk AS (SELECT u, conv_t, ch,
             row_number() OVER (PARTITION BY u, conv_t ORDER BY t, eid) AS pos,
             count(*) OVER (PARTITION BY u, conv_t) AS n
           FROM wc WHERE side = 1 AND conv_t IS NOT NULL)
         SELECT ch AS channel, count(*) AS n_touches,
           round(sum(CASE WHEN n = 1 THEN 1.0::DOUBLE
             WHEN n = 2 THEN 0.5::DOUBLE
             WHEN pos = 1 OR pos = n THEN 0.4::DOUBLE
             ELSE 0.2::DOUBLE / (n - 2) END), 4) AS credit
         FROM rk GROUP BY 1""",
    "q_time_decay_attribution" ->
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
             event_type AS ch,
             CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         wc AS (SELECT *, min(CASE WHEN side = 0 THEN t END) OVER
             (PARTITION BY u ORDER BY t DESC, side DESC, eid DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_t
           FROM e),
         tk AS (SELECT ch,
             least((conv_t - t) // 604800000000, 40)::BIGINT AS k
           FROM wc WHERE side = 1 AND conv_t IS NOT NULL)
         SELECT ch AS channel, count(*) AS n_touches,
           round(sum(1.0::DOUBLE / (1::BIGINT << k)), 4) AS credit
         FROM tk GROUP BY 1""",
    "q_ab_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         a AS (
           SELECT 'exp_even' AS experiment,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM u
           UNION ALL
           SELECT 'exp_skewed' AS experiment,
             CASE WHEN user_id % 10 < 4 THEN 'A' ELSE 'B' END AS arm FROM u),
         c AS (SELECT experiment,
             sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b
           FROM a GROUP BY 1)
         SELECT experiment, n_a, n_b,
           round(((n_a - n_b) * (n_a - n_b))::DOUBLE / (n_a + n_b), 6) AS chi2,
           ((n_a - n_b) * (n_a - n_b))::DOUBLE / (n_a + n_b) > 3.841459 AS srm
         FROM c""",
    "q_ab_cuped" ->
      // six order-free integer sums, then scalar double arithmetic —
      // identical shape to qAbCuped
      """WITH per AS (SELECT user_id,
             sum(CASE WHEN epoch_us(ts) // 86400000000 < 19737
                 THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN epoch_us(ts) // 86400000000 >= 19737
                 THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
           FROM events GROUP BY 1),
         pa AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             x, y FROM per),
         arms AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
             sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
           FROM pa GROUP BY 1),
         pooled AS (SELECT sum(n)::BIGINT AS pn, sum(sx)::BIGINT AS psx,
             sum(sy)::BIGINT AS psy, sum(sxx)::BIGINT AS psxx,
             sum(sxy)::BIGINT AS psxy, sum(syy)::BIGINT AS psyy FROM arms)
         SELECT arm, n,
           round(sy::DOUBLE / n / 100.0, 4) AS mean_y,
           round((sy::DOUBLE / n -
             ((pn::DOUBLE * psxy - psx::DOUBLE * psy)
              / NULLIF(pn::DOUBLE * psxx - psx::DOUBLE * psx, 0))
             * (sx::DOUBLE / n - psx::DOUBLE / pn)) / 100.0, 4) AS mean_cuped,
           round((pn::DOUBLE * psxy - psx::DOUBLE * psy)
             / NULLIF(pn::DOUBLE * psxx - psx::DOUBLE * psx, 0), 6) AS theta,
           round((pn::DOUBLE * psxy - psx::DOUBLE * psy)
             * (pn::DOUBLE * psxy - psx::DOUBLE * psy)
             / NULLIF((pn::DOUBLE * psxx - psx::DOUBLE * psx)
                * (pn::DOUBLE * psyy - psy::DOUBLE * psy), 0), 6) AS rho2
         FROM arms CROSS JOIN pooled""",
    "q_power_mde" ->
      """WITH u AS (SELECT user_id,
             sum(round(value * 100)::BIGINT)::BIGINT AS y
           FROM events GROUP BY 1),
         s AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
             sum(y * y)::BIGINT AS syy FROM u)
         SELECT n AS n_observed,
           round(sy::DOUBLE / n / 100.0, 4) AS mean_control,
           round((n::DOUBLE * syy - sy::DOUBLE * sy)
             / NULLIF(n::DOUBLE * (n::DOUBLE - 1.0), 0) / 10000.0, 4) AS variance,
           round(sy::DOUBLE / n / 100.0 * 0.05, 4) AS mde_abs,
           ceil(2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
             * ((n::DOUBLE * syy - sy::DOUBLE * sy)
                / NULLIF(n::DOUBLE * (n::DOUBLE - 1.0), 0) / 10000.0)
             / NULLIF((sy::DOUBLE / n / 100.0 * 0.05)
                * (sy::DOUBLE / n / 100.0 * 0.05), 0))::BIGINT
             AS n_per_arm_required
         FROM s""",
    "q_winsorized_mean" ->
      """WITH r AS (SELECT o_orderpriority AS grp, o_totalprice AS v,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n_g
           FROM orders),
         b AS (SELECT grp,
             max(CASE WHEN rn = (5 * n_g + 99) // 100 THEN v END) AS lo,
             max(CASE WHEN rn = (95 * n_g + 99) // 100 THEN v END) AS hi
           FROM r GROUP BY 1)
         SELECT r.grp AS grp, count(*) AS n, round(avg(v), 4) AS raw_mean,
           round(avg(greatest(lo, least(hi, v))), 4) AS winsor_mean
         FROM r JOIN b ON r.grp = b.grp
         GROUP BY 1""",
    "c_feature_hash" ->
      // the 60-bit token hash replayed exactly; bucket = th mod 1024, sign
      // from hash bit 10 — all 64-bit integer arithmetic
      s"""WITH tk AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS tok
           FROM documents),
         h AS (SELECT doc_id, ${sqlTokenHash60("tok")} AS th FROM tk)
         SELECT doc_id, (th % 1024)::BIGINT AS bucket,
           sum(CASE WHEN (th >> 10) & 1 = 0 THEN 1 ELSE -1 END)::BIGINT AS feat
         FROM h GROUP BY 1, 2""",
    "q_holt_forecast" ->
      // identical integer fold as a recursive CTE; >> is floor-div-by-2 on
      // both engines (incl. negatives), so every step is exact. NOT
      // list_reduce: DuckDB 1.0 aliases the accumulator struct with the
      // output being built, so later fields read already-updated earlier
      // fields (measured: b picked up the NEW l) — the recursion sidesteps
      // the bug and reads as the textbook Holt update
      """WITH weekly AS (SELECT epoch_us(o_orderdate) // 86400000000 // 7 AS week,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_e2
           FROM orders GROUP BY 1),
         ser AS (SELECT list(rev_e2 ORDER BY week) AS ys,
             count(*)::BIGINT AS n_weeks FROM weekly),
         steps AS (
           WITH RECURSIVE s AS (
             SELECT 1::BIGINT AS i, ys[1] AS l, 0::BIGINT AS b FROM ser
             UNION ALL
             SELECT i + 1, (ys[i + 1] + l + b) >> 1,
                    (((ys[i + 1] + l + b) >> 1) - l + b) >> 1
             FROM s, ser WHERE i < n_weeks)
           SELECT * FROM s)
         SELECT n_weeks, l AS level_e2, b AS trend_e2,
           l + 7 * b AS forecast7_e2, l + 30 * b AS forecast30_e2
         FROM steps CROSS JOIN ser WHERE i = n_weeks""",
    "q_shapley_attribution" ->
      // coalition values as exact integer 1e9 conversion-rate ratios, then
      // an integer Shapley sum — identical arithmetic to
      // Marketing.shapleyAttribution's driver fold (n=3: weights 2/1/2 by
      // |S|, denominator 3!·1e9)
      """WITH u AS (SELECT user_id,
             (max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             )::BIGINT AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             )::BIGINT AS conv
           FROM events GROUP BY 1),
         c AS (SELECT mask, count(*)::BIGINT AS nu, sum(conv)::BIGINT AS k
           FROM u GROUP BY 1),
         sets AS (SELECT range::BIGINT AS s FROM range(0, 8)),
         -- cumulative coalition value: every user whose whole touched set
         -- fits inside s (the dummy-axiom-preserving game; see
         -- Marketing.shapleyAttribution)
         v AS (SELECT sets.s AS mask,
             CASE WHEN coalesce(sum(c.nu), 0) = 0 THEN 0
                  ELSE ((2 * sum(c.k) * 1000000000 + sum(c.nu))
                        // (2 * sum(c.nu)))::BIGINT END AS v9
           FROM sets LEFT JOIN c ON (c.mask & sets.s) = c.mask
           GROUP BY 1),
         ch AS (SELECT * FROM (VALUES (0, 'view'), (1, 'click'),
             (2, 'signup')) t(i, channel)),
         terms AS (SELECT ch.channel,
             (CASE bit_count(sets.s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END)
               * (vi.v9 - vs.v9) AS term
           FROM ch JOIN sets ON (sets.s & (1::BIGINT << ch.i)) = 0
           JOIN v vi ON vi.mask = sets.s + (1::BIGINT << ch.i)
           JOIN v vs ON vs.mask = sets.s)
         SELECT channel, sum(term)::BIGINT AS shapley_e9,
           round(sum(term)::DOUBLE / 6000000000.0, 6) AS shapley
         FROM terms GROUP BY 1""",
    "q_kaplan_meier" ->
      // each ln factor rounds to an integer 1e12-ratio BEFORE the running
      // sum, so the product is an order-free integer prefix sum — identical
      // to Marketing.kaplanMeier
      """WITH per AS (SELECT o_custkey,
             min(epoch_us(o_orderdate) // 86400000000) AS first_day,
             max(epoch_us(o_orderdate) // 86400000000) AS last_day
           FROM orders GROUP BY 1),
         mx AS (SELECT max(last_day) AS max_day FROM per),
         lt AS (SELECT last_day - first_day AS t,
             last_day > max_day - 90 AS cens FROM per CROSS JOIN mx),
         g AS (SELECT t, count(*)::BIGINT AS n_all,
             sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS n_deaths
           FROM lt GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS total FROM lt),
         r AS (SELECT t, n_deaths,
             (total - coalesce(sum(n_all) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             )::BIGINT AS at_risk
           FROM g CROSS JOIN tot),
         d AS (SELECT t, at_risk, n_deaths,
             CASE WHEN at_risk = n_deaths THEN 0
                  ELSE round(ln((at_risk - n_deaths)::DOUBLE / at_risk)
                         * 1e12)::BIGINT END AS term_e12
           FROM r WHERE n_deaths > 0)
         SELECT t, at_risk AS n_at_risk, n_deaths,
           CASE WHEN at_risk = n_deaths THEN 0.0
                ELSE round(exp((sum(term_e12) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                )::DOUBLE / 1e12), 6) END AS survival
         FROM d""",
    "q_theilsen_trend" ->
      // slopes are identical long-ratio doubles on both engines, so the
      // nearest-rank median row is the same ROW — no double aggregation
      """WITH m AS (SELECT c_nationkey AS nation,
             epoch_us(o_orderdate) // 86400000000 // 30 AS month,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_e2
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         p AS (SELECT a.nation, a.month AS m1, b.month AS m2,
             (b.rev_e2 - a.rev_e2)::DOUBLE / (b.month - a.month) AS slope
           FROM m a JOIN m b ON a.nation = b.nation AND a.month < b.month),
         r AS (SELECT nation, slope,
             row_number() OVER (PARTITION BY nation
               ORDER BY slope, m1, m2) AS rn,
             count(*) OVER (PARTITION BY nation)::BIGINT AS np
           FROM p)
         SELECT nation, np AS n_pairs, round(slope, 4) AS ts_slope_e2
         FROM r WHERE rn = (np + 1) // 2""",
    "q_rfm_segments" ->
      """WITH pc AS (SELECT o_custkey AS cust, max(o_orderdate::DATE) AS last_day,
             count(*) AS freq, round(sum(o_totalprice), 2) AS monetary
           FROM orders GROUP BY 1),
         sc AS (SELECT monetary,
             ntile(5) OVER (ORDER BY last_day DESC, cust)::BIGINT AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, cust)::BIGINT AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, cust)::BIGINT AS m_score
           FROM pc)
         SELECT r_score, f_score, m_score, count(*) AS n_customers,
           round(avg(monetary), 2) AS avg_monetary,
           round(sum(monetary), 2) AS total_monetary
         FROM sc GROUP BY 1, 2, 3""",
    "q_rfm_histogram" ->
      // exact histogram-cutpoint quintiles: per metric, value-grain
      // cumulative customer counts → score = ceil(5·cum/n); ties share a
      // score — identical to Marketing.rfmHistogramSegments' scan device
      """WITH pc AS (SELECT o_custkey AS cust,
             max(epoch_us(o_orderdate) // 86400000000)::BIGINT AS r,
             count(*)::BIGINT AS f,
             round(sum(o_totalprice), 2) AS monetary,
             round(round(sum(o_totalprice), 2) * 100.0, 0)::BIGINT AS m
           FROM orders GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n FROM pc),
         rs AS (SELECT v, (5 * cum + n - 1) // n AS r_score FROM (
             SELECT r AS v, sum(count(*)) OVER (ORDER BY r
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM pc GROUP BY r) CROSS JOIN tot),
         fs AS (SELECT v, (5 * cum + n - 1) // n AS f_score FROM (
             SELECT f AS v, sum(count(*)) OVER (ORDER BY f
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM pc GROUP BY f) CROSS JOIN tot),
         ms AS (SELECT v, (5 * cum + n - 1) // n AS m_score FROM (
             SELECT m AS v, sum(count(*)) OVER (ORDER BY m
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM pc GROUP BY m) CROSS JOIN tot)
         SELECT r_score, f_score, m_score, count(*) AS n_customers,
           round(avg(monetary), 2) AS avg_monetary,
           round(sum(monetary), 2) AS total_monetary
         FROM pc JOIN rs ON pc.r = rs.v JOIN fs ON pc.f = fs.v
           JOIN ms ON pc.m = ms.v
         GROUP BY 1, 2, 3""",
    "q_shapley_sampled" -> {
      // the identical LCG permutations, prefix coalitions, cumulative-
      // exposure game and integer-1e9 values as Marketing.sampledShapley
      val m = 24
      s"""WITH u AS (SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 'purchase'
                  ELSE 'c' || ((epoch_us(ts) // 3600000000) % 12) END AS ch
           FROM events),
         um AS (SELECT user_id,
             sum(DISTINCT CASE WHEN ch <> 'purchase'
               THEN (1::BIGINT << (substr(ch, 2)::BIGINT)) ELSE 0 END
             )::BIGINT AS mask,
             max(CASE WHEN ch = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
           FROM u GROUP BY 1),
         c AS (SELECT mask, count(*)::BIGINT AS nu, sum(conv)::BIGINT AS k
           FROM um GROUP BY 1),
         perm AS (SELECT pr.range AS p, ch.range AS i,
             (row_number() OVER (PARTITION BY pr.range
               ORDER BY ((pr.range + 1) * 1103515245 + ch.range * 12345)
                 % 2147483647, ch.range) - 1)::BIGINT AS pos
           FROM range(0, $m) pr CROSS JOIN range(0, 12) ch),
         pre AS (SELECT p, i,
             coalesce(sum(1::BIGINT << i) OVER (PARTITION BY p ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0
             )::BIGINT AS pref
           FROM perm),
         coal AS (SELECT DISTINCT pref AS s FROM pre
           UNION SELECT DISTINCT pref + (1::BIGINT << i) FROM pre),
         v AS (SELECT coal.s,
             CASE WHEN coalesce(sum(c.nu), 0) = 0 THEN 0
                  ELSE ((2 * sum(c.k) * 1000000000 + sum(c.nu))
                        // (2 * sum(c.nu)))::BIGINT END AS v9
           FROM coal LEFT JOIN c ON (c.mask & coal.s) = c.mask
           GROUP BY 1)
         SELECT 'c' || pre.i AS channel,
           sum(vi.v9 - vs.v9)::BIGINT AS shapley_e9,
           round(sum(vi.v9 - vs.v9)::DOUBLE / ($m * 1e9), 6) AS shapley
         FROM pre JOIN v vi ON vi.s = pre.pref + (1::BIGINT << pre.i)
           JOIN v vs ON vs.s = pre.pref
         GROUP BY 1"""
    },
    "t_pii_scan" -> {
      // planted text replayed verbatim; Luhn is the same fixed-position
      // integer fold as Safety.luhnValid16
      val luhnSql = """(list_sum(list_transform(range(1, 17), i ->
          CASE WHEN (17 - i) % 2 = 0 THEN
            CASE WHEN 2 * substr(card, i::INT, 1)::INT > 9
                 THEN 2 * substr(card, i::INT, 1)::INT - 9
                 ELSE 2 * substr(card, i::INT, 1)::INT END
          ELSE substr(card, i::INT, 1)::INT END)) % 10 = 0)"""
      s"""WITH r AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
               THEN ' reach me at u' || doc_id || '@mail.test' ELSE '' END ||
             ' from host 10.' || (doc_id % 256) || '.' || (doc_id % 100) ||
             '.7 card ' ||
             lpad(((doc_id * 7919) % 100000000)::VARCHAR, 16, '5') AS raw
           FROM documents),
         d AS (SELECT doc_id,
             len(regexp_extract_all(raw,
               '${graft.functions.TextAnalysis.EmailPattern}'))::BIGINT AS n_email,
             len(regexp_extract_all(raw,
               '${graft.operators.Safety.Ipv4Pattern}'))::BIGINT AS n_ipv4,
             regexp_extract(raw,
               '${graft.operators.Safety.CardPattern}') AS card
           FROM r),
         l AS (SELECT doc_id, n_email, n_ipv4,
             CASE WHEN length(card) = 16 THEN $luhnSql ELSE false END
               AS luhn_valid
           FROM d)
         SELECT doc_id, n_email, n_ipv4, luhn_valid,
           (n_email + n_ipv4 +
            CASE WHEN luhn_valid THEN 3 ELSE 0 END)::BIGINT AS risk_score
         FROM l"""
    },
    "t_unigram_entropy" ->
      """WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
           FROM documents),
         occ AS (SELECT doc_id, unnest(ts) AS tok FROM tk),
         cc AS (SELECT doc_id, tok, count(*)::DOUBLE AS c
           FROM occ GROUP BY 1, 2),
         e AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
             list(c ORDER BY tok) AS cs
           FROM cc GROUP BY 1)
         SELECT doc_id, n::BIGINT AS n_tokens, nd::BIGINT AS n_distinct,
           round(nd / n, 6) AS ttr,
           round(list_reduce([0.0] || cs,
             (acc, c) -> acc - (c / n) * ln(c / n)), 6) AS entropy_nats
         FROM e""",
    "t_secret_entropy" ->
      """WITH r AS (SELECT doc_id, text || ' aaaaaaaaaaaaaaaaaaaa sk_' ||
             substr(md5('sec:' || doc_id), 1, 24) AS raw FROM documents),
         tk AS (SELECT doc_id,
             list_filter(string_split_regex(raw, '\s+'), x -> x <> '') AS ts FROM r),
         c AS (SELECT doc_id, i - 1 AS tok_pos, ts[i] AS tok
           FROM tk, unnest(range(1, len(ts) + 1)) AS t(i)
           WHERE length(ts[i]) >= 16),
         ch AS (SELECT doc_id, tok_pos, length(tok)::DOUBLE AS len, u.ch AS ch
           FROM c, unnest(string_split(tok, '')) AS u(ch)),
         cc AS (SELECT doc_id, tok_pos, len, ch, count(*)::DOUBLE AS n
           FROM ch GROUP BY 1, 2, 3, 4),
         e AS (SELECT doc_id, tok_pos, len,
             list_reduce([0.0] || list(n ORDER BY ch),
               (acc, nn) -> acc - (nn / len) * ln(nn / len)) AS hn
           FROM cc GROUP BY 1, 2, 3)
         SELECT doc_id, tok_pos, len::BIGINT AS tok_len,
           round(hn, 6) AS entropy_nats, round(hn, 6) >= 2.2::DOUBLE AS flagged
         FROM e""",
    "q_dp_counts" ->
      """WITH g AS (SELECT event_type, count(*)::BIGINT AS n_true
           FROM events GROUP BY 1),
         h AS (SELECT event_type, n_true,
             (list_reduce([0::BIGINT] || list_transform(
               string_split('dp:' || event_type, ''), ch -> ascii(ch)::BIGINT),
               (hacc, hx) -> (hacc * 31 + hx) % 1000000007)
              * 2654435761 + 11) % 1000000007 AS hh FROM g),
         u AS (SELECT event_type, n_true,
             (hh::DOUBLE + 0.5) / 1000000007.0 AS uu FROM h)
         SELECT event_type,
           round(n_true + (-1.0::DOUBLE / 1.0) * sign(uu - 0.5) *
             ln(1.0 - 2.0 * abs(uu - 0.5)), 4) AS n_dp
         FROM u""",
    "q_stats_skipping" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
           FROM events),
         r AS (SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi
           FROM b)
         SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events, r
         WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi
         GROUP BY 1""",
    "s_cdc_stream" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
             o_totalprice AS price FROM orders),
         u AS (SELECT k, 'UPD' AS st, price + 10.0 AS price
           FROM base WHERE k % 7 = 0),
         m1 AS (SELECT * FROM base WHERE k % 7 <> 0
           UNION ALL SELECT * FROM u),
         m2 AS (SELECT * FROM m1 WHERE k % 11 <> 0)
         SELECT st AS o_orderstatus, count(*) AS n,
           round(sum(price), 2) AS total
         FROM m2 GROUP BY 1"""
  )
}
