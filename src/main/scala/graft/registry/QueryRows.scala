package graft.registry

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model._
import graft.schema.DestinationSchemas
import graft.transform.{PiiHashing, Transforms}
import graft.operators.Dedup
import graft.registry.Shared._

/** Registry rows `q_*`: relational, statistical, marketing and
  * privacy queries over the testdata tables. */
object QueryRows extends Family {

  private def qPartAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
  row("q_part_agg", qPartAgg)(
    """SELECT p_brand, count(*) AS n_items,
         round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_extendedprice), 2) AS avg_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""")

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
  row("q_rank_suite", qRankSuite)(
    """SELECT c_custkey, c_nationkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(dense_rank() OVER w AS BIGINT) AS drk
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey
                      ORDER BY c_acctbal DESC, c_custkey)""")

  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("event_id"), col("user_id"), col("rn"))
  }
  row("q_window_rank", qWindowRank)(
    """SELECT event_id, user_id, rn FROM (
           SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 3""")

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
  row("q_sessionize", qSessionize)(sqlSessionize)

  /** Streaming-shaped tumbling-window rollup (same plan Structured Streaming
    * produces for a 1h window + event_type groupBy).
    */
  private def qHourlyRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(expr("ts div 1000 div 3600000000").as("hour_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  row("q_hourly_rollup", qHourlyRollup)(sqlHourlyRollup)

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
  row("q_topk_agg", qTopkAgg)(
    """SELECT user_id, rank, event_id, value FROM (
           SELECT user_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
           FROM events) WHERE rank <= 3""")

  private def qTopUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)
  row("q_top_users", qTopUsers)(
    """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY user_id
         ORDER BY n_events DESC, user_id LIMIT 20""")

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
  row("q_anti_join_key", qAntiJoinKey)(
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         round(l_quantity, 2) AS l_quantity
         FROM lineitem li
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_orderkey = li.l_orderkey AND o.o_orderstatus = 'F')""")

  /** Transactional dedup, composite-key ((gclid,time) shape). */
  private def qAntiJoin2Key(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val uploaded = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"))
    Transforms.antiJoinUploaded(li, uploaded, Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
  }
  row("q_anti_join_2key", qAntiJoin2Key)(
    """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem li
         WHERE NOT EXISTS (
           SELECT 1 FROM lineitem u
           WHERE u.l_returnflag = 'R'
             AND u.l_orderkey = li.l_orderkey AND u.l_linenumber = li.l_linenumber)
         GROUP BY l_returnflag, l_linestatus""")

  /** Schema-regex column pruning (reference get_cols_names) through a real
    * destination schema; Catalyst pushes the projection to the scan.
    */
  private def qPruneUserId(s: SparkSession, dir: String): DataFrame = {
    val mapped = t(s, dir, "customer")
      .select(col("c_name").as("user_id"), col("c_acctbal").as("not_in_schema"))
    DestinationSchemas.prune(mapped, DestinationType.AdsCustomerMatchUserIdUpload)
  }
  row("q_prune_user_id", qPruneUserId)("SELECT c_name AS user_id FROM customer")

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
  row("q_pii_hash_ads", qPiiHashAds)(
    """SELECT c_custkey AS crm_id,
         sha256(replace(replace(lower(c_name), '#', '.'), '.', '') || '@gmail.com') AS hashed_email,
         sha256(CAST(c_custkey AS VARCHAR)) AS hashed_phone_number
         FROM customer""")

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
  row("q_pii_hash_dv", qPiiHashDv)(
    """SELECT c_custkey AS crm_id,
         sha256(replace(replace(lower(c_name), '#', '.'), '.', '') || '@gmail.com') AS hashedEmails,
         sha256(CAST(c_custkey AS VARCHAR)) AS hashedPhoneNumbers,
         sha256(lower(c_name)) AS hashedFirstName,
         sha256(lower(c_mktsegment)) AS hashedLastName,
         'BR' AS countryCode,
         CAST(c_custkey AS VARCHAR) AS zipCodes
         FROM customer""")

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
  row("q_cm_custvars_fold", qCmCustvarsFold)(
    """SELECT uuid, '[' || string_agg(cv, ', ' ORDER BY cv) || ']' AS customVariables
         FROM (SELECT CAST(user_id AS VARCHAR) AS uuid,
                 '{ "type": "' || event_type || '", "value": "' ||
                 json_extract_string(props, '$.k') || '"}' AS cv
               FROM events)
         GROUP BY uuid""")

  /** 15-day retention window applied to the uploaded log at read
    * (reference file_data_source.py:140-147), anchored at max(ts).
    */
  private def qRetentionFilter(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", tsUs)
    val maxTs = ev.agg(max(col("ts_us")).as("max_ts_us"))
    ev.crossJoin(maxTs)
      .filter(col("ts_us") >= col("max_ts_us") - lit(15L * 86400L * 1000000L))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }
  row("q_retention_filter", qRetentionFilter)(
    """SELECT event_id, user_id, event_type FROM events
         WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events)
               - 15::BIGINT * 86400 * 1000000""")

  /** JSON column parse + declared-type cast (reference BQ JSON read +
    * update_data_types_not_string).
    */
  private def qJsonExtractCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"))
  row("q_json_extract_cast", qJsonExtractCast)(
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
         FROM events""")

  /** Batching arithmetic (reference _BatchElements): ceil(n/size) with the
    * empty-input→1 quirk, per execution group.
    */
  private def qBatchCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("n_batches", floor((col("n_rows") - 1) / 5) + 1)
  row("q_batch_count", qBatchCount)(
    """SELECT l_orderkey, count(*) AS n_rows,
         ((count(*) - 1) // 5) + 1 AS n_batches
         FROM lineitem GROUP BY l_orderkey""")

  /** Final consolidation: union-all + global dedup (reference last_step). */
  private def qConsolidate(s: SparkSession, dir: String): DataFrame =
    Transforms.consolidate(Seq(
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")),
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))))
  row("q_consolidate", qConsolidate)(
    """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey AS nationkey FROM supplier)""")

  /** Digits-only id normalization (reference utils.py:18-23). */
  private def qDigitsFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), Transforms.digitsOnly(col("c_name")).as("digits"))
  row("q_digits_filter", qDigitsFilter)(
    """SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
         FROM customer""")

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
  row("q_salted_skew_join", qSaltedSkewJoin)(
    // the PLAIN join: salting must be semantically invisible
    """WITH ev AS (SELECT event_id,
             CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
           FROM events),
         dim AS (SELECT k, count(*) AS k_freq FROM ev GROUP BY k)
         SELECT k, count(*) AS n, max(k_freq) AS k_freq,
           round(sum(value), 2) AS total_value
         FROM ev JOIN dim USING (k) GROUP BY k""")

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
  row("q_k_anonymity", qKAnonymity)(
    """WITH c AS (SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hr,
             CAST(count(DISTINCT user_id) AS BIGINT) AS k
           FROM events GROUP BY 1, 2, 3)
         SELECT CASE WHEN k = 1 THEN 'k=1' WHEN k < 5 THEN 'k=2-4'
                     WHEN k < 10 THEN 'k=5-9' ELSE 'k>=10' END AS k_bucket,
           count(*) AS n_cells, CAST(sum(k) AS BIGINT) AS n_users
         FROM c GROUP BY 1""")

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
  row("q_l_diversity", qLDiversity)(
    """WITH c AS (SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hr,
             CAST(count(DISTINCT CAST(floor(value / 100.0) AS BIGINT)) AS BIGINT) AS l
           FROM events GROUP BY 1, 2, 3)
         SELECT CASE WHEN l = 1 THEN 'l=1' WHEN l = 2 THEN 'l=2'
                     WHEN l < 5 THEN 'l=3-4' ELSE 'l>=5' END AS l_bucket,
           count(*) AS n_cells, CAST(sum(l) AS BIGINT) AS sum_l
         FROM c GROUP BY 1""")

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
  row("q_mondrian_anon", qMondrianAnon) {
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
  }

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
  // DuckDB's native ASOF JOIN is the semantic spec the union+window
  // formulation must reproduce
  row("q_asof_join", qAsofJoin)(
    """WITH o AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.user_id AND epoch_us(e.ts) >= o.o_us""")

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
  // the native AsofJoinExec merge must equal DuckDB's ASOF LEFT JOIN,
  // including the matched order's own timestamp in the output
  row("q_asof_native", qAsofNative)(
    """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.o_us AS last_order_us, o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_user AND epoch_us(e.ts) >= o.o_us""")

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
  // the salted variant must be result-identical to the unsalted native
  // join — same ASOF oracle, salting invisible in the rows
  row("q_asof_salted", qAsofSalted)(
    """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price,
             count(*) AS last_order_n
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           o.o_us AS last_order_us, o.last_order_price, o.last_order_n
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_user AND epoch_us(e.ts) >= o.o_us""")

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
  // tolerance/forward variants have no native DuckDB ASOF form — the
  // oracle replays them as bounded arg_max/arg_min over the range join
  row("q_asof_tolerance", qAsofTolerance)(
    """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price
           FROM orders GROUP BY 1, 2),
         e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
         SELECT e.event_id, e.user_id, e.ts_us,
           CAST(arg_max(o.o_us, o.o_us) AS BIGINT) AS last_order_us,
           arg_max(o.last_order_price, o.o_us) AS last_order_price
         FROM e LEFT JOIN o ON e.user_id = o.o_user
           AND o.o_us <= e.ts_us AND e.ts_us - o.o_us <= 2592000000000
         GROUP BY 1, 2, 3""")

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
  row("q_asof_forward", qAsofForward)(
    """WITH o AS (SELECT o_custkey AS o_user, epoch_us(o_orderdate) AS o_us,
             round(max(o_totalprice), 2) AS last_order_price
           FROM orders GROUP BY 1, 2),
         e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
         SELECT e.event_id, e.user_id, e.ts_us,
           CAST(arg_min(o.o_us, o.o_us) AS BIGINT) AS next_order_us,
           arg_min(o.last_order_price, o.o_us) AS next_order_price
         FROM e LEFT JOIN o ON e.user_id = o.o_user
           AND o.o_us >= e.ts_us AND o.o_us - e.ts_us <= 7776000000000
         GROUP BY 1, 2, 3""")

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
  row("q_range_join", qRangeJoin)(
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS t, value FROM events),
         a AS (SELECT event_id AS anchor_id, t AS s FROM ev WHERE value > 300)
         SELECT a.anchor_id, count(*) AS n_events,
           round(sum(ev.value), 2) AS total_value
         FROM a JOIN ev ON ev.t >= a.s AND ev.t < a.s + 1800000000
         GROUP BY 1""")

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
  row("q_zorder_layout", qZorderLayout)(
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
         FROM f GROUP BY 1""")

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
  row("q_bucket_join", qBucketJoin)(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_e2
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""")

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
  row("q_rolling_window", qRollingWindow)(
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         count(*) OVER w AS n_1h, max(value) OVER w AS max_v_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")

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
  row("q_merge_upsert", qMergeUpsert)(
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
         SELECT o_orderkey, o_totalprice, version FROM r WHERE rn = 1""")

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
  row("q_merge_cdc", qMergeCdc)(
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
         WHERE rn = 1 AND op <> 'D'""")

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
  row("q_time_travel", qTimeTravel)(
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
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) FROM merged""")

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
      .join(requests, Seq("c_custkey"), "left_anti")
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
  row("q_rtbf_delete", qRtbfDelete)(
    """SELECT 1::BIGINT AS snapshot, count(*) AS n_rows,
           sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_requested_remaining,
           round(sum(c_acctbal), 2) AS acctbal_sum
         FROM customer
         UNION ALL
         SELECT 2::BIGINT, count(*),
           sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT,
           round(sum(c_acctbal), 2)
         FROM customer WHERE c_custkey % 97 <> 0""")

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
  row("q_delete_vectors", qDeleteVectors)(
    """SELECT 'base' AS view, count(*) AS n_rows,
           round(sum(c_acctbal), 2) AS acctbal_sum
         FROM customer
         UNION ALL
         SELECT 'mor', count(*), round(sum(c_acctbal), 2)
         FROM customer
         WHERE c_custkey % 97 <> 0 AND c_custkey % 101 <> 0""")

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
  // v1 must still answer like the pre-merge base after v2 publishes
  row("q_version_expire", qVersionExpire)(
    """SELECT 2::BIGINT AS version, count(*) AS n_rows
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT 3::BIGINT, count(*) FROM customer WHERE c_custkey % 3 = 0""")

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
  row("q_snapshot_diff", qSnapshotDiff)(
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
         FROM d WHERE status <> 'unchanged'""")

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
  row("q_schema_evolution", qSchemaEvolution)(
    """SELECT lang, count(*) AS n,
         count(CASE WHEN doc_id >= 250 THEN 1 END) AS n_evolved,
         CAST(sum(CASE WHEN doc_id >= 250 THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_evolved
         FROM documents GROUP BY 1""")

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
  row("q_orc_roundtrip", qOrcRoundtrip)(
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""")

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
  row("q_partitioned_prune", qPartitionedPrune)(
    """SELECT event_type AS etype, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
         FROM events WHERE event_type = 'purchase' GROUP BY 1""")

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
  row("q_jsonl_roundtrip", qJsonlRoundtrip)(
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""")

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
  // PERMISSIVE quarantine: corrupt rows (the planted 13th) roll up under
  // _corrupt with a null char sum; parsed rows group by their source
  row("q_bad_records", qBadRecords)(
    """SELECT CASE WHEN doc_id % 13 = 0 THEN '_corrupt' ELSE source END AS src,
           count(*) AS n,
           CAST(sum(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END)
             AS BIGINT) AS chars_sum
         FROM documents GROUP BY 1""")

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
  // the z-ordered rewrite must be lossless (same box-query answer as the
  // original table) and the z-values bit-exact (z_sum replays the
  // interleave); the layout property itself is asserted in BucketingSpec
  row("q_quarantine", qQuarantine)(
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
         FROM r GROUP BY 1""")

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
  row("q_grouping_sets", qGroupingSets)(
    """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")

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
  row("q_pivot", qPivot)(
    """SELECT user_id % 100 AS user_bucket,
           round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
           round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
           round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
           round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view
         FROM events GROUP BY 1""")

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
  row("q_csv_roundtrip", qCsvRoundtrip)(
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1""")

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
  row("q_lead_lag", qLeadLag)(
    """SELECT event_id, user_id, gap_us, next_type FROM (
           SELECT event_id, user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
             lag(epoch_us(ts)) OVER w AS prev_ts,
             lead(event_type) OVER w AS next_type
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         WHERE prev_ts IS NOT NULL""")

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
  row("q_incr_agg", qIncrAgg)(
    """SELECT o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1""")

  /** Click-funnel stage counts over the event stream: users who viewed,
    * then clicked strictly after their first view, then purchased
    * strictly after their first qualifying click — all comparisons at µs
    * resolution (the [[Shared.tsUs]] engine-parity contract). Each stage is one
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
  row("q_funnel", qFunnel)(
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
         UNION ALL SELECT '3_purchase', count(*) FROM p""")

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
  row("q_scd2", qScd2)(
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
         FROM ch""")

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
      .pinned() // three consumers: stats row, pair-left, pair-right
    val stats = daily.agg(avg(col("x")).as("mu"),
      (var_pop(col("x")) * count(lit(1))).as("denom"))
    val a = daily.select(col("day"), col("x").as("xa"),
      explode(array((1 to 7).map(lit(_)): _*)).as("lag"))
    val b = daily.select(col("day").as("b_day"), col("x").as("xb"))
    a.join(b, date_add(col("day"), col("lag")) === col("b_day"))
      .crossJoin(stats)
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        // nullif-guard: a constant series has var_pop 0, and ANSI-mode
        // double division by zero is a runtime ERROR in Spark 4, not NaN
        // — degrade to NULL acf (NULLIF in the oracle)
        round(sum((col("xa") - col("mu")) * (col("xb") - col("mu"))) /
          when(max(col("denom")) === 0.0, lit(null)).otherwise(max(col("denom"))),
          6).as("acf"))
  }
  row("q_acf", qAcf)(
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS x FROM orders GROUP BY 1),
         st AS (SELECT avg(x) AS mu, var_pop(x) * count(*) AS denom FROM daily),
         lg AS (SELECT unnest(range(1, 8)) AS lag),
         pr AS (SELECT l.lag, a.x AS xa, b.x AS xb
           FROM daily a CROSS JOIN lg l
           JOIN daily b ON b.day = a.day + l.lag::INT)
         SELECT lag, count(*)::BIGINT AS n_pairs,
           round(sum((xa - mu) * (xb - mu)) / NULLIF(max(denom), 0), 6) AS acf
         FROM pr CROSS JOIN st GROUP BY 1""")

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
      .pinned()
    val wTrend = Window.orderBy(col("dn")).rangeBetween(-3, 3)
    val trended = daily
      .withColumn("trend", avg(col("x")).over(wTrend))
      .withColumn("dow_idx", pmod(col("dn"), lit(7L)))
      .pinned() // feeds the seasonal means and the final join
    val seas = trended.groupBy(col("dow_idx"))
      .agg(avg(col("x") - col("trend")).as("s_raw"))
    val seasC = seas
      .crossJoin(seas.agg(avg(col("s_raw")).as("s_mean")))
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
  row("q_stl_decompose", qStlDecompose)(
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
         FROM tr t JOIN sc ON t.dow_idx = sc.dow_idx""")

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
      .pinned() // stats row + the filtered output
    val stats = withResid.agg(stddev_pop(col("resid")).as("sd"))
    withResid.crossJoin(stats)
      .select(col("day"), round(col("x"), 2).as("x"),
        // sd = 0 (constant remainder) → NULL z → filtered out below;
        // ANSI-mode double division by zero would otherwise ERROR
        round(col("resid") /
          when(col("sd") === 0.0, lit(null)).otherwise(col("sd")), 4).as("z"))
      .where(abs(col("z")) >= 2.5)
  }
  row("q_stl_anomalies", qStlAnomalies)(
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
         WHERE abs(round(resid / NULLIF(sd, 0), 4)) >= 2.5""")

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
      .pinned() // feeds group totals, global totals, and the grid
    val gTot = counts.groupBy(col("grp")).agg(sum(col("c")).as("gn"))
    val tot = counts.agg(sum(col("c")).as("n"), count_distinct(col("bucket")).as("m"))
    val q = counts.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
      .crossJoin(tot)
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
  row("q_t_closeness", qTCloseness)(
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
         FROM cum GROUP BY 1""")

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
      .pinned() // both sides of the pair join + the user total
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
      .crossJoin(tot)
      .where(col("n_users") >= lit(0.05) * col("nu"))
      .select(col("seq_a"), col("seq_b"), col("n_users"),
        round(col("n_users").cast("double") / col("nu"), 6).as("support"))
  }
  row("q_seq_mining", qSeqMining)(
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
         HAVING count(*) >= 0.05 * max(nu)""")

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
  row("q_qte", qQte)(
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
         FROM qs a JOIN qs b ON a.q = b.q AND a.gidx = 0 AND b.gidx = 1""")

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
  row("q_cohort_retention", qCohortRetention)(
    """WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
         SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
           count(DISTINCT ev.user_id) AS users
         FROM ev JOIN f ON ev.user_id = f.user_id
         GROUP BY 1, 2""")

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
  row("q_trend_fit", qTrendFit)(
    """SELECT c_nationkey, count(*) AS n_orders,
           round(covar_pop(x, y) / NULLIF(var_pop(x), 0), 4) AS slope,
           round(avg(y) - (covar_pop(x, y) / NULLIF(var_pop(x), 0)) * avg(x), 2)
             AS intercept
         FROM (SELECT c_nationkey,
             date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::DOUBLE AS x,
             o_totalprice AS y
           FROM orders JOIN customer ON o_custkey = c_custkey)
         GROUP BY 1""")

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
  row("q_array_hof", qArrayHof)(
    """SELECT l_orderkey, count(*) AS n_lines,
           sum(round(l_extendedprice * 100)::BIGINT *
               (100 - round(l_discount * 100)::BIGINT))::BIGINT AS revenue_e4,
           sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END)::BIGINT AS n_big
         FROM lineitem GROUP BY 1""")

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
  row("q_fifo_allocation", qFifoAllocation)(
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
           AND least(dhi, shi) - greatest(dhi - dq, shi - sq) > 0""")

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
  row("q_expectations", qExpectations)(
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
         FROM r""")

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
  row("q_argmax", qArgmax)(
    """SELECT c_nationkey, c_acctbal AS top_acctbal, c_custkey AS top_custkey
         FROM (SELECT c_nationkey, c_acctbal, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
           FROM customer)
         WHERE rn = 1""")

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
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("n_ab") / col("n_a"), 6).as("confidence"),
        round(col("n_ab") * col("n_orders") / (col("n_a") * col("n_b")), 6).as("lift"))
  }
  row("q_market_basket", qMarketBasket)(
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
         CROSS JOIN n""")

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
      .pinned() // two consumers: the triple mine + the order count
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
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("part_c"), col("n_abc"),
        round(col("n_abc").cast("double") / col("n_orders"), 6).as("support"))
  }
  row("q_basket_triples", qBasketTriples)(
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
         FROM tri""")

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
  row("q_holt_winters", qHoltWinters)(
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
         FROM steps CROSS JOIN ser WHERE i = n_weeks""")

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
  row("q_holt_backtest", qHoltBacktest)(
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
         FROM steps CROSS JOIN ser WHERE i = n_weeks""")

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
  row("q_msprt", qMsprt)(
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
         FROM v""")

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
  row("q_zscore_outliers", qZscoreOutliers)(
    """WITH j AS (SELECT c_nationkey, o_orderkey, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey),
         s AS (SELECT c_nationkey, avg(o_totalprice) AS m,
             stddev_pop(o_totalprice) AS sd
           FROM j GROUP BY 1)
         SELECT c_nationkey, o_orderkey,
           round((o_totalprice - m) / NULLIF(sd, 0), 4) AS z
         FROM j JOIN s USING (c_nationkey)
         WHERE abs(round((o_totalprice - m) / NULLIF(sd, 0), 4)) >= 1.65""")

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
  row("q_fuzzy_block", qFuzzyBlock)(
    """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 2""")

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
  row("q_linkage_score", qLinkageScore)(
    """WITH dn AS (SELECT DISTINCT p_brand, p_name FROM part)
         SELECT x.p_brand AS brand, x.p_name AS name_a, y.p_name AS name_b,
           round(jaro_winkler_similarity(x.p_name, y.p_name), 6) AS jw
         FROM dn x JOIN dn y
           ON x.p_brand = y.p_brand AND x.p_name < y.p_name
         WHERE round(jaro_winkler_similarity(x.p_name, y.p_name), 6) >= 0.92""")

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
  row("q_markov", qMarkov)(
    """WITH seq AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
           FROM events),
         c AS (SELECT event_type AS src_type, next_type AS dst_type,
             CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT src_type, dst_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY src_type) AS BIGINT), 6) AS p
         FROM c""")

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
  row("q_profile_stats", qProfileStats)(
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_custkey,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           min(o_orderdate::DATE) AS first_date,
           max(o_orderdate::DATE) AS last_date
         FROM orders""")

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
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(nat.select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("sk"))
      .join(nat.select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")),
        col("c_nationkey") === col("ck"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(sum(revE4).as("revenue_e4"))
  }
  row("q_nation_volume", qNationVolume)(
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
         GROUP BY 1, 2, 3""")

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
  row("q_semi_join", qSemiJoin)(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate::DATE > o.o_orderdate::DATE + 60)
         GROUP BY 1""")

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
  row("q_unpivot", qUnpivot)(
    """WITH w AS (SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, 'sum_qty' AS measure,
           sum_qty AS value FROM w
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_price' AS measure,
           sum_price AS value FROM w""")

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
    byNation.crossJoin(total)
      .select(col("c_nationkey"), col("revenue_e4"),
        // nz: an all-zero-price corpus zeroes the total — NULL share
        round(col("revenue_e4") / nz(col("total_e4")), 6).as("share"))
  }
  row("q_revenue_share", qRevenueShare)(
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
         FROM bn CROSS JOIN tot""")

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
  row("q_gap_fill", qGapFill)(
    """WITH ev AS (SELECT date_trunc('hour', ts) AS hour, event_type FROM events),
         actual AS (SELECT hour, CAST(count(*) AS BIGINT) AS n
           FROM ev WHERE event_type = 'purchase' GROUP BY 1),
         bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev),
         spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
           FROM bounds)
         SELECT spine.hour, coalesce(actual.n, 0) AS n_purchases
         FROM spine LEFT JOIN actual ON spine.hour = actual.hour""")

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
  row("q_cumulative_users", qCumulativeUsers)(
    """WITH f AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY 1),
         d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
         SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM d""")

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
  row("q_corr_matrix", qCorrMatrix)(
    """WITH a AS (SELECT
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6) AS qty_disc,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc
         FROM lineitem)
         SELECT 'qty_price' AS pair, qty_price AS r FROM a
         UNION ALL SELECT 'qty_disc' AS pair, qty_disc AS r FROM a
         UNION ALL SELECT 'price_disc' AS pair, price_disc AS r FROM a""")

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
      .join(bmax, Seq("bucket"), "left_outer")
      .where((col("same_d").isNull || col("same_d") <= col("d")) &&
        (col("hi_d").isNull || col("hi_d") <= col("d")))
      .select(col("o_orderkey"), col("price_e2"), col("d"))
  }
  row("q_skyline", qSkyline)(
    """WITH b AS (SELECT o_orderkey,
             round(o_totalprice * 100)::BIGINT AS price_e2,
             o_orderdate::DATE AS d
           FROM orders)
         SELECT o_orderkey, price_e2, d FROM b o
         WHERE NOT EXISTS (SELECT 1 FROM b x
           WHERE x.price_e2 > o.price_e2 AND x.d > o.d)""")

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
  row("q_seasonality", qSeasonality)(
    """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_value
         FROM events GROUP BY 1, 2""")

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
  row("q_cusum_shift", qCusumShift)(sqlCusumShift)

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
  row("q_mad_outliers", qMadOutliers)(
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
         GROUP BY 1""")

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
  row("q_benford", qBenford)(
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
         FROM e""")

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
  row("q_bitmap_distinct", qBitmapDistinct)(
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
         FROM events GROUP BY 1""")

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
  row("q_trailing_window", qTrailingWindow)(
    """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
             sum(round(value * 1000000.0, 0)::BIGINT)::BIGINT AS rev_e6
           FROM events GROUP BY 1, 2)
         SELECT event_type, day_id, rev_e6,
           sum(rev_e6) OVER (PARTITION BY event_type ORDER BY day_id
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT AS trailing7_e6
         FROM daily""")

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
  row("q_skew_diagnose", qSkewDiagnose) {
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
  row("q_bootstrap_ci", qBootstrapCi) {
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
  row("q_streaks", qStreaks)(
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
         FROM streaks GROUP BY 1""")

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
  // Independent oracle: brute-force windowed distinct (a range join per
  // day), NOT the engine's interval-coverage rewrite — so a coverage
  // logic error cannot self-confirm.
  row("q_sliding_distinct", qSlidingDistinct)(
    """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_id
           FROM events),
         dom AS (SELECT DISTINCT day_id + o AS day FROM days, range(0, 7) t(o))
         SELECT day AS day_id, count(DISTINCT user_id)::BIGINT AS active_users_7d
         FROM dom JOIN days ON day_id BETWEEN day - 6 AND day
         GROUP BY 1""")

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
    cum.crossJoin(tot)
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
  row("q_ks_stat", qKsStat)(
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
           tot1 AS n_purchase, tot2 AS n_click FROM best""")

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
  row("q_gini", qGini)(
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
           n AS n_customers FROM agg""")

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
    cum.crossJoin(tot)
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
  row("q_lorenz_deciles", qLorenzDeciles)(
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
         FROM agg, tt""")

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
    cum.crossJoin(tot)
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
  row("q_abc_classes", qAbcClasses)(
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
         FROM cum CROSS JOIN tot GROUP BY 1""")

  /** Log-log price elasticity of demand per brand: for every line,
    * x = ln(unit price), y = ln(quantity); elasticity is the OLS slope
    * `cov(x,y)/var(x)` — the [[qTrendFit]] sufficient-statistics device
    * pointed at the economist's regression. One aggregation pass over
    * the part-joined fact scan (brand dimension broadcast); no
    * iteration, no window.
    */
  private def qPriceElasticity(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
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
  row("q_price_elasticity", qPriceElasticity)(
    """SELECT p_brand, count(*)::BIGINT AS n_lines,
           round(covar_pop(ln(l_extendedprice / l_quantity), ln(l_quantity))
             / NULLIF(var_pop(ln(l_extendedprice / l_quantity)), 0),
             4) AS elasticity,
           round(avg(ln(l_extendedprice / l_quantity)), 4) AS avg_ln_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""")

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
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
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
  row("q_mix_effect", qMixEffect)(
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
         FROM agg""")

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
  // Independent oracle: the trailing weighted sum as a range self-join
  // per day, NOT the engine's forward-explode rewrite.
  row("q_ewma_anomaly", qEwmaAnomaly)(sqlEwmaAnomaly)

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
  row("q_cramers_v", qCramersV)(
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
         FROM terms""")

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
  row("q_sql_gateway", qSqlGateway)(sqlGatewayText)

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
  row("q_funnel_time", qFunnelTime)(
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         fv AS (SELECT user_id, min(us) AS view_us FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         conv AS (SELECT ev.user_id, fv.view_us, min(ev.us) AS buy_us
           FROM ev JOIN fv USING (user_id)
           WHERE ev.event_type = 'purchase' AND ev.us >= fv.view_us
           GROUP BY 1, 2)
         SELECT CAST((buy_us - view_us) // 3600000000 AS BIGINT) AS hours_bucket,
           CAST(count(*) AS BIGINT) AS n_users
         FROM conv GROUP BY 1""")

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
  row("q_attribution", qAttribution)(
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
         FROM rk GROUP BY 1""")

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
  row("q_time_decay_attribution", qTimeDecayAttribution)(
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
         FROM tk GROUP BY 1""")

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
  row("q_ab_srm_check", qAbSrmCheck)(
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
         FROM c""")

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
    arms.crossJoin(pooled)
      .select(col("arm"), col("n"),
        round(col("sy").cast("double") / col("n") / 100.0, 4).as("mean_y"),
        round((col("sy").cast("double") / col("n") -
          theta * (col("sx").cast("double") / col("n") -
            col("psx").cast("double") / col("pn"))) / 100.0, 4).as("mean_cuped"),
        round(theta, 6).as("theta"),
        round(covN * covN / nz(varXN * varYN), 6).as("rho2"))
  }
  row("q_ab_cuped", qAbCuped)(
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
         FROM arms CROSS JOIN pooled""")

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
  row("q_power_mde", qPowerMde)(
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
         FROM s""")

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
  row("q_winsorized_mean", qWinsorizedMean)(
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
         GROUP BY 1""")

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
  row("q_holt_forecast", qHoltForecast)(
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
         FROM steps CROSS JOIN ser WHERE i = n_weeks""")

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
  row("q_shapley_attribution", qShapleyAttribution)(
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
         FROM terms GROUP BY 1""")

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
    val lifetimes = per.crossJoin(maxd)
      .select((col("last_day") - col("first_day")).as("dur"),
        (col("last_day") > col("max_day") - 90).as("cens"))
    graft.operators.Marketing.kaplanMeier(lifetimes, "dur", "cens")
  }
  row("q_kaplan_meier", qKaplanMeier)(
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
         FROM d""")

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
  row("q_theilsen_trend", qTheilsenTrend)(
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
         FROM r WHERE rn = (np + 1) // 2""")

  /** RFM quintile segmentation of the order history
    * ([[graft.operators.Marketing.rfmSegments]]).
    */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.rfmSegments(t(s, dir, "orders"),
      "o_custkey", "o_orderdate", "o_totalprice")
  row("q_rfm_segments", qRfmSegments)(
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
         FROM sc GROUP BY 1, 2, 3""")

  /** RFM segmentation via exact histogram-cutpoint quintiles
    * ([[graft.operators.Marketing.rfmHistogramSegments]]) — the
    * no-global-window scale path beside `q_rfm_segments`' exact-ntile
    * variant: value-tied customers share a score, all rank arithmetic
    * rides the prefix-sum scan.
    */
  private def qRfmHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Marketing.rfmHistogramSegments(t(s, dir, "orders"),
      "o_custkey", "o_orderdate", "o_totalprice")
  row("q_rfm_histogram", qRfmHistogram)(
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
         GROUP BY 1, 2, 3""")

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
  row("q_shapley_sampled", qShapleySampled) {
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
  }

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
  row("q_stats_skipping", qStatsSkipping)(
    """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
           FROM events),
         r AS (SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi
           FROM b)
         SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events, r
         WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi
         GROUP BY 1""")

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

  /** Differentially-private per-type event counts: seeded-Laplace release
    * ([[graft.operators.Safety.dpNoisyCounts]], eps = 1) — the release
    * side of the privacy family (k-anonymity / l-diversity are the audit
    * side).
    */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Safety.dpNoisyCounts(
      t(s, dir, "events").select(col("event_type")), Seq("event_type"), 1.0)
  row("q_dp_counts", qDpCounts)(
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
         FROM u""")

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
  row("q_hll_distinct", qHllDistinct)(sqlHllDistinct)

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
      .pinned() // feeds the scalar totals and the PSI rows
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
      .crossJoin(tot)
      .select(col("event_type"), col("na"), col("nb"),
        round(term * 1000000.0, 0).cast("long").as("psi_e6"))
      .withColumn("total_psi_e6", sum(col("psi_e6")).over(w))
  }
  row("q_psi_drift", qPsiDrift)(
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
         FROM terms""")

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
      .pinned() // one key scan feeds the sketch AND exact F2
    val est = graft.operators.Sketches.amsF2(keys, col("h"))
    val exact = keys.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact_f2"))
    exact.crossJoin(est)
  }
  row("q_f2_selfjoin", qF2SelfJoin) {
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
  row("q_markov_attribution", qMarkovAttribution)(sqlMarkovAttribution)

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
  row("q_cohort_ltv", qCohortLtv)(
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
         FROM wk""")

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
  row("q_incrementality", qIncrementality)(
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
         FROM rates""")

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
  row("q_dpp_prune", qDppPrune)(
    """SELECT strftime(o_orderdate, '%Y-%m') AS omonth, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""")

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
  row("q_runtime_filter", qRuntimeFilter)(
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY 1""")

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
}
