package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Marketing-analytics operators over the event stream and order history —
  * the measurement side of the reference's domain (the reference UPLOADS
  * conversions to ad platforms; these operators answer what those
  * conversions were worth and which touches earned them).
  *
  * Both operators are single-pass window/aggregate compositions: no
  * driver-side iteration, no cross joins, shuffles only on the analysis
  * keys (user for attribution, customer for RFM).
  */
object Marketing {

  /** Position-based (U-shaped) multi-touch attribution.
    *
    * Each conversion event is credited to the touch events that preceded
    * it — a touch belongs to the NEXT conversion of the same user after
    * it (strictly later timestamp), so the user's timeline is segmented
    * by conversions and no touch is double-counted. Within a conversion's
    * touch set, ordered by time: a single touch takes full credit, two
    * touches split evenly, otherwise first and last take 40% each and the
    * middle shares the remaining 20% equally (the standard U-shape).
    *
    * Plan: one union of touches and conversions, one descending-time
    * window pass per user computes each touch's owning conversion (a
    * running min over conversion timestamps — O(timeline) per user, no
    * join), one window pass ranks touches within their conversion, one
    * aggregation folds credit per channel. Two shuffles total (user key,
    * then channel key); at 100 TB both keys are high-cardinality and
    * skew-bounded by per-user timeline length.
    *
    * @param events      (userCol, tsCol µs, idCol, typeCol)
    * @param touchTypes  event types that can earn credit
    * @param convType    the conversion event type
    * @return (channel, n_touches, credit) — credit rounded 1e-4
    */
  def attributeU(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String,
      touchTypes: Seq[String], convType: String): DataFrame = {
    val base = events.select(col(userCol).as("u"), col(tsCol).as("t"),
      col(idCol).as("eid"), col(typeCol).as("ch"))
    val tagged = base
      .filter(col("ch").isin(touchTypes: _*) || col("ch") === convType)
      // side 0 = conversion, 1 = touch: in the DESCENDING time walk below,
      // a touch at the same timestamp as a conversion must come FIRST so
      // the running min has not yet seen that conversion (strict "touch
      // before conversion" semantics).
      .withColumn("side", when(col("ch") === convType, 0).otherwise(1))
    val wDesc = Window.partitionBy(col("u"))
      .orderBy(col("t").desc, col("side").desc, col("eid").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withConv = tagged
      .withColumn("conv_t",
        min(when(col("side") === 0, col("t"))).over(wDesc))
      .filter(col("side") === 1 && col("conv_t").isNotNull)
    val wSeg = Window.partitionBy(col("u"), col("conv_t"))
      .orderBy(col("t"), col("eid"))
    val credited = withConv
      .withColumn("pos", row_number().over(wSeg))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("u"), col("conv_t"))))
      .withColumn("credit",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2)))
    credited.groupBy(col("ch").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit")), 4).as("credit"))
  }

  /** TIME-DECAY multi-touch attribution — the recency-weighted
    * complement to [[attributeU]]'s position weights: a touch `Δ` before
    * its conversion earns `0.5^floor(Δ / halfLife)` credit (piecewise-
    * constant exponential decay with integer exponents, capped at
    * 2^-`maxK`).
    *
    * Why integer exponents: `0.5^k` for integer k is a dyadic rational —
    * EXACTLY representable in a double, and sums of (bounded-count,
    * ≥2^-maxK) dyadic terms are exact in ANY summation order. A
    * continuous `exp(-λΔ)` would hash-diverge across engines at the last
    * ulp and make the channel totals order-dependent; this variant is
    * bit-deterministic end to end, the same trade
    * [[graft.SparkEntry]]'s exact-integer scan family makes.
    *
    * Plan shape: identical to [[attributeU]] — same conversion-ownership
    * window walk, one extra pure-column weight expression, two shuffles.
    *
    * @param halfLifeUs  decay half-life in the timestamp column's units
    * @return (channel, n_touches, credit) — credit rounded 1e-4
    */
  def attributeTimeDecay(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String,
      touchTypes: Seq[String], convType: String,
      halfLifeUs: Long, maxK: Int = 40): DataFrame = {
    require(halfLifeUs > 0, "halfLifeUs must be positive")
    require(maxK > 0 && maxK < 62, "maxK must be in (0, 62)")
    val base = events.select(col(userCol).as("u"), col(tsCol).as("t"),
      col(idCol).as("eid"), col(typeCol).as("ch"))
    val tagged = base
      .filter(col("ch").isin(touchTypes: _*) || col("ch") === convType)
      .withColumn("side", when(col("ch") === convType, 0).otherwise(1))
    val wDesc = Window.partitionBy(col("u"))
      .orderBy(col("t").desc, col("side").desc, col("eid").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withConv = tagged
      .withColumn("conv_t",
        min(when(col("side") === 0, col("t"))).over(wDesc))
      .filter(col("side") === 1 && col("conv_t").isNotNull)
    // exact integer exponent: subtract the remainder BEFORE dividing so
    // the double division is exactly divisible (floor(long/long) would
    // round through an inexact double quotient)
    val delta = col("conv_t") - col("t")
    val k = least((delta - pmod(delta, lit(halfLifeUs))) / lit(halfLifeUs),
      lit(maxK.toDouble)).cast("int")
    // column-valued shift via SQL (the Scala shiftleft wrapper only takes
    // a literal bit count); 1L << k is the exact dyadic denominator
    val credit = lit(1.0) / expr("shiftleft(1L, __decay_k)").cast("double")
    withConv.withColumn("__decay_k", k)
      .groupBy(col("ch").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(credit), 4).as("credit"))
  }

  /** RFM segmentation: per-customer Recency (most recent order day),
    * Frequency (order count), Monetary (total spend), each scored into
    * quintiles, rolled up to segment cells.
    *
    * Determinism: monetary is rounded to cents BEFORE ranking so the
    * quintile order is identical cross-engine (double summation order
    * differs between engines at the 1e-12 level — ranking raw sums would
    * flicker); every ntile order carries the customer key as final
    * tiebreak, making the quintile assignment a total order.
    *
    * Scale note: the three ntile windows are UNPARTITIONED — a global
    * sort over one row per customer. That is |customers|, not |orders|
    * (the orders table is pre-aggregated first), so the window input is
    * the small frame — and the bound is now ENFORCED at run time, not
    * just documented: when the per-customer frame exceeds
    * `maxExactCustomers`, the call dispatches to
    * [[rfmHistogramSegments]] — the exact cent-grain histogram-cutpoint
    * variant with no global window anywhere (also gated directly as
    * `q_rfm_histogram`) whose only semantic difference is at quintile
    * ties (histogram: tied metric values share a score; ntile: ties
    * split by customer key). The gate is one extra count() action at
    * customer grain — cheap next to the global sort it guards, and above
    * the bound the histogram path dominates anyway.
    *
    * @return (r_score, f_score, m_score, n_customers, avg_monetary,
    *         total_monetary) — one row per populated RFM cell
    */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
      amountCol: String, maxExactCustomers: Long = 50_000_000L): DataFrame = {
    val perCust = orders.groupBy(col(custCol).as("cust"))
      .agg(max(col(dateCol).cast("date")).as("last_day"),
        count(lit(1)).as("freq"),
        round(sum(col(amountCol)), 2).as("monetary"))
    if (perCust.count() > maxExactCustomers)
      return rfmHistogramSegments(orders, custCol, dateCol, amountCol)
    val scored = perCust
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("last_day").desc, col("cust"))).cast("long"))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq").desc, col("cust"))).cast("long"))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monetary").desc, col("cust"))).cast("long"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("monetary")), 2).as("avg_monetary"),
        round(sum(col("monetary")), 2).as("total_monetary"))
  }

  /** RFM segmentation at any customer count — the scale path next to
    * [[rfmSegments]]'s exact-ntile variant: scores come from exact
    * HISTOGRAM-cutpoint quintiles over the value grain instead of a
    * global window sort. Per dimension, the per-customer metric collapses
    * to a value-grain count table (recency: epoch day; frequency: order
    * count; monetary: exact cents), [[Scan.groupedValueRanks]] attaches
    * each distinct value's cumulative customer count, and the score is
    * `ceil(5·cum/n)` — so customers SHARING a metric value share a score
    * (the histogram semantics; ntile splits ties by customer key), and
    * higher always means better (more recent / more frequent / more
    * spend).
    *
    * Plan shape: one |orders|→|customers| aggregation, three value-grain
    * groupBys + prefix-sum scans, three equi-joins back on the metric
    * value. No window anywhere touches more than a partition slice; all
    * rank arithmetic is exact integer.
    *
    * @return (r_score, f_score, m_score, n_customers, avg_monetary,
    *         total_monetary) — one row per populated RFM cell
    */
  def rfmHistogramSegments(orders: DataFrame, custCol: String,
      dateCol: String, amountCol: String): DataFrame = {
    val perCust = orders.groupBy(col(custCol).as("cust"))
      .agg(max(expr(s"unix_micros(cast($dateCol AS timestamp)) " +
          "div 86400000000")).as("r"),
        count(lit(1)).as("f"),
        round(sum(col(amountCol)), 2).as("monetary"))
      .withColumn("m", round(col("monetary") * 100.0, 0).cast("long"))
      .pinned() // four consumers: three score builds + the final join
    // histogram quintile scores: value-grain counts → cumulative customer
    // count → score = ceil(5·cum/n) ∈ 1..5, ties share a score. All THREE
    // dimensions ride ONE [[Scan.groupedValueRanks]] scan, dimension-
    // indexed (r=0, f=1, m=2): the scan's range partitioning is on
    // gidx·2^42 + value, so groups stay contiguous and each dimension's
    // cum_grp/n_grp are identical to a per-dimension scan — while the
    // union pays ONE range shuffle + ONE pin + ONE offsets collect
    // instead of three of each (three prefixSum materializations were
    // ~2/3 of this operator's wall time).
    val dims = Seq("r" -> 0L, "f" -> 1L, "m" -> 2L)
    val vc = dims.map { case (metric, g) =>
      perCust.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("cnt")).select(lit(g).as("g"), col("v"), col("cnt"))
    }.reduce(_ unionByName _)
    val ranked = Scan.groupedValueRanks(vc, "g", "v", "cnt")
      .withColumn("score", expr("(5 * cum_grp + n_grp - 1) div n_grp"))
    def scoresOf(metric: String, g: Long): DataFrame =
      ranked.where(col("g") === g)
        .select(col("v").as(metric), col("score").as(s"${metric}_score"))
    perCust
      .join(scoresOf("r", 0L), Seq("r"))
      .join(scoresOf("f", 1L), Seq("f"))
      .join(scoresOf("m", 2L), Seq("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("monetary")), 2).as("avg_monetary"),
        round(sum(col("monetary")), 2).as("total_monetary"))
  }

  /** Exact Shapley-value attribution over the observed channel coalitions
    * (Zhao/Mahboobi/Bagheri '18's cooperative-game formulation): the
    * characteristic value of a coalition S is the conversion rate among
    * users whose ENTIRE touched-channel set lies within S (cumulative
    * exposure — v(∅) is the no-touch baseline, v(N) the overall rate), and
    * each channel's credit is its exact Shapley sum
    * Σ_S |S|!(n−1−|S|)!/n! · (v(S∪{i}) − v(S)). The subset-cumulative v
    * satisfies the dummy axiom BY CONSTRUCTION: a channel nobody touches
    * has v(S∪{i}) = v(S) everywhere and earns exactly zero (the
    * exact-set/zero-default variant hands dummies negative credit).
    *
    * Determinism contract: v is rounded to an integer 1e9-ratio FIRST
    * (round-half-up in pure integer arithmetic), so the Shapley sum is an
    * integer combination of integers — order-free, bit-identical on any
    * engine; the single double division happens once at the end.
    *
    * Plan shape: ONE data-scale aggregation (per-user bitmask + converted
    * flag), one coalition rollup (≤2^n rows), then driver arithmetic over
    * those ≤2^n integers — the same bounded-driver contract as
    * [[markovRemovalAttribution]]'s absorption loop. `n ≤ 8` keeps the
    * exact enumeration and the a_m·Δ products safely inside long range;
    * larger channel sets take [[sampledShapley]] (real attribution setups
    * run 10–30 channels).
    *
    * @return (channel, shapley_e9, shapley) — shapley_e9 is the exact
    *         integer numerator over n!·1e9; shapley = its rounded double
    */
  def shapleyAttribution(events: DataFrame, userCol: String, typeCol: String,
      channels: Seq[String], convType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 8,
      s"exact Shapley enumerates 2^n coalitions; got n=${channels.size}, max 8")
    require(channels.distinct.size == channels.size, "duplicate channel")
    val spark = events.sparkSession
    val n = channels.size
    val maskAgg = channels.zipWithIndex.map { case (c, i) =>
      max(when(col("ch") === c, lit(1L << i)).otherwise(lit(0L)))
    }.reduce(_ + _)
    val observed = events.select(col(userCol).as("u"), col(typeCol).as("ch"))
      .groupBy(col("u"))
      .agg(maskAgg.as("mask"),
        max(when(col("ch") === convType, 1L).otherwise(0L)).as("conv"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("nu"), sum(col("conv")).as("k"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap // exact-mask (nu, k) — ≤2^n rows of bounded metadata
    // cumulative coalition value: users whose whole mask fits inside s;
    // v9 = round-half-up(k/nu) in integer 1e9ths, 0 on an empty coalition
    val v9 = (0 until (1 << n)).map(_.toLong).map { s =>
      // .toSeq first: collecting (nu, k) PAIRS straight off the Map would
      // rebuild a Map keyed by nu and silently drop colliding coalitions
      val (nu, k) = observed.toSeq.collect {
        case (m, nk) if (m & ~s) == 0L => nk
      }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      s -> (if (nu == 0L) 0L else (2L * k * 1000000000L + nu) / (2L * nu))
    }.toMap
    def fact(m: Int): Long = (1 to m).foldLeft(1L)(_ * _)
    val shap = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1L << i
      val e9 = (0 until (1 << n)).map(_.toLong).filter(s => (s & bit) == 0L)
        .map { s =>
          val a = fact(java.lang.Long.bitCount(s)) *
            fact(n - 1 - java.lang.Long.bitCount(s))
          a * (v9(s | bit) - v9(s))
        }.sum
      (c, e9)
    }
    import spark.implicits._
    shap.toDF("channel", "shapley_e9")
      .select(col("channel"), col("shapley_e9"),
        round(col("shapley_e9").cast("double") /
          lit(fact(n) * 1.0e9), 6).as("shapley"))
  }

  /** Permutation-sampled Shapley attribution — [[shapleyAttribution]]
    * past exact's n ≤ 8 wall (real setups run 10–30 channels): draw m
    * DETERMINISTIC permutations, average each channel's marginal
    * v(prefix ∪ {i}) − v(prefix) over them. Same cumulative-exposure game
    * and integer-1e9 coalition values as exact, so per permutation the
    * efficiency axiom holds EXACTLY (the marginals telescope to
    * v(N) − v(∅)) and an untouched channel earns exactly zero.
    *
    * Replayability: permutation p orders channel i by the fixed LCG key
    * ((p+1)·1103515245 + i·12345) mod (2^31−1), ties by i — pure integer
    * arithmetic any engine reproduces; no RNG state anywhere.
    *
    * Plan shape: ONE data-scale aggregation (per-user bitmask → per-mask
    * counts, ≤2^n rows but in practice the observed-combination count);
    * the ≤2·m·n distinct sampled coalitions broadcast against that mask
    * table for a containment aggregation (`mask & s = mask` — the one
    * non-equi join, build side metadata-sized by construction); the
    * Shapley sums then fold ≤2·m·n integers on the driver, exactly like
    * exact's ≤2^n fold.
    *
    * @param perms number of sampled permutations m (≥1)
    * @return (channel, shapley_e9, shapley) — shapley_e9 is the exact
    *         integer marginal sum over m·1e9; shapley = its rounded double
    */
  def sampledShapley(events: DataFrame, userCol: String, typeCol: String,
      channels: Seq[String], convType: String, perms: Int): DataFrame = {
    require(channels.nonEmpty && channels.size <= 62,
      s"bitmask game needs n <= 62, got ${channels.size}")
    require(channels.distinct.size == channels.size, "duplicate channel")
    require(perms >= 1, "need at least one permutation")
    val spark = events.sparkSession
    val n = channels.size
    val maskAgg = channels.zipWithIndex.map { case (c, i) =>
      max(when(col("ch") === c, lit(1L << i)).otherwise(lit(0L)))
    }.reduce(_ + _)
    val masks = events.select(col(userCol).as("u"), col(typeCol).as("ch"))
      .groupBy(col("u"))
      .agg(maskAgg.as("mask"),
        max(when(col("ch") === convType, 1L).otherwise(0L)).as("conv"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("nu"), sum(col("conv")).as("k"))
    // deterministic permutations + their prefix coalitions (driver-side,
    // m·n tuples of metadata)
    val trip: Seq[(Int, Int, Long)] = (0 until perms).flatMap { p =>
      val order = (0 until n).sortBy(i =>
        (((p + 1).toLong * 1103515245L + i.toLong * 12345L) % 2147483647L, i))
      var pref = 0L
      order.map { i => val row = (p, i, pref); pref |= (1L << i); row }
    }
    val coals = trip.flatMap { case (_, i, pref) =>
      Seq(pref, pref | (1L << i)) }.distinct
    import spark.implicits._
    // v(s) over the DISTRIBUTED mask table: INNER containment join so the
    // broadcast-built side is the metadata-sized coalition list (an outer
    // non-equi join would force Spark to build the data-scale mask side);
    // coalitions no observed mask fits into simply produce no row and
    // default to v = 0 at lookup. v9 = round-half-up(k/nu) in integer
    // 1e9ths, the same ratio arithmetic as exact.
    val v9 = masks.join(coals.toDF("s"),
        col("mask").bitwiseAND(col("s")) === col("mask"))
      .groupBy(col("s"))
      .agg(sum(col("nu")).as("nu"), sum(col("k")).as("k"))
      .select(col("s"), expr("(2 * k * 1000000000 + nu) div (2 * nu)").as("v9"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shap = channels.zipWithIndex.map { case (c, i) =>
      val e9 = trip.collect { case (_, `i`, pref) =>
        v9.getOrElse(pref | (1L << i), 0L) - v9.getOrElse(pref, 0L) }.sum
      (c, e9)
    }
    shap.toDF("channel", "shapley_e9")
      .select(col("channel"), col("shapley_e9"),
        round(col("shapley_e9").cast("double") /
          lit(perms * 1.0e9), 6).as("shapley"))
  }

  /** Kaplan-Meier survival curve with right-censoring — the standard
    * churn/retention estimator: at each distinct event (death) time t,
    * S(t) = Π_{t_i ≤ t} (1 − d_i / r_i), where d_i deaths at t_i and r_i
    * subjects still at risk (duration ≥ t_i, censored included until they
    * leave). Censored subjects contribute to the risk sets but never to
    * deaths — dropping them instead is THE classic retention-curve bias.
    *
    * Determinism contract: each factor's ln((r−d)/r) is computed from an
    * exact long-ratio double and rounded to an integer 1e12-ratio BEFORE
    * the cumulative sum, so the running product is an integer prefix sum —
    * order-free cross-engine — and only the final exp/round is floating.
    * r = d (everyone left at the last time) short-circuits to exactly 0.
    *
    * Plan shape: one duration-valued aggregation (the data term), then
    * windows over DISTINCT durations only — bounded by the observation
    * range in days, not by subjects, the same distinct-value-bounded
    * global-window contract as the Lorenz deciles.
    *
    * @param lifetimes one row per subject: (durCol integral, censCol bool)
    * @return (t, n_at_risk, n_deaths, survival) — death times only
    */
  def kaplanMeier(lifetimes: DataFrame, durCol: String,
      censCol: String): DataFrame = {
    val lt = lifetimes.select(col(durCol).cast("long").as("t"),
      col(censCol).cast("boolean").as("cens"))
    val g = lt.groupBy(col("t")).agg(count(lit(1)).as("n_all"),
      sum(when(not(col("cens")), 1L).otherwise(0L)).as("n_deaths"))
    val wPrev = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    val total = lt.agg(count(lit(1)).as("total"))
    g.crossJoin(total)
      .withColumn("at_risk",
        col("total") - coalesce(sum(col("n_all")).over(wPrev), lit(0L)))
      .filter(col("n_deaths") > 0)
      .withColumn("term_e12",
        when(col("at_risk") === col("n_deaths"), lit(0L)).otherwise(
          round(log((col("at_risk") - col("n_deaths")).cast("double") /
            col("at_risk").cast("double")) * 1e12, 0).cast("long")))
      .withColumn("survival",
        when(col("at_risk") === col("n_deaths"), lit(0.0)).otherwise(
          round(exp(sum(col("term_e12")).over(wCum).cast("double") / 1e12), 6)))
      .select(col("t"), col("at_risk").as("n_at_risk"), col("n_deaths"),
        col("survival"))
  }

  /** Markov removal-effect attribution (Anderl et al. '14 — the
    * "data-driven attribution" model): each user's journey is the ordered
    * event sequence up to their FIRST conversion (absorbed in CONV) or to
    * its end (absorbed in DROP); channel credit is the removal effect —
    * how much the START→CONV absorption probability falls when the
    * channel is deleted from the chain (its inbound transitions redirect
    * to DROP, its outbound rows vanish; no renormalization, per the
    * standard model).
    *
    * Determinism contract: transition probabilities are integer
    * 1e6-ratios, and absorption runs as `iters` finite-horizon power
    * steps in INTEGER arithmetic — `a_k(s) = (Σ_d p_e6(s,d)·a_{k-1}(d))
    * div 1e6` — so every engine (and the DuckDB oracle's unrolled CTE
    * chain) reproduces the numbers bit for bit; integer summation makes
    * the per-state fold order-independent, which a double-valued chain
    * would not be.
    *
    * Plan shape: ONE distributed window pass builds journeys and
    * transition counts (the q_markov sort, reused discipline); the chain
    * itself is (channels+2)² rows — bounded METADATA, so the power steps
    * and the per-channel removal scenarios run on the driver over ≤ ~50
    * integers, the same bounded-driver contract as kCenterGreedy/MMR.
    *
    * @param events (userCol, tsCol µs-long, idCol, typeCol)
    * @return (channel, removal_effect_e6, share_e6), one row per channel
    *         observed as a journey source
    */
  def markovRemovalAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, convType: String,
      iters: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = events.sparkSession
    val base = events.select(col(userCol).as("u"), col(tsCol).as("t"),
      col(idCol).as("eid"), col(typeCol).as("ch"))
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
    val pos = base.withColumn("pos", row_number().over(w))
      .pinned() // feeds first-purchase, journeys, and starts
    val fp = pos.filter(col("ch") === convType)
      .groupBy(col("u")).agg(min(col("pos")).as("fp"))
    val journey = pos.join(fp, Seq("u"), "left")
      .filter(col("fp").isNull || col("pos") < col("fp"))
      .pinned() // two window passes below share one build
    val wj = Window.partitionBy(col("u")).orderBy(col("pos"))
    val tr = journey
      .withColumn("dst", coalesce(lead(col("ch"), 1).over(wj),
        when(col("fp").isNotNull, lit("CONV")).otherwise(lit("DROP"))))
      .select(col("ch").as("src"), col("dst"))
    val starts = journey
      .withColumn("rn", row_number().over(wj)).filter(col("rn") === 1)
      .select(lit("START").as("src"), col("ch").as("dst"))
    val directConv = fp.filter(col("fp") === 1)
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    val edges = tr.union(starts).union(directConv)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), expr("n * 1000000L div tot").as("p_e6"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    def absorb(es: Seq[(String, String, Long)]): Long = {
      val transient = es.map(_._1).distinct
      var a = Map.empty[String, Long]
      def v(st: String): Long =
        if (st == "CONV") 1000000L
        else if (st == "DROP") 0L
        else a.getOrElse(st, 0L)
      for (_ <- 1 to iters)
        a = transient.map(s => s ->
          es.collect { case (`s`, d, pe) => pe * v(d) }.sum / 1000000L).toMap
      a.getOrElse("START", 0L)
    }
    val aBase = absorb(edges)
    val channels = edges.map(_._1).filter(_ != "START").distinct.sorted
    val re = channels.map { c =>
      val removed = edges.filter(_._1 != c)
        .map { case (s, d, pe) => (s, if (d == c) "DROP" else d, pe) }
      val aRem = absorb(removed)
      c -> (if (aBase > 0) (aBase - aRem) * 1000000L / aBase else 0L)
    }
    val reTot = re.map(_._2).sum
    import spark.implicits._
    re.map { case (c, r) =>
      (c, r, if (reTot > 0) r * 1000000L / reTot else 0L)
    }.toDF("channel", "removal_effect_e6", "share_e6")
  }
}
