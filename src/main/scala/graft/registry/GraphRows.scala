package graft.registry

import graft.util.Checkpoints._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.registry.Shared._

/** Registry rows `g_*`: graph analytics. */
object GraphRows extends Family {

  /** Nation-level trade graph: customer-nation → supplier-nation edges
    * weighted by line revenue — the shared edge derivation of
    * [[qPagerank]] and its oracle. Supplier is the genuine small
    * dimension (broadcast); the fact-side joins shuffle on their keys.
    */
  private def nationTradeEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
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
    pr.join(nat, pr("id") === nat("n_nationkey"))
      .select(col("n_name"), round(col("rank"), 8).as("pr"))
  }
  row("g_pagerank", qPagerank) {
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
    ha.join(nat, ha("id") === nat("n_nationkey"))
      .select(col("n_name"), round(col("hub"), 7).as("hub"),
        round(col("authority"), 7).as("authority"))
  }
  row("g_hits", gHits) {
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
  }

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
    tc.join(nat, tc("id") === nat("n_nationkey"))
      .select(col("n_name"), col("n_triangles"))
  }
  row("g_triangles", qTriangles)(
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
         FROM corners JOIN nation ON id = n_nationkey GROUP BY 1""")

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
    coOrderEdgesCanonRaw(s, dir).distinct().pinned()

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
  row("g_reach_hops", qReachHops)(
    """WITH RECURSIVE e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         r AS (SELECT p_partkey AS id, 0 AS h FROM part WHERE p_partkey = 1
           UNION
           SELECT e.dst AS id, r.h + 1 AS h
           FROM r JOIN e ON e.src = r.id WHERE r.h < 3)
         SELECT id, CAST(min(h) AS BIGINT) AS hops FROM r GROUP BY 1""")

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
  row("g_harmonic", gHarmonic)(
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
         FROM c""")

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
      .pinned()
    val e = half.union(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    graft.operators.Graph.personalizedPageRank(
        t(s, dir, "part"), "p_partkey", e, "src", "dst", "w",
        t(s, dir, "part").where(col("p_partkey") === 1), "p_partkey",
        iterations = 3)
      .select(col("id"), round(col("rank"), 8).as("ppr"))
  }
  row("g_ppr", gPpr) {
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
  row("g_temporal_reach", gTemporalReach) {
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
  row("g_sssp_weighted", gSsspWeighted) {
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
  row("g_hash_walks", gHashWalks) {
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
  row("g_communities", qCommunities)(
    s"""WITH $sqlLpaCtes
         SELECT id, label FROM r$LpaRounds""")

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
  row("g_kcore", gKcore)(sqlKcore)

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
  row("g_modularity", gModularity)(
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
         FROM ns LEFT JOIN ie USING (community) CROSS JOIN mmod""")

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
  row("g_community_rollup", qCommunityRollup)(
    s"""WITH $sqlLpaCtes,
         rev AS (SELECT l_partkey AS id,
             CAST(sum(round(l_extendedprice * 100)::BIGINT *
               (100 - round(l_discount * 100)::BIGINT)) AS BIGINT) AS rev_e4
           FROM lineitem GROUP BY 1)
         SELECT label AS community, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(coalesce(rev.rev_e4, 0)) AS BIGINT) AS revenue_e4
         FROM r$LpaRounds r LEFT JOIN rev USING (id)
         GROUP BY 1 HAVING count(*) >= 5""")

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
  row("g_node_similarity", gNodeSimilarity)(
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
         FROM j ORDER BY jaccard_e6 DESC, id_a, id_b LIMIT 20""")

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
      .pinned() // nbr join + the node-grain sums
    // count-gated join strategy (a row count, not a size estimate):
    // while the node-grain degree table is small (≤4M nodes) the planner
    // sizes it from the pin's stored bytes and broadcasts it when it fits,
    // which keeps the edge list — the 100 TB side — from being shuffled
    // AND sorted for this join (measured: the sort-merge path added ~150 s
    // at the sf10 decade). Beyond the gate the node side takes a
    // SHUFFLE_HASH hint, not the default sort-merge: hash-building the
    // node-grain table per partition keeps the edge list from ever being
    // SORTED. This gate flip was the real fourth-decade discontinuity:
    // sf10 (2M nodes) rode the broadcast, sf30 (6M nodes) fell into a
    // 1.9B-row edge sort that read as "2.5x above edge-linear" in the
    // round-11 probe before its GC drag was even counted. The count is a
    // metadata-cheap scan of the just-checkpointed table (the pageRank
    // nCount precedent).
    val degSmall = deg.select(col("id").as("nid"), col("deg").as("nd"))
    val degHinted = if (deg.count() <= 4000000L) degSmall
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
  row("g_assortativity", gAssortativity)(
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
         FROM s""")

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
      .pinned() // histogram + tail scalar
    val dmin = 64
    val tail = deg.where(col("degree") >= dmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("degree").cast("double") / dmin)).as("sum_ln"))
    val alphaRow = tail.select(col("n_tail"),
      when(col("sum_ln") > 0.0,
        round(lit(1.0) + col("n_tail").cast("double") / col("sum_ln"), 4))
        .otherwise(lit(null).cast("double")).as("alpha_hill"))
    deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(alphaRow)
  }
  row("g_degree_dist", gDegreeDist)(
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
         FROM deg CROSS JOIN al GROUP BY 1, 3, 4""")

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
    val e = nationTradeEdges(s, dir).where(col("w") >= 1500000.0).pinned()
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long")
      .as("n_wedges"))
    val tri = graft.operators.Graph.triangleCounts(e, "src", "dst")
      .agg((sum(col("n_triangles")) / 3).cast("long").as("n_triangles"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("global_cc"))
  }
  row("g_clustering_coeff", qClusteringCoeff)(
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
         FROM tri CROSS JOIN w""")

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
    // the lineitem self-join replays ~170x (measured 18.8 s vs 1.2 s at
    // sf0.1)
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
}
