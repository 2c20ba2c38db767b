package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a token stream (Cormode & Muthukrishnan '05) —
  * the fixed-size frequency summary a 100 TB corpus profile needs: the
  * sketch is `depth × width` integer cells regardless of corpus size, built
  * with ONE map-side-combinable aggregation (the shuffle carries at most
  * depth × width partial cells per partition, never token rows), and point
  * estimates are `min` over the token's `depth` cells — always an
  * overestimate, with error ≤ N·e/width at confidence 1 - e^-depth.
  *
  * The hash family reuses the minhash permutations
  * ([[Dedup.minhashCoeffs]]): bucket_i(tok) = ((a_i·ph(tok) + b_i) mod P)
  * mod width over the 30-bit polynomial string hash — pure 64-bit integer
  * arithmetic, bit-reproducible in any engine (the DuckDB oracle replays
  * the sketch exactly).
  */
object Sketches {

  /** The i-th CMS bucket of a pre-hashed token (`ph` in [0, MinhashP)). */
  private def bucket(ph: Column, i: Int, width: Int): Column = {
    val (a, b) = Dedup.minhashCoeffs(i + 1).last
    pmod(pmod(lit(a) * ph + lit(b), lit(Dedup.MinhashP)), lit(width))
  }

  /** Build the sketch table (row, bucket, c) from one token-occurrence
    * column: every occurrence fans out to `depth` (row, bucket) cells in a
    * single projection (no multi-pass union), then one count aggregation
    * collapses to ≤ depth × width rows.
    */
  def countMinSketch(tokens: DataFrame, tokenCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val ph = Dedup.shingleHash(col(tokenCol))
    tokens
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), bucket(ph, i, width).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** [[countMinSketch]] from a PRE-AGGREGATED (token, count) table —
    * identical sketch by linearity (a cell is the sum of the counts of the
    * tokens hashing into it), but the fan-out runs over the VOCABULARY
    * instead of every occurrence. The one-scan path when exact counts are
    * being computed anyway (checkpoint the counts and derive both).
    */
  def countMinSketchWeighted(tokenCounts: DataFrame, tokenCol: String,
      countCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    val ph = Dedup.shingleHash(col(tokenCol))
    tokenCounts
      .select(col(countCol).as("__n"),
        explode(array((0 until depth).map(i =>
          struct(lit(i).as("row"), bucket(ph, i, width).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum(col("__n")).as("c"))
  }

  /** Point-estimate the counts of `candidates(tokenCol, ...)` against a
    * sketch from [[countMinSketch]] (same depth/width): each candidate
    * probes its `depth` cells and takes the min. The sketch is at most
    * depth × width rows — the join broadcasts under AQE on its own.
    *
    * @return candidates' columns + `cms_est`
    */
  def cmsEstimate(candidates: DataFrame, sketch: DataFrame, tokenCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val keep = candidates.columns.toSeq
    require(!keep.contains("cms_est"),
      "candidates already carry a cms_est column — rename it first")
    val ph = Dedup.shingleHash(col(tokenCol))
    // working columns are __-prefixed so candidate columns named row/bucket/c
    // can't collide; the LEFT join keeps unoccupied cells as count 0 — a
    // candidate absent from the corpus estimates 0, per the CMS contract,
    // instead of vanishing (or min-ing over only its occupied cells)
    val probes = candidates
      .withColumn("__rb", explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), bucket(ph, i, width).as("bucket"))): _*)))
      .select(keep.map(col) :+ col("__rb.row").as("__row") :+
        col("__rb.bucket").as("__bucket"): _*)
    val sk = sketch.select(col("row").as("__row"), col("bucket").as("__bucket"),
      col("c").as("__c"))
    probes.join(sk, Seq("__row", "__bucket"), "left")
      .groupBy(keep.map(col): _*)
      .agg(min(coalesce(col("__c"), lit(0L))).as("cms_est"))
  }

  /** K-minimum-values distinct-count estimates (Bar-Yossef et al. '02) —
    * the DETERMINISTIC alternative to HyperLogLog (no RNG, no engine-
    * specific hash: the same 30-bit polynomial hash family as everything
    * else, so the DuckDB oracle replays the estimate bit for bit):
    * D̂ = (k-1)·M / h₍ₖ₎ over the k smallest distinct hash values per
    * group, with groups under k distinct values reported exactly.
    *
    * Plan shape: one partial-combinable DISTINCT on (group, hash) — the
    * shuffle is bounded by per-partition vocabulary, never occurrences —
    * then the k-minima per group ride the bounded
    * [[graft.functions.TopKAggregate]] (≤ k values per (group, partition)
    * cross the agg shuffle, no per-group sort). `exact_distinct` rides the
    * same aggregation for calibration/audit; a pure-estimate deployment
    * drops it and keeps only the k-bounded state.
    *
    * The polynomial hash of SHORT strings is far from uniform (a 3-char
    * token hashes below 31³·cp — KMV would wildly overestimate), so the
    * hash is passed through the affine permutation (a·h + b) mod P of the
    * minhash family first: a bijection of Z_P that scatters the small-hash
    * cluster across the full range, deterministic and oracle-replayable.
    *
    * @param hashCol hash of the counted expression, in [0, MinhashP)
    * @return (groupCol, exact_distinct, kmv_est)
    */
  def kmvDistinct(df: DataFrame, groupCol: String,
      hashCol: org.apache.spark.sql.Column, k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val (ca, cb) = Dedup.minhashCoeffs(1).head
    val mixed = pmod(lit(ca) * hashCol + lit(cb), lit(Dedup.MinhashP))
    // null hashes would count toward exact_distinct but never enter the
    // sketch (the top-k buffer skips nulls) — drop them so both sides agree
    val d = df.select(col(groupCol), mixed.as("__h"))
      .filter(col("__h").isNotNull).distinct()
    d.groupBy(col(groupCol))
      .agg(count(lit(1)).as("exact_distinct"),
        graft.functions.TopKAggregate.topKByScore(
          col("__h").cast("double") * -1, col("__h"), k).as("__mins"))
      .withColumn("kmv_est",
        when(size(col("__mins")) < k, col("exact_distinct"))
          .otherwise(expr(s"${(k - 1).toLong * Dedup.MinhashP}L div element_at(__mins, $k).id")))
      .drop("__mins")
  }

  /** Per-group KMV sketches MERGED into a global distinct estimate — the
    * mergeability property that makes sketches the 100 TB answer: each
    * group (think: one day's partition, one source's shard) keeps only its
    * k smallest distinct hashes, and the union over any set of groups is
    * re-sketched from those ≤ k·groups values WITHOUT revisiting a single
    * row — the global k-th-smallest hash is provably inside the union of
    * per-group k-minima. A year of daily sketches answers "distinct users
    * over any date range" from kilobytes.
    *
    * Plan shape: one distinct (group, h) pass feeds the per-group
    * aggregation (map-side-combinable top-k buffers, ≤ k values per
    * partition on the shuffle); the merge explodes only the sketch arrays
    * (≤ k·groups rows — driver-trivial) and the exact global count rides
    * the SAME distinct pass re-aggregated, so the corpus is scanned once.
    *
    * @return per group: (scope, exact_distinct, kmv_est); plus one
    *         ('__all__', global exact, merged-sketch est) row — the scope
    *         '__all__' is RESERVED (a real group stringifying to it would
    *         be indistinguishable from the global row)
    */
  def kmvMergedDistinct(df: DataFrame, groupCol: String,
      hashCol: org.apache.spark.sql.Column, k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val (ca, cb) = Dedup.minhashCoeffs(1).head
    val mixed = pmod(lit(ca) * hashCol + lit(cb), lit(Dedup.MinhashP))
    val d = df.select(col(groupCol).cast("string").as("scope"), mixed.as("__h"))
      .filter(col("__h").isNotNull).distinct()
      .pinned() // feeds per-group sketches AND the global exact
    def estimate(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = g
      .agg(count(lit(1)).as("exact_distinct"),
        graft.functions.TopKAggregate.topKByScore(
          col("__h").cast("double") * -1, col("__h"), k).as("__mins"))
      .withColumn("kmv_est",
        when(size(col("__mins")) < k, col("exact_distinct"))
          .otherwise(expr(s"${(k - 1).toLong * Dedup.MinhashP}L div element_at(__mins, $k).id")))
    val perGroup = estimate(d.groupBy(col("scope")))
    // the merge: re-sketch from the per-group sketch arrays alone (the
    // same hash can be a minimum of several groups — dedup first); the
    // exact side CANNOT be merged (that is the point of the sketch) and
    // re-aggregates the distinct pass
    val mergedSketch = perGroup
      .select(explode(col("__mins")).as("m")).select(col("m.id").as("__h"))
      .distinct()
    val globalExact = d.select(col("__h")).distinct()
    val global = estimate(mergedSketch.groupBy())
      .select(col("kmv_est"))
      .crossJoin(globalExact.agg(count(lit(1)).as("exact_distinct")))
      .select(lit("__all__").as("scope"), col("exact_distinct"), col("kmv_est"))
    perGroup.select(col("scope"), col("exact_distinct"), col("kmv_est"))
      .union(global)
  }

  /** KMV set RESEMBLANCE (Beyer et al. '07): pairwise Jaccard of group
    * value-sets estimated from the same k-min sketches
    * [[kmvMergedDistinct]] merges — `est = |S_k(A∪B) ∩ S_A ∩ S_B| / k'`
    * with `k' = min(k, |union sketch|)` (under-k unions are the full set,
    * so the estimate degrades to exact) — the "how much do these two
    * shards/days/sources overlap" question answered from kilobytes per
    * group instead of a corpus-scale posting join. The exact Jaccard
    * rides along for calibration via the vocabulary-bounded hash
    * self-join (the [[graft.SparkEntry]] c_source_overlap shape).
    *
    * Deterministic end to end (affine-permuted integer hashes, integer
    * 1e-6 ratios) — the DuckDB oracle replays sketch, merge, membership,
    * and the exact side bit for bit.
    *
    * @return (g_a, g_b, exact_jac_e6, kmv_jac_e6) for every group pair
    */
  def kmvSetSimilarity(df: DataFrame, groupCol: String,
      hashCol: org.apache.spark.sql.Column, k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val (ca, cb) = Dedup.minhashCoeffs(1).head
    val mixed = pmod(lit(ca) * hashCol + lit(cb), lit(Dedup.MinhashP))
    val d = df.select(col(groupCol).cast("string").as("g"), mixed.as("__h"))
      .filter(col("__h").isNotNull).distinct()
      .pinned() // feeds sketches, sizes, and the exact join
    val sk = d.groupBy(col("g"))
      .agg(graft.functions.TopKAggregate.topKByScore(
        col("__h").cast("double") * -1, col("__h"), k).as("__mins"))
      .select(col("g"), transform(col("__mins"), m => m.getField("id")).as("sk"))
    // #groups² pair rows of k-length arrays — driver-trivial at any corpus
    val pairs = sk.select(col("g").as("g_a"), col("sk").as("sk_a"))
      .join(sk.select(col("g").as("g_b"), col("sk").as("sk_b")),
        col("g_a") < col("g_b"))
    val est = pairs
      .withColumn("__u", array_sort(array_union(col("sk_a"), col("sk_b"))))
      .withColumn("__kk", least(lit(k), size(col("__u"))))
      .withColumn("__inter", size(array_intersect(
        slice(col("__u"), lit(1), col("__kk")),
        array_intersect(col("sk_a"), col("sk_b")))))
      .select(col("g_a"), col("g_b"),
        expr("__inter * 1000000L div __kk").as("kmv_jac_e6"))
    val sizes = d.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = d.select(col("g").as("g_a"), col("__h"))
      .join(d.select(col("g").as("g_b"), col("__h")),
        Seq("__h")).where(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b")).agg(count(lit(1)).as("ni"))
    est
      .join(inter, Seq("g_a", "g_b"), "left_outer")
      .join(sizes.select(col("g").as("g_a"), col("n").as("na")), "g_a")
      .join(sizes.select(col("g").as("g_b"), col("n").as("nb")), "g_b")
      .select(col("g_a"), col("g_b"),
        expr("coalesce(ni, 0L) * 1000000L div (na + nb - coalesce(ni, 0L))")
          .as("exact_jac_e6"),
        col("kmv_jac_e6"))
  }

  /** HyperLogLog distinct-count estimates (Flajolet, Fusy, Gandouet &
    * Meunier '07) — the REGISTER-based mergeable cardinality sketch, the
    * complement of [[kmvDistinct]]: fixed `2^p` registers per group
    * regardless of cardinality (KMV keeps k VALUES; HLL keeps max
    * leading-zero ranks), so a year of per-day sketches is `2^p` bytes-ish
    * per day and any date-range union is a register-wise max.
    *
    * Deterministic cross-engine, like every sketch here: register index and
    * rank come from two independent affine permutations of the 30-bit
    * polynomial hash ([[Dedup.minhashCoeffs]] — pure 64-bit integer
    * arithmetic), the rank is exact integer bit-length (`31 - len(bin(h))`,
    * no float log), and the harmonic sum is kept as an EXACT integer in
    * units of 2^-31 (`sum(1 << (31-rho))`, ≤ 2^43 for p ≤ 16 — inside
    * int64), so the only floating-point steps are the final one-division
    * estimate and the linear-counting `ln`. The DuckDB oracle replays
    * registers, sum, and branch bit for bit.
    *
    * Estimator notes: the permuted hash is uniform on [0, P) with
    * P = 1000000007 just under 2^30, which scales the geometric tail by
    * 2^30/P; the closed-form correction (×P/2^30) is folded into the
    * scale constant. Small cardinalities take the standard linear-counting
    * branch (V = empty registers; E = m·ln(m/V) when E ≤ 2.5m).
    *
    * Plan shape: one DISTINCT on (group, hash) feeds registers AND the
    * exact calibration count (the corpus is scanned once); the register
    * table is map-side combinable and bounded by groups × 2^p rows; the
    * '__all__' union row re-aggregates REGISTERS only — no second corpus
    * pass, the mergeability being demonstrated. A pure-estimate deployment
    * drops the exact column and aggregates registers straight off
    * occurrences (max is idempotent — no distinct needed).
    *
    * @param hashCol 30-bit cross-engine hash of the counted expression
    *                (e.g. [[Dedup.shingleHash]]), in [0, MinhashP)
    * @param p       register-count exponent (m = 2^p), 7 ≤ p ≤ 16
    * @return per group: (scope, exact_distinct, hll_est); plus one
    *         ('__all__', global exact, merged-register est) row — scope
    *         '__all__' is RESERVED, as in [[kmvMergedDistinct]]
    */
  /** alpha_m * m^2 * 2^31 (the exact-integer harmonic-sum scale) * P/2^30
    * (the non-power-of-two hash-range correction) — ONE Scala-side double,
    * shared with the oracle SQL so both engines divide the identical
    * literal by the identical integer sum.
    */
  def hllScaleNum(p: Int): Double = {
    val m = 1 << p
    0.7213 / (1 + 1.079 / m) * m * m *
      2147483648.0 * (Dedup.MinhashP / 1073741824.0)
  }

  /** HLL register index of a 30-bit hash: the first affine permutation mod
    * 2^p. Public so a STREAMING maintenance query can keep the same
    * registers a batch replay reproduces.
    */
  def hllRegister(hashCol: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column = {
    val (a1, b1) = Dedup.minhashCoeffs(2).head
    pmod(pmod(lit(a1) * hashCol + lit(b1), lit(Dedup.MinhashP)),
      lit((1L << p)))
  }

  /** HLL rank (leading-zero count + 1 over the 30-bit window) of the second
    * affine permutation — exact integer bit-length via `bin()`, no float.
    */
  def hllRank(hashCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (a2, b2) = Dedup.minhashCoeffs(2)(1)
    val h2 = pmod(lit(a2) * hashCol + lit(b2), lit(Dedup.MinhashP))
    when(h2 === 0, lit(31)).otherwise(lit(31) - length(bin(h2)))
  }

  /** Fold a register table (columns: the group keys + `rho`, one row per
    * occupied register, absent registers = zero) into the HLL estimate —
    * the exact-integer harmonic sum, the raw/linear-counting branch, and
    * the round(…,4) finish. The register table is the MERGEABLE state: a
    * union of shards or of streaming micro-batch outputs re-aggregated by
    * register-wise `max(rho)` finishes through this same fold.
    */
  def hllEstimate(regTable: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val scaleNum = hllScaleNum(p)
    val lcGate: Double = 2.5 * m
    regTable
      .groupBy(groupCols.map(col): _*)
      .agg(sum(expr("shiftleft(1L, 31 - rho)")).as("__sp"),
        count(lit(1)).as("__present"))
      .withColumn("__S",
        col("__sp") + (lit(m.toLong) - col("__present")) * lit(2147483648L))
      .withColumn("__V", lit(m.toLong) - col("__present"))
      .withColumn("__raw", lit(scaleNum) / col("__S").cast("double"))
      .withColumn("hll_est", round(
        when(col("__V") > 0 && col("__raw") <= lit(lcGate),
          lit(m.toDouble) * log(lit(m.toDouble) / col("__V").cast("double")))
          .otherwise(col("__raw")), 4))
      .select((groupCols.map(col) :+ col("hll_est")): _*)
  }

  def hllDistinct(df: DataFrame, groupCol: String,
      hashCol: org.apache.spark.sql.Column, p: Int = 12): DataFrame = {
    require(p >= 7 && p <= 16, s"p in [7,16], got $p")
    val d = df.select(col(groupCol).cast("string").as("scope"), hashCol.as("__h"))
      .filter(col("__h").isNotNull).distinct()
      .pinned() // feeds registers AND both exact counts
    val regs = d.select(col("scope"), hllRegister(col("__h"), p).as("__reg"),
        hllRank(col("__h")).as("__rho"))
      .groupBy(col("scope"), col("__reg")).agg(max(col("__rho")).as("rho"))
      .pinned() // feeds per-scope AND the '__all__' merge
    val perScope = hllEstimate(regs, Seq("scope"), p)
      .join(d.groupBy(col("scope")).agg(count(lit(1)).as("exact_distinct")),
        Seq("scope"))
    val merged = hllEstimate(
        regs.groupBy(col("__reg")).agg(max(col("rho")).as("rho")), Seq(), p)
      .crossJoin(d.select(col("__h")).distinct()
        .agg(count(lit(1)).as("exact_distinct")))
      .select(lit("__all__").as("scope"), col("exact_distinct"), col("hll_est"))
    perScope.select(col("scope"), col("exact_distinct"), col("hll_est"))
      .union(merged)
  }

  /** AMS "tug-of-war" second-frequency-moment estimate (Alon, Matias &
    * Szegedy '96): F2 = Σ_k f_k² — the SELF-JOIN SIZE of a key column, the
    * one number that says whether a join/groupBy key is safe or a skew
    * bomb before you pay for the shuffle. The sketch is `d` signed
    * counters z_i = Σ_k f_k·s_i(k) with 4-wise-ish signs from the affine
    * hash family; each z_i² is an unbiased F2 estimate and the mean over
    * `d` counters is reported (integer division — exact cross-engine).
    *
    * ONE map-side-combinable aggregation: every row adds ±1 to d running
    * sums, so the shuffle carries d longs per partition — no groupBy on
    * the key, no per-key state, the 100 TB plan by construction. All
    * arithmetic is 64-bit integer (signs from `(a_i·h+b_i) mod P <
    * P div 2`, squares ≤ (Σf)², sum ≤ d·(Σf)²), so the DuckDB oracle
    * replays it bit for bit. Std error ≈ F2·√(2/d).
    *
    * @param hashCol 30-bit cross-engine hash of the key (e.g.
    *                [[Dedup.shingleHash]]), in [0, MinhashP)
    * @return one row: (ams_f2_est) — callers join exact F2 for calibration
    */
  /** The d ±1 sign expressions of the AMS family — public so a STREAMING
    * aggregation can maintain the same counters a batch replay reproduces.
    */
  def amsSigns(hashCol: org.apache.spark.sql.Column,
      d: Int): Seq[org.apache.spark.sql.Column] = {
    val half = Dedup.MinhashP / 2
    Dedup.minhashCoeffs(d).map { case (a, b) =>
      when(pmod(lit(a) * hashCol + lit(b), lit(Dedup.MinhashP)) < half,
        lit(1L)).otherwise(lit(-1L))
    }
  }

  /** Mean-of-squares finish over counter columns z0..z{d-1} (integer
    * division — exact cross-engine).
    */
  def amsF2FromZ(d: Int): org.apache.spark.sql.Column =
    expr(s"(${(0 until d).map(i => s"z$i * z$i").mkString(" + ")}) div $d")

  def amsF2(df: DataFrame, hashCol: org.apache.spark.sql.Column,
      d: Int = 32): DataFrame = {
    require(d >= 2, s"AMS needs d >= 2 counters, got $d")
    val signs = amsSigns(hashCol, d)
    val zs = df.agg(sum(signs.head).as("z0"),
      signs.tail.zipWithIndex.map { case (sg, i) => sum(sg).as(s"z${i + 1}") }: _*)
    zs.select(amsF2FromZ(d).as("ams_f2_est"))
  }

  /** Distributed quantile ESTIMATES from an equi-width histogram — the
    * no-global-sort answer to "give me p50/p95/p99 of a 100 TB column":
    * one map-side-combinable count per bin (shuffle carries ≤ #bins partial
    * rows per partition, never values), then the estimate for quantile q
    * (given in PER MILLE, so rank arithmetic is integer-exact cross-engine)
    * is the LEFT EDGE of the first bin whose cumulative count reaches
    * rank = ceil(q·N / 1000). Error is bounded by `binWidth` by
    * construction — deterministic, unlike sampling sketches, so the DuckDB
    * oracle replays it exactly.
    *
    * The assignment runs entirely inside a window pass over the aggregated
    * histogram (≤ #bins rows — the single-partition window is bounded by
    * the bin count, never the data): a bin answers exactly the quantiles
    * whose rank falls in (cum - n, cum], tested divison-free as
    * q·N > 1000·prev AND q·N ≤ 1000·cum — no theta join, no driver loop.
    *
    * Values must be non-negative; `binWidth` sets the resolution/state
    * trade (state = range/binWidth cells).
    *
    * @param quantilesPerMille e.g. Seq(500, 950, 990) for p50/p95/p99
    * @return (q_pm, est) one row per requested quantile
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, binWidth: Double,
      quantilesPerMille: Seq[Int]): DataFrame = {
    require(quantilesPerMille.nonEmpty &&
      quantilesPerMille.forall(q => q > 0 && q <= 1000))
    // nulls would form a nulls-first bin that absorbs the lowest ranks and
    // answers quantiles with est = null — quantiles are over non-null values
    val hist = df.select(floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val qlit = array(quantilesPerMille.map(q => lit(q.toLong)): _*)
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("qs", filter(qlit, q =>
        q * col("total") > (col("cum") - col("n")) * 1000 &&
          q * col("total") <= col("cum") * 1000))
      .select(explode(col("qs")).as("q_pm"), (col("bin") * binWidth).as("est"))
  }

  /** Per-GROUP [[histogramQuantiles]]: one (group, bin) count pass, then
    * the same division-free rank assignment inside per-group windows — the
    * "p50/p95/p99 of every segment" question with NO per-group sort of
    * values and window state bounded by bins-per-group, never rows. The
    * group key partitions both windows, so the single-partition-window
    * caveat of the global variant disappears: this is the form that
    * scales ACROSS groups at 100 TB.
    *
    * @return (groupCol, q_pm, est) — one row per (group, requested quantile)
    */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, binWidth: Double,
      quantilesPerMille: Seq[Int]): DataFrame = {
    require(quantilesPerMille.nonEmpty &&
      quantilesPerMille.forall(q => q > 0 && q <= 1000))
    val hist = df.select(col(groupCol),
        floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val qlit = array(quantilesPerMille.map(q => lit(q.toLong)): _*)
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("qs", filter(qlit, q =>
        q * col("total") > (col("cum") - col("n")) * 1000 &&
          q * col("total") <= col("cum") * 1000))
      .select(col(groupCol), explode(col("qs")).as("q_pm"),
        (col("bin") * binWidth).as("est"))
  }

  /** EXACT distinct count of an integer id per group via bitmap-OR — the
    * roaring-style device: each id sets one bit in a 32-bit word keyed by
    * its arithmetic-shifted high bits, `bit_or` is map-side combinable
    * (unlike count(DISTINCT)'s Expand), and the popcount sum is exact.
    * The shuffle carries ≤ |ids|/32 masked words per group instead of
    * every (group, id) pair — what makes exact cardinality affordable at
    * 100 TB when the key space is dense INTEGERS (HLL/KMV above cover the
    * sparse/string case). Bit math is sign-safe for the full long range:
    * `shiftright(id, 5)` is a floor division and `id & 31` the matching
    * non-negative residue, so negative ids land in distinct (word, bit)
    * slots — `div 32`/`pmod` would collide −1 with 31.
    */
  def bitmapDistinct(df: DataFrame, groupCols: Seq[String],
      idCol: String): DataFrame =
    df.select(groupCols.map(col) :+
        expr(s"shiftright($idCol, 5)").as("word") :+
        expr(s"shiftleft(1L, cast($idCol & 31 as int))").as("bit"): _*)
      .groupBy((groupCols :+ "word").map(col): _*)
      .agg(expr("bit_or(bit)").as("mask"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(expr("bit_count(mask)").cast("long")).as("n_distinct"))
}
