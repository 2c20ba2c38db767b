package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-safety and privacy-release operators for corpus curation:
  * typed PII detection (with checksum validation, not just pattern
  * shape), high-entropy secret/credential detection, and
  * differentially-private count release.
  *
  * These extend the engine's privacy family (PII hashing for upload
  * parity with the reference's `hasher.py`, k-anonymity / l-diversity
  * audits) toward the scrubbing side: before a corpus ships to training,
  * the pipeline must KNOW what identifiers it carries — a 16-digit run
  * that passes a Luhn check is a different risk class than a random
  * number, and an entropy spike inside a code corpus is how leaked API
  * keys are actually caught (detect-secrets' base heuristic).
  *
  * Everything here is pure column expressions over integer or
  * order-pinned double arithmetic, so the DuckDB oracle replays results
  * bit-for-bit; nothing leaves whole-stage codegen.
  */
object Safety {

  /** Typed PII detector patterns — RE2-compatible (Java and DuckDB agree). */
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  /** 16 digits not embedded in a longer run: card-shaped candidate. */
  val CardPattern = "\\b[0-9]{16}\\b"

  /** Luhn checksum over a 16-digit string column — the mod-10 validation
    * real card numbers satisfy. Pure integer fold over fixed positions
    * (from the right, every second digit doubles, >9 subtracts 9), so any
    * engine reproduces it exactly. Returns null for non-16-digit input.
    */
  def luhnValid16(digits: Column): Column = {
    // position i (1-based from the LEFT of a 16-char string): right-index
    // r = 17 - i; r even → doubled digit.
    val terms = sequence(lit(1), lit(16))
    val total = aggregate(terms, lit(0),
      (acc, i) => {
        val d = substring(digits, 1, 16).substr(i, lit(1)).cast("int")
        val doubled = d * 2
        acc + when(((lit(17) - i) % 2) === 0,
          when(doubled > 9, doubled - 9).otherwise(doubled)).otherwise(d)
      })
    when(digits.isNotNull && length(digits) === 16, total % 10 === 0)
  }

  /** Typed PII scan: per document, counts of email / IPv4 matches, the
    * first card-shaped (16-digit) candidate with its Luhn verdict, and a
    * composite risk score (a Luhn-VALID card weighs 3, shape-only finds
    * weigh 1 each). One narrow projection pass — the regexes run inside
    * codegen, nothing shuffles.
    */
  def piiScan(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val card = regexp_extract(txt, CardPattern, 0)
    val cardOrNull = when(card =!= "", card)
    docs.select(
      col(idCol),
      size(regexp_extract_all(txt, lit(graft.functions.TextAnalysis.EmailPattern), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(txt, lit(Ipv4Pattern), lit(0))).cast("long").as("n_ipv4"),
      coalesce(luhnValid16(cardOrNull), lit(false)).as("luhn_valid"))
      .withColumn("risk_score",
        (col("n_email") + col("n_ipv4") +
          when(col("luhn_valid"), 3L).otherwise(0L)).cast("long"))
  }

  /** High-entropy token detection (secret/credential scanning): explode
    * whitespace tokens, keep candidates of at least `minLen` characters
    * (the cheap length gate prunes ~all prose BEFORE any per-character
    * work — at corpus scale this filter is what makes the operator
    * viable), and compute each candidate's Shannon character entropy in
    * nats. Tokens at or above `minNats` are flagged.
    *
    * Entropy is an order-pinned fold: per-character counts come from one
    * grouped aggregation, the -Σ p·ln p fold runs over characters sorted
    * by codepoint — both engines sum in the same order, so the doubles
    * match bit-for-bit before the output rounding.
    *
    * Returns one row per candidate token: (id, tok_pos, tok_len,
    * entropy_nats rounded 1e-6, flagged).
    */
  def secretScan(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, minNats: Double = 2.2): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("tok_pos", "tok")))
      .filter(length(col("tok")) >= minLen)
    val chars = toks.select(col("id"), col("tok_pos"),
        length(col("tok")).cast("double").as("len"),
        explode(split(col("tok"), "")).as("ch"))
      .groupBy(col("id"), col("tok_pos"), col("len"), col("ch"))
      .agg(count(lit(1)).cast("double").as("n"))
    chars.groupBy(col("id"), col("tok_pos"), col("len"))
      .agg(sort_array(collect_list(struct(col("ch"), col("n")))).as("cs"))
      .select(col("id"), col("tok_pos"),
        col("len").cast("long").as("tok_len"),
        round(aggregate(col("cs"), lit(0.0),
          (acc, e) => acc - (e.getField("n") / col("len")) *
            log(e.getField("n") / col("len"))), 6).as("entropy_nats"))
      .withColumn("flagged", col("entropy_nats") >= minNats)
  }

  /** SEEDED PSEUDO-DP count release (NON-PRIVATE when `nonce` is empty —
    * replayable for oracles/audits, NOT a privacy guarantee): group by
    * `keys`, add Laplace noise of scale 1/eps to each count (sensitivity 1
    * for a count-per-partition release). With the default empty `nonce`
    * the noise is an inverse-CDF transform of a deterministic, publicly
    * computable content hash of the key — anyone can recompute and
    * subtract it, so the release carries the DP MECHANISM but ZERO
    * effective privacy; that determinism is exactly what lets two engines
    * hash-match the release. Production use MUST pass a secret `nonce`,
    * FRESH PER RELEASE: it is mixed into the hash as keyed material, and
    * reusing it across releases would hand every key per-nonce-constant
    * noise, which breaks DP composition.
    *
    * u = (h + 0.5) / m  ∈ (0,1)  with h a MIXED 30-bit poly hash of the
    * key (Knuth multiplicative step after the rolling hash — the raw poly
    * hash maps near-identical keys to CONSECUTIVE integers, which would
    * hand adjacent groups near-identical noise; the a·h+c mod p step
    * spreads a unit hash delta to a ~0.65 jump in u),
    * noise = -(1/eps)·sign(u-0.5)·ln(1 - 2·|u-0.5|)  — standard Laplace
    * inverse CDF. One map-side-combinable aggregation; noise is a scalar
    * expression on the grouped result.
    */
  def dpNoisyCounts(df: DataFrame, keys: Seq[String], eps: Double,
      nonce: String = ""): DataFrame = {
    require(eps > 0, s"dpNoisyCounts: eps must be positive, got $eps")
    val keyStr = concat_ws("", keys.map(col): _*)
    // empty nonce keeps the historical "dp:" prefix byte-identical (the
    // replayable form both engines hash); a secret nonce keys the hash
    val h0 = Dedup.shingleHash(concat(
      lit(if (nonce.isEmpty) "dp:" else s"dp:$nonce:"), keyStr))
    val h = pmod(h0 * lit(2654435761L) + lit(11L), lit(1000000007L))
    val u = (h.cast("double") + lit(0.5)) / lit(1000000007.0)
    val centered = u - lit(0.5)
    val noise = (lit(-1.0) / eps) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
      .select(keys.map(col) :+
        round(col("n_true") + noise, 4).as("n_dp"): _*)
  }

  /** Mondrian multidimensional k-anonymity GENERALIZATION (LeFevre et
    * al., ICDE'06) — the fix for what [[graft.SparkEntry]]'s
    * `q_k_anonymity` audit only reports: recursively median-split the
    * quasi-identifier space, round-robin over the dimensions, accepting a
    * split only when BOTH children keep ≥ k rows, then publish each leaf
    * cell as (ranges, count). Every published cell holds ≥ k rows by
    * construction (the k-anonymity guarantee, assuming the input has
    * ≥ k rows).
    *
    * Deterministic and oracle-replayable: the split point is the exact
    * p·(n−1)-interpolated median (the percentile rule both engines
    * share), ties go left (v ≤ median), and the dimension order is fixed
    * — an unrolled SQL replica takes the identical splits.
    *
    * Scale shape: each round derives the medians from a (cell, value)
    * COUNT frame + a per-cell cumulative walk (value-grain state — no
    * task ever buffers a cell's raw rows, unlike the percentile()
    * aggregate) + ONE aggregation over (cell, side) for the child sizes;
    * both are 2^round-bounded outputs broadcast-joined back; rows shuffle
    * only on their cell id. Nothing row-scale ever reaches the driver.
    *
    * @param dims  numeric quasi-identifier columns (cast to double)
    * @param k     minimum rows per published cell
    * @param rounds maximum split depth (≤ 2^rounds cells)
    * @return one row per leaf cell: cell id, n, and per-dim lo/hi bounds
    *         (`<dim>_lo`, `<dim>_hi`)
    */
  def mondrianCells(df: DataFrame, dims: Seq[String], k: Int,
      rounds: Int): DataFrame = {
    require(dims.nonEmpty && k >= 1 && rounds >= 0,
      s"dims=$dims k=$k rounds=$rounds")
    var cur = df.select(dims.map(d => col(d).cast("double").as(d)): _*)
      .withColumn("cell", lit(0L))
    var r = 0
    while (r < rounds) {
      val dim = dims(r % dims.length)
      // Exact median via the VALUE-GRAIN device (opt guide §5: the
      // percentile() aggregate buffers EVERY group row in task memory —
      // |rows|/2^round per task; the (cell, value)-count frame plus a
      // per-cell cumulative walk keeps state at distinct-value grain and
      // spills gracefully). The interpolation replicates Spark's
      // Percentile bit-for-bit: pos = 0.5·(n−1) over the 0-based sorted
      // positions, v_lo/v_hi = the values covering floor(pos)/ceil(pos),
      // result = (ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi (identical
      // operand order), NULLs ignored exactly as percentile() ignores
      // them — so every split value, and every downstream hash, is
      // unchanged.
      val vc = cur.where(col(dim).isNotNull)
        .groupBy(col("cell"), col(dim).as("v")).agg(count(lit(1)).as("c"))
      val cum = vc
        .withColumn("cumc", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cell")).orderBy(col("v"))))
        .withColumn("n", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
      val pos = lit(0.5) * (col("n") - 1L).cast("double")
      val med = cum.groupBy(col("cell")).agg(
          min(when(col("cumc") > floor(pos).cast("long"), col("v"))).as("vlo"),
          min(when(col("cumc") > ceil(pos).cast("long"), col("v"))).as("vhi"),
          max(pos).as("pos"))
        .select(col("cell"),
          when(floor(col("pos")) === ceil(col("pos")), col("vlo"))
            .otherwise((ceil(col("pos")) - col("pos")) * col("vlo") +
              (col("pos") - floor(col("pos"))) * col("vhi")).as("med"))
      // left_outer: a cell whose rows are ALL null on `dim` has no median
      // row — its rows must survive with med = NULL (side 1, split never
      // ok) exactly as the percentile() form kept them.
      val sided = cur.join(med, Seq("cell"), "left_outer")
        .withColumn("side", when(col(dim) <= col("med"), 0L).otherwise(1L))
      val ok = sided.groupBy(col("cell"))
        .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("nl"),
          sum(when(col("side") === 1L, 1L).otherwise(0L)).as("nr"))
        .select(col("cell"),
          (col("nl") >= k && col("nr") >= k).as("split_ok"))
      cur = sided.join(ok, "cell")
        .withColumn("cell",
          when(col("split_ok"), col("cell") * 2L + col("side"))
            .otherwise(col("cell") * 2L))
        .drop("med", "side", "split_ok")
        // per-round lineage cut (the pageRank discipline): round r's TWO
        // broadcast-agg subqueries (med, ok) each hang off `cur` — without
        // the pin every round re-executes the whole prior chain inside
        // each subquery, a ~3^rounds subtree blowup (opt guide §2.4)
        .pinned()
      r += 1
    }
    val aggs = count(lit(1)).as("n") +:
      dims.flatMap(d => Seq(min(col(d)).as(s"${d}_lo"),
        max(col(d)).as(s"${d}_hi")))
    cur.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
  }
}
