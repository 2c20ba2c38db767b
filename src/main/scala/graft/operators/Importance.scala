package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.KernelExpressions

/** DSIR-style data selection with importance resampling (Xie et al. '23):
  * score every document by how much its hashed-token distribution looks
  * like a TARGET slice of the corpus versus the corpus at large, so
  * curation can up-weight target-like documents without a trained
  * classifier.
  *
  * Made INTEGER-EXACT for cross-engine replay (same device as
  * [[NgramLm]]): instead of summing float log-ratios, each token
  * occurrence contributes the add-one-smoothed frequency ratio of its
  * hashed bucket as a 1e-6-scaled integer,
  * `term(b) = ((target_count(b) + 1) * 1e6) div (raw_count(b) + 1)`, and
  * the document score is the integer mean of its occurrences' terms —
  * monotone in the same direction as the DSIR log-likelihood ratio.
  *
  * Scale shape (100 TB): the model is ONE map-side-combinable aggregation
  * into `width` buckets (KBs, independent of corpus size — the conditional
  * count rides the same shuffle as the raw count via a `when` sum), the
  * scoring join broadcasts the model, and the corpus text is
  * read once per phase with only (id, bucket) rows ever shuffled.
  */
object Importance {

  /** Score scale: terms are ratio × 1e6, floored. */
  val Scale = 1000000L

  /** Hashed unigram bucket: 30-bit poly hash of the surface token mod
    * `width` — reproducible in the DuckDB oracle.
    */
  private def bucketed(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, width: Int): DataFrame =
    docs.select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(KernelExpressions.wordNgramStrings(col(textCol), 1)).as("tok"))
      .select(col("id"), col("tgt"),
        pmod(Dedup.shingleHash(col("tok")), lit(width)).as("b"))

  /** Per-document importance scores against the target slice defined by
    * `isTarget` (a boolean Column over `docs`' columns). Token-less
    * documents score (n_tokens = 0, dsir_score = 0).
    *
    * @return (id, n_tokens, dsir_score)
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, width: Int = 1024): DataFrame = {
    val occ = bucketed(docs, idCol, textCol, isTarget, width)
    val model = occ.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"))
      .select(col("b"), expr(s"(tc + 1) * $Scale div (rc + 1)").as("term"))
    // every observed bucket is in the model by construction => inner join
    val scored = occ.join(model, Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("term")).as("s"))
      .select(col("id"), col("n_tokens"), expr("s div n_tokens").as("dsir_score"))
    docs.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_score"), lit(0L)).as("dsir_score"))
  }

  /** Token-mixture sampling: select documents so the KEPT tokens match a
    * target source mixture (the DoReMi/Pile-style "X% web, Y% books, Z%
    * code" recipe), scaled to the LARGEST total the corpus can supply —
    * the binding source is taken whole, every other source downsamples to
    * its proportional share.
    *
    * All budget arithmetic is integer (weights are ratios, budgets are
    * floor-divided token counts) and selection order inside a source is the
    * deterministic content hash of `source:id` — reproducible cross-engine
    * and cross-run, no RNG state. Per-source token totals are one
    * map-side-combinable aggregation; the budget table is |weights| rows
    * (broadcast by AQE); selection is the same per-source cumulative-window
    * pass as the token-budget curation — one shuffle on the source key.
    * A skewed source is bounded by its own window, and at 100 TB the
    * window's sort can be replaced by the bucketed layout
    * ([[graft.io.Bucketing]]) like any other per-key pass.
    *
    * Sources absent from `weights` are dropped.
    *
    * @param tokenCol expression giving each doc's token count
    * @return (id, source, n_tokens, cum_tokens, budget) — the kept docs
    */
  def mixtureSample(docs: DataFrame, idCol: String, srcCol: String,
      tokenCol: org.apache.spark.sql.Column,
      weights: Seq[(String, Long)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "mixtureSample: weights must be non-empty with positive masses — " +
        "an empty corpus has no sources to mix (callers should " +
        "short-circuit empty-in to empty-out)")
    require(weights.map(_._1).distinct.size == weights.size,
      "mixtureSample: duplicate source names in weights")
    val wSum = weights.map(_._2).sum
    val wTable = docs.sparkSession.createDataFrame(weights).toDF("source", "w")
    val d = docs.select(col(idCol).as("id"), col(srcCol).as("source"),
      tokenCol.as("n_tokens"),
      Dedup.shingleHash(concat(col(srcCol), lit(":"), col(idCol).cast("string")))
        .as("__h"))
      .join(wTable, Seq("source"))
    // K = max achievable total = min over sources of q_s = ⌊T_s·wSum/w_s⌋;
    // a MINIMIZING source (q_s = K) is the binding one and is taken WHOLE
    // (w_s·K div wSum can floor to T_s - 1 when w_s ∤ T_s·wSum — the doc
    // contract wins over the rounding); everyone else gets the
    // proportional floor. The ratio arithmetic runs in DECIMAL(38,0):
    // T_s·wSum overflows a Long already at ~1e13 tokens × 1e6 weight sum.
    val budgets = d.groupBy(col("source"), col("w"))
      .agg(sum(col("n_tokens")).as("t"))
      .withColumn("q",
        expr(s"CAST(floor(CAST(t AS DECIMAL(38,0)) * $wSum / w) AS DECIMAL(38,0))"))
      .withColumn("k", min(col("q")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("source"),
        when(col("q") === col("k"), col("t"))
          .otherwise(expr(
            s"CAST(floor(CAST(w AS DECIMAL(38,0)) * k / $wSum) AS BIGINT)"))
          .as("budget"))
    val sel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("__h"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    d.join(budgets, Seq("source"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(sel))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("id"), col("source"), col("n_tokens"), col("cum_tokens"),
        col("budget"))
  }

  /** Temperature (α-smoothed) mixture weights — the multilingual sampling
    * standard (mT5/XLM-R style): `w_s = ⌊T_s^α · scale⌋` flattens the
    * source distribution (α < 1 upsamples small sources relative to their
    * token mass; α=1 is proportional, α=0 uniform). One map-side-combined
    * aggregation; the driver receives exactly one (source, tokens) row per
    * source — feed the result to [[mixtureSample]].
    */
  def temperatureWeights(docs: DataFrame, srcCol: String,
      tokenCol: org.apache.spark.sql.Column, alpha: Double,
      scale: Long = 1000L): Seq[(String, Long)] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    // α=0.5 goes through sqrt, which IEEE-754 REQUIRES to be correctly
    // rounded — bit-identical in every engine, so floor() can never flip
    // at a boundary. General pow() is only 1-ulp-accurate and libm-
    // dependent (pow(1024, 0.3)·1000 lands one ulp under 8000 on some
    // libms): fine for production weighting, but an exact-replay oracle
    // should pin α=0.5.
    def smooth(t: Double): Double =
      if (alpha == 0.5) math.sqrt(t) else math.pow(t, alpha)
    docs.groupBy(col(srcCol)).agg(sum(tokenCol).as("t"))
      .collect()
      .map(r => r.getString(0) ->
        math.floor(smooth(r.getLong(1).toDouble) * scale).toLong)
      .filter(_._2 > 0)
      .sortBy(_._1).toSeq
  }
}
