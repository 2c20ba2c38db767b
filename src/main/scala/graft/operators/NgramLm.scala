package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.KernelExpressions

/** Self-trained character-bigram language-model quality scoring — the
  * CCNet/Gopher "perplexity filter" pattern (score documents by how well a
  * small LM trained on trusted text predicts them; drop the tail), made
  * INTEGER-EXACT so the DuckDB oracle replays it bit for bit: instead of
  * summing floating-point log-probabilities (libm `log` is not
  * bit-identical across engines), each bigram contributes the smoothed
  * conditional probability as a 1e-6-scaled integer ratio
  * `(C(c1,c2) * 1e6) div (C(c1,*) + SmoothK)`, and the document score is
  * the integer mean of those terms. Monotone in the same direction as mean
  * probability; gibberish (unseen contexts, flat conditionals) lands near
  * `1e6 / SmoothK` while fluent text rides the corpus's dominant
  * transitions.
  *
  * Scale shape (100 TB): training is two map-side-combinable aggregations
  * over exploded (lang, c1, c2) hashes — the model is bounded by
  * |alphabet|² × languages (KBs, independent of corpus size; train on the
  * full corpus or a [[graft.transform.Transforms]]-style stratified
  * sample). Scoring is one narrow kernel pass + a broadcast model
  * join + a per-document aggregate: the corpus text is read once and never
  * shuffled.
  */
object NgramLm {

  /** Probability scale: terms are P(c2|c1) × 1e6, floored. */
  val Scale = 1000000L

  /** Additive context smoothing: the denominator is C(c1,*) + SmoothK, so
    * a context seen once does not yield P = 1.0 (the MLE artifact that
    * scores gibberish as perfectly predictable).
    */
  val SmoothK = 100L

  /** One row per char-bigram occurrence: (id, lang, h1, h2) where h1/h2
    * are the poly hashes of the 1-/2-char windows at the same offset of
    * lower(text).
    */
  private def occurrences(docs: DataFrame, idCol: String, langCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), col(langCol).as("lang"),
        KernelExpressions.charNgramOccHashes(col(textCol), 1).as("ug"),
        KernelExpressions.charNgramOccHashes(col(textCol), 2).as("bg"))
      .select(col("id"), col("lang"),
        explode(zip_with(slice(col("ug"), lit(1), size(col("bg"))), col("bg"),
          (a: Column, b: Column) => struct(a.as("h1"), b.as("h2")))).as("p"))
      .select(col("id"), col("lang"), col("p.h1").as("h1"), col("p.h2").as("h2"))

  /** Train the per-language bigram model: (lang, h1, h2, term) with
    * term = (C(lang,h1,h2) * [[Scale]]) div (C(lang,h1,*) + [[SmoothK]]).
    * Model cardinality is alphabet² per language — tiny at any corpus size.
    */
  def charBigramModel(corpus: DataFrame, idCol: String, langCol: String,
      textCol: String): DataFrame = {
    val c2 = occurrences(corpus, idCol, langCol, textCol)
      .groupBy(col("lang"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("lang"), col("h1")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, Seq("lang", "h1"))
      .select(col("lang"), col("h1"), col("h2"),
        // DECIMAL(38): c2 * Scale in Long overflows past ~9.2e12
        // occurrences of one bigram — reachable for the top bigrams of a
        // few-hundred-TB single-language corpus this is documented to
        // train on
        expr(s"CAST(CAST(c2 AS DECIMAL(38,0)) * $Scale div (c1 + $SmoothK) AS BIGINT)")
          .as("term"))
  }

  /** Score documents against a trained model: per doc, the integer mean of
    * its bigram terms (unseen bigrams contribute 0 — scoring a corpus
    * against another corpus's model is the decontamination-adjacent use).
    * Docs shorter than two characters score (n_bigrams = 0, lm_score = 0).
    * The model join is broadcast; [[graft.plans.BroadcastGuard]] may drop
    * the hint on an oversized model, and the join then shuffles on the
    * hash key.
    */
  def lmScore(docs: DataFrame, idCol: String, langCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val scored = occurrences(docs, idCol, langCol, textCol)
      .join(model, Seq("lang", "h1", "h2"), "left")
      .groupBy(col("id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("term"), lit(0L))).as("s"))
      .select(col("id"), col("lang"), col("n_bigrams"),
        expr("s div n_bigrams").as("lm_score"))
    docs.select(col(idCol).as("id"), col(langCol).as("lang"))
      .join(scored, Seq("id", "lang"), "left")
      .select(col("id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0L)).as("lm_score"))
  }

  /** CCNet-style head/middle/tail quality buckets per group: each group's
    * score distribution is cut at its exact rank tertiles, docs are
    * labeled by WHICH side of the cut their score falls on (Wenzek et al.
    * '20 bucket perplexity exactly this way before choosing which third
    * of a crawl to keep).
    *
    * Scale-correct by design: NO per-group sort of document rows and no
    * ntile over the corpus — thresholds come from a (group, score)
    * frequency histogram (≤ distinct-scores rows; the integer scores of
    * [[lmScore]] keep this tiny), a cumulative window over those
    * histogram rows, and one threshold row per group broadcast back.
    * Value-based assignment means tied scores land in the same bucket —
    * stable under repartitioning, unlike ntile's arbitrary tie split.
    *
    * t_head = max score whose descending cumulative count reaches ⌈N/3⌉;
    * t_mid likewise at ⌈2N/3⌉; bucket = head (score ≥ t_head), middle
    * (≥ t_mid), else tail.
    *
    * @return input rows + `bucket` column ('head' | 'middle' | 'tail')
    */
  def scoreTertiles(scored: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val hist = scored.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val th = hist
      .withColumn("__cum", sum(col("__n")).over(wCum))
      .withColumn("__total", sum(col("__n")).over(wAll))
      .groupBy(col(groupCol))
      .agg(
        max(when(col("__cum") * 3 >= col("__total"), col(scoreCol)))
          .as("__t_head"),
        max(when(col("__cum") * 3 >= col("__total") * 2, col(scoreCol)))
          .as("__t_mid"))
    scored.join(th, Seq(groupCol))
      .withColumn("bucket",
        when(col(scoreCol) >= col("__t_head"), lit("head"))
          .when(col(scoreCol) >= col("__t_mid"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__t_head", "__t_mid")
  }
}
