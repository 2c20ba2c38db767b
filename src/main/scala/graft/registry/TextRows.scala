package graft.registry

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}
import graft.registry.Shared._

/** Registry rows `t_*`: text statistics, tokenization and quality. */
object TextRows extends Family {

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
  row("t_token_budget", tTokenBudget)(
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
         WHERE cum_tokens <= 2000""")

  private def tTokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
  row("t_token_stats", tTokenStats)(
    s"""SELECT lang, count(*) AS n_docs,
         round(avg(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))), 4) AS avg_tokens,
         round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang""")

  /** Real-BPE token counts per document next to the whitespace counts —
    * direct oracle coverage of the merge-table tokenizer (the budget query
    * exercises it only through the cumulative filter).
    */
  private def tBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
  row("t_bpe_tokens", tBpeTokens)(
    s"""WITH RECURSIVE ${sqlBpeCtes("documents")}
         SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws,
         CAST(coalesce(b.n_bpe, 0) AS BIGINT) AS n_bpe
         FROM documents d LEFT JOIN bpe_counts b USING (doc_id)""")

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
  row("t_fertility", tFertility)(
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
         FROM per_doc GROUP BY lang""")

  private def tQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
  row("t_quality", tQuality)(
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
         FROM r""")

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
      .pinned() // read by stats + 5 gradient jobs + scoring
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
      else feats.filter(col("doc_id") % m === 0).pinned()
    val w = graft.operators.Classifier.trainLogistic(train, fcols, "y",
      iterations = 5, learningRate = 0.5)
    feats.select(col("doc_id"), col("y").as("label"),
      round(graft.operators.Classifier.scoreLogistic(fcols.map(col), w), 5).as("score"),
      round(lit(w(0)), 6).as("wb"), round(lit(w(1)), 6).as("w1"),
      round(lit(w(2)), 6).as("w2"), round(lit(w(3)), 6).as("w3"),
      round(lit(w(4)), 6).as("w4"))
  }
  row("t_quality_lr", tQualityLr)(sqlQualityLr)

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
  row("t_lr_auc", tLrAuc)(
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
         FROM a""")

  private def tLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
  row("t_langid", tLangId)(
    s"""SELECT doc_id, (list_sort([$langProfilesSql])[-1]).lang AS lang_pred
         FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
               FROM documents)""")

  private def tFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
  row("t_fingerprint", tFingerprint)(
    """SELECT doc_id,
         list_reduce([0::BIGINT] || list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM documents""")

  /** Gopher-style repetition quality signals: top-2-gram fraction and
    * duplicate-3-gram fraction, from one codegen'd all-integer stats kernel
    * per row (the oracle recomputes the same 30-bit n-gram hashes).
    */
  private def tRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      round(TextAnalysis.topNgramFraction(col("text"), 2), 6).as("top_2gram_frac"),
      round(TextAnalysis.duplicateNgramFraction(col("text"), 3), 6).as("dup_3gram_frac"))
  row("t_repetition", tRepetition)(
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
         FROM g""")

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
  row("t_redact", tRedact)(
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
         FROM r""")

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
      .crossJoin(qh)
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
  row("t_conformal", tConformal)(
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
         FROM agg""")

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
  row("t_quality_filter", tQualityFilter)(
    s"""WITH $sqlQualityGateCtes
         SELECT doc_id, quality FROM qg_q
         WHERE quality >= 0.25 AND dup3 <= 0.2 AND n_tokens >= 5""")

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
  row("t_rater_kappa", tRaterKappa)(
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
         FROM p""")

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
  row("t_length_deciles", tLengthDeciles)(
    """WITH r AS (SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)::DOUBLE /
             count(*) OVER (PARTITION BY lang) AS cd
           FROM documents)
         SELECT lang, CAST(d AS BIGINT) AS decile, min(n_chars) AS value
         FROM r, unnest(range(1, 10)) AS u(d)
         WHERE cd >= d / 10.0
         GROUP BY lang, d""")

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
  row("t_chunks", tChunks)(
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
                       FROM documents WHERE trim(text) <> '')
         SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
           CAST(len(tk[j*64+1 : j*64+64]) AS BIGINT) AS chunk_tokens,
           array_to_string(tk[j*64+1 : j*64+64], ' ') AS chunk
         FROM toks, unnest(range(0, (len(tk) - 1) // 64 + 1)) AS u(j)""")

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
  row("t_encoding_audit", tEncodingAudit)(
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
         FROM m GROUP BY 1""")

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
  row("t_top_ngrams", tTopNgrams)(
    """WITH toks AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
                       FROM documents WHERE trim(text) <> ''),
         g AS (SELECT array_to_string(tk[i:i+1], ' ') AS ngram
               FROM toks, unnest(range(1, len(tk))) AS u(i))
         SELECT ngram, count(*) AS n FROM g
         GROUP BY ngram ORDER BY n DESC, ngram LIMIT 50""")

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
  row("t_zipf_fit", tZipfFit)(
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
         FROM s""")

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
  row("t_heavy_hitters", tHeavyHitters) {
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
  }

  /** DSIR-style importance weights ([[graft.operators.Importance]]) against
    * the English slice as the target distribution.
    */
  private def tDsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.dsirWeights(
      t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
      .withColumnRenamed("id", "doc_id")
  row("t_dsir_weights", tDsirWeights) {
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
  }

  /** Histogram-quantile estimates ([[graft.operators.Sketches
    * .histogramQuantiles]]) of the event value distribution at binWidth 1.
    */
  private def tApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.histogramQuantiles(
      t(s, dir, "events"), "value", 1.0,
      Seq(100, 250, 500, 750, 900, 950, 990, 999))
  row("t_approx_quantiles", tApproxQuantiles)(
    """WITH h AS (SELECT CAST(floor(value / 1.0) AS BIGINT) AS bin, count(*) AS n
           FROM events GROUP BY 1),
         c AS (SELECT bin, n,
             CAST(sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(n) OVER () AS BIGINT) AS total
           FROM h)
         SELECT CAST(q_pm AS BIGINT) AS q_pm, bin * (1.0::DOUBLE) AS est
         FROM c, unnest([100, 250, 500, 750, 900, 950, 990, 999]) AS u(q_pm)
         WHERE q_pm * total > (cum - n) * 1000 AND q_pm * total <= cum * 1000""")

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
  row("t_lm_cross", tLmCross) {
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
  row("t_distinct_kmv", tDistinctKmv) {
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
  row("t_kmv_union", tKmvUnion) {
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
  }

  /** Sketch-estimated vocabulary overlap between sources
    * ([[graft.operators.Sketches.kmvSetSimilarity]]): pairwise Jaccard of
    * per-source word vocabularies from the same k-min sketches the
    * distinct estimator keeps, exact Jaccard alongside for calibration —
    * the kilobytes-per-shard answer to [[CurationRows.cSourceOverlap]]'s question.
    */
  private def tKmvJaccard(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("source"), explode(
      graft.functions.KernelExpressions.wordNgramStrings(col("text"), 1)).as("tok"))
    graft.operators.Sketches.kmvSetSimilarity(toks, "source",
      Dedup.shingleHash(col("tok")), k = 64)
      .withColumnRenamed("g_a", "src_a").withColumnRenamed("g_b", "src_b")
  }
  row("t_kmv_jaccard", tKmvJaccard) {
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
  row("t_lm_score", tLmScore) {
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
  row("t_ccnet_buckets", tCcnetBuckets) {
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
  }

  /** Per-language top-10 keywords by TF-IDF
    * ([[graft.operators.Retrieval.tfidfKeywords]]): tf over (lang, term),
    * df over distinct documents, rank window over vocabulary-sized input.
    */
  private def tTfidfKeywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfidfKeywords(
      t(s, dir, "documents"), "doc_id", "lang", "text", k = 10)
      .withColumnRenamed("grp", "lang")
  row("t_tfidf_keywords", tTfidfKeywords)(
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
         WHERE rank <= 10""")

  /** BM25 top-20 for a three-term query
    * ([[graft.operators.Retrieval.bm25TopK]]): the token stream is
    * term-filtered before any shuffle; the oracle replays the exact
    * floating-point formula with matching association order.
    */
  private def tBm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("vector", "stream", "merge"), k = 20)
      .withColumnRenamed("id", "doc_id")
  row("t_bm25_topk", tBm25TopK)(
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
         WHERE rank <= 20""")

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
  row("t_ndcg", tNdcg)(
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
         FROM dcg CROSS JOIN idcg WHERE n_ranked > 0""")

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
  row("t_hybrid_rrf", tHybridRrf)(
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
         WHERE rank <= 20""")

  /** Language-ID confusion matrix: the n-gram heuristic's prediction
    * cross-tabulated against the labeled language — the evaluation query a
    * curation run uses before trusting langid-gated filters.
    */
  private def tLangidEval(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
  row("t_langid_eval", tLangidEval)(
    s"""SELECT lang, lang_pred, count(*) AS n FROM (
           SELECT lang, (list_sort([$langProfilesSql])[-1]).lang AS lang_pred
           FROM (SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
                 FROM documents))
         GROUP BY 1, 2""")

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
  row("t_phrase_search", tPhraseSearch)(
    """WITH toks AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
           FROM documents),
         pos AS (SELECT doc_id, unnest(tk) AS term,
             unnest(range(1, len(tk) + 1)) AS p FROM toks)
         SELECT a.doc_id, count(*)::BIGINT AS n_occ
         FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         WHERE a.term = 'batch' AND b.term = 'part'
         GROUP BY 1""")

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
      .crossJoin(total)
      .select(col("source"),
        (p * log2(p / m) / 2 + q * log2(q / m) / 2).as("term"),
        q.as("q"))
      .groupBy(col("source"))
      .agg(round(sum(col("term")) + (lit(1.0) - sum(col("q"))) / 2, 6)
        .as("js_divergence"))
  }
  row("t_js_divergence", tJsDivergence)(
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
         FROM terms GROUP BY 1""")

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
  row("t_readability", tReadability)(
    """WITH c AS (SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS n_sents,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_sylls
         FROM documents)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(206.835 - 1.015 * (n_words::DOUBLE / n_sents)
             - 84.6 * (n_sylls::DOUBLE / n_words), 4) AS flesch
         FROM c WHERE n_words > 0""")

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
  row("t_ngram_novelty", tNgramNovelty) {
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
  row("t_pii_scan", tPiiScan) {
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
  row("t_unigram_entropy", tUnigramEntropy)(
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
         FROM e""")

  private def tSecretEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Safety.secretScan(
      t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" aaaaaaaaaaaaaaaaaaaa sk_"),
          substring(md5(concat(lit("sec:"), col("doc_id").cast("string"))),
            1, 24)).as("raw")),
      "doc_id", "raw")
      .withColumnRenamed("id", "doc_id")
  row("t_secret_entropy", tSecretEntropy)(
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
         FROM e""")

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
      .pinned() // feeds the N total and both term joins
    val bi = docs
      .select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col("text"), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .pinned() // feeds the B total and the PMI join
    val totals = uni.agg(sum(col("cnt")).as("tot_uni"))
      .crossJoin(
        docs.select(greatest(size(TextAnalysis.tokens(col("text"))) - 1, lit(0))
          .as("nb")).agg(sum(col("nb")).as("tot_bi")))
    // pmi = ln( (c_ab/B) / ((c_a/N) * (c_b/N)) ), association fixed so the
    // oracle's double arithmetic is order-identical
    bi
      .withColumn("w1", element_at(split(col("ngram"), " "), 1))
      .withColumn("w2", element_at(split(col("ngram"), " "), 2))
      .join(uni.select(col("term").as("w1"), col("cnt").as("ca")), "w1")
      .join(uni.select(col("term").as("w2"), col("cnt").as("cb")), "w2")
      .crossJoin(totals)
      .select(col("ngram"), col("n"),
        round(log((col("n").cast("double") / col("tot_bi")) /
          ((col("ca").cast("double") / col("tot_uni")) *
            (col("cb").cast("double") / col("tot_uni")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ngram")).limit(50)
  }
  row("t_pmi_phrases", tPmiPhrases)(
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
         ORDER BY pmi DESC, ngram LIMIT 50""")

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
  row("t_lr_calibration", tLrCalibration)(
    s"""WITH scored AS MATERIALIZED ( $sqlQualityLr )
         SELECT least(floor(score * 10)::BIGINT, 9) AS bin,
           count(*)::BIGINT AS n,
           (sum(label::BIGINT) * 1000000 // count(*))::BIGINT AS pos_rate_e6,
           sum(round(score * 100000, 0)::BIGINT)::BIGINT AS sum_score_e5
         FROM scored GROUP BY 1""")

  /** TextRank keywords over the corpus word-adjacency graph
    * ([[graft.operators.Retrieval.textRankKeywords]]): integer-exact
    * weighted PageRank, top-10 terms — the unsupervised keyword ranker
    * next to `t_tfidf_keywords`' frequency statistics. The oracle unrolls
    * the 10 integer power rounds over the vocabulary-bounded chain.
    */
  private def tTextrank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.textRankKeywords(t(s, dir, "documents"), "text")
  row("t_textrank", tTextrank)(sqlTextrank)

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
  row("t_grouped_quantiles", tGroupedQuantiles)(
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
         WHERE q_pm * total > (cum - n) * 1000 AND q_pm * total <= cum * 1000""")

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
      .pinned() // feeds marginals, the total, and the scored rows
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
      .join(r, "w1")
      .join(c, "w2")
      .crossJoin(tot)
      .select(col("ngram"), col("k11").as("n"), llr.as("llr"))
      .orderBy(col("llr").desc, col("ngram")).limit(50)
  }
  row("t_llr_phrases", tLlrPhrases)(
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
         ORDER BY llr DESC, ngram LIMIT 50""")

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

  /** MinHash affine coefficients as SQL list literals. */
  private def sqlMinhashAB(numHashes: Int): (String, String) = {
    val cs = Dedup.minhashCoeffs(numHashes)
    (cs.map(_._1).mkString("[", ", ", "]"), cs.map(_._2).mkString("[", ", ", "]"))
  }

  private val langProfilesSql = TextAnalysis.languageProfiles.map { case (lang, markers) =>
    val ms = markers.map(m => s"'$m'").mkString(", ")
    s"{'score': len(list_filter(toks, x -> x IN ($ms))), 'lang': '$lang'}"
  }.mkString(", ")
}
