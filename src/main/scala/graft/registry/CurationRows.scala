package graft.registry

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.transform.Transforms
import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.registry.DedupRows.dNeardupComponents
import graft.registry.Shared._

/** Registry rows `c_*`: training-data curation and sampling. */
object CurationRows extends Family {

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
  row("c_pack_sequences", cPackSequences)(
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
         FROM c""")

  /** Benchmark decontamination — drop every training document that shares
    * a word 3-gram with the eval set (docs 0-9 stand in for the benchmark).
    * The classic pre-training hygiene pass (real pipelines use 8-13-grams;
    * 3 keeps the planted corpus overlap non-trivial). Scale shape: the eval
    * side explodes to a DISTINCT n-gram hash set — tiny (benchmarks are
    * MBs, corpora are TBs) so the left-semi join broadcasts it, like the
    * `_uploaded` control table; the training side streams
    * through exploded → anti-join → distinct-id, never shuffling text.
    */
  private def cDecontaminate(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("g"))
    val docs = t(s, dir, "documents")
    val evalGrams = grams(docs.filter(col("doc_id") < 10)).select("g").distinct()
    val trainGrams = grams(docs.filter(col("doc_id") >= 10))
    val contaminated = trainGrams.join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") >= 10)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }
  row("c_decontaminate", cDecontaminate)(sqlDecontaminate)

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
    val tg = grams(docs.filter(col("doc_id") >= 10))
      .withColumnRenamed("doc_id", "train_id")
    val evTotals = ev.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
    val hit = tg.select(col("g")).distinct()
      .join(broadcast(ev), Seq("g"))
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    val rareGrams = tg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxGramDf).select(col("g"))
    val pair = tg.join(rareGrams, Seq("g"))
      .join(broadcast(ev), Seq("g"))
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
  row("c_contamination_report", cContaminationReport) {
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
  row("c_stratified_sample", cStratifiedSample)(
    s"""SELECT doc_id, source FROM documents
         WHERE ${sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)} % 1000 <
           CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 250
                WHEN source IN ('src4', 'src5', 'src6') THEN 500
                ELSE 1000 END""")

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
  // A-ES weighted sampling: the oracle replays key = ln((h+1)/(P+1))/w
  // and ranks per source — same hash, same IEEE arithmetic
  row("c_weighted_sample", cWeightedSample)(
    s"""WITH d AS (SELECT source, doc_id,
             ln((${sqlPh("source || ':' || doc_id::VARCHAR", 31L, 1000000007L)} + 1)
               / 1000000008.0) / n_chars AS k
           FROM documents WHERE n_chars > 0),
         r AS (SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY k DESC, doc_id) AS BIGINT) AS rank
           FROM d)
         SELECT source, rank, doc_id FROM r WHERE rank <= 20""")

  /** Leakage-safe train/validation split: the split unit is the NEAR-DUP
    * CLUSTER, not the document — the cluster representative id is hashed
    * to a bucket, so paraphrase near-duplicates can never straddle the
    * boundary (the contamination mistake per-document hashing makes: a
    * val document's near-copy trains). ~5% of clusters go to val. Cost on
    * top of the cluster resolution ([[DedupRows.dNeardupComponents]], the same
    * checkpointed label propagation the dedup family shares): one narrow
    * hash over the component labels, no extra shuffle.
    */
  private def cLeakageSplit(s: SparkSession, dir: String): DataFrame =
    dNeardupComponents(s, dir)
      .select(col("doc_id"), col("comp"),
        when(Dedup.polyHash(concat(lit("split:"), col("comp").cast("string")),
            31L, 1000000007L) % 100 < 5, lit("val"))
          .otherwise(lit("train")).as("split"))
  row("c_leakage_split", cLeakageSplit)(
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
         FROM comp""")

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
  // cluster-level split: the recursive components CTE is the same as
  // d_neardup_components; the split hashes the cluster representative
  row("c_kcenter_select", cKcenterSelect)(sqlKcenterSelect)

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
  row("c_mixture_sample", cMixtureSample) {
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
  }

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
      .pinned() // read by the weight pass + twice in selection
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
  row("c_temperature_mix", cTemperatureMix) {
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
  row("c_curation_pipeline", cCurationPipeline)(
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
         WHERE cum_tokens <= 2000""")

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
  row("c_domain_cap", cDomainCap)(
    """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
           FROM documents) WHERE rk <= 20""")

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
    val contaminated = suspects.join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }
  // the bloom variant's prefilter is semantics-free (false positives are
  // removed by the exact verify join) — identical declared result
  row("c_decontaminate_bloom", cDecontaminateBloom)(sqlDecontaminate)

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
  row("c_cross_modal", cCrossModal)(
    s"""WITH $sqlMinhashCtes,
         sel AS (SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT id_a, id_b, jaccard,
           round(${sqlCos("ea.v", "eb.v")}, 6) AS cosine
         FROM sel JOIN e ea ON ea.vec_id = id_a
                  JOIN e eb ON eb.vec_id = id_b""")

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
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        expr("shared_grams * 1000000 div least(na, nb)").as("overlap_e6"))
  }
  row("c_source_overlap", cSourceOverlap) {
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
  row("c_embedding_pipeline", cEmbeddingPipeline) {
    val flatC = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val flatPq = graft.operators.TrainedPq.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH RECURSIVE sgt AS (SELECT $flatC::DOUBLE[] AS sg),
         pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS MATERIALIZED (SELECT vec_id, v,
             list_transform(${sqlCellsByCosine("v")},
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
         enc AS (SELECT neighbor_id, cell, ${sqlPqEncode("cv")} AS codes
           FROM cc CROSS JOIN pqt),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id,
             ${sqlPqAdc("qv")} AS adist
           FROM enc JOIN q USING (cell) CROSS JOIN pqt
           WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
  }

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
  row("c_epoch_shuffle", cEpochShuffle) {
    val h = sqlPh("'epoch0:' || doc_id::VARCHAR", 31L, 1000000007L)
    s"""WITH d AS (SELECT doc_id, $h AS h FROM documents)
         SELECT doc_id, h % 8 AS shard,
           row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
         FROM d"""
  }

  /** Curriculum ordering for training-data serving: documents schedule
    * best-quality-first in four per-language stages, with a deterministic
    * hash shuffle inside each stage and a GLOBAL serving position —
    * computed without any global sort. Within-(lang, stage) positions come
    * from partitioned windows (same bounded shuffle shape as
    * [[TextRows.tLengthDeciles]]/[[cEpochShuffle]]); the cross-stage offsets are
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
    * (one sort per language partition, like [[TextRows.tLengthDeciles]]); at 100 TB,
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
    pos.join(offsets, Seq("lang", "stage"))
      .select(col("doc_id"), col("lang"), col("stage"), col("pos"),
        (col("off") + col("pos")).as("global_pos"))
  }
  row("c_curriculum_order", cCurriculumOrder) {
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
    card.join(entBySource.unionAll(entGlobal),
        card("gid") === col("egid") && card("source") <=> col("esource"), "left")
      .select(card.columns.map(col) :+
        coalesce(col("lang_entropy"), lit(0.0)).as("lang_entropy"): _*)
  }
  row("c_data_card", cDataCard)(
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
           ON c.gid = ent.egid AND c.source IS NOT DISTINCT FROM ent.esource""")

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
    nDocs.crossJoin(ex).crossJoin(nd)
  }
  row("c_dedup_report", cDedupReport)(
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
         FROM ex""")

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
  row("c_feature_hash", cFeatureHash)(
    // the 60-bit token hash replayed exactly; bucket = th mod 1024, sign
    // from hash bit 10 — all 64-bit integer arithmetic
    s"""WITH tk AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS tok
           FROM documents),
         h AS (SELECT doc_id, ${sqlTokenHash60("tok")} AS th FROM tk)
         SELECT doc_id, (th % 1024)::BIGINT AS bucket,
           sum(CASE WHEN (th >> 10) & 1 = 0 THEN 1 ELSE -1 END)::BIGINT AS feat
         FROM h GROUP BY 1, 2""")

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
}
