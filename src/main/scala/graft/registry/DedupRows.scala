package graft.registry

import graft.util.Checkpoints._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.registry.Shared._

/** Registry rows `d_*`: exact and near-duplicate detection. */
object DedupRows extends Family {

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
  row("d_exact_dup_groups", dExactDupGroups)(
    """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM all_docs GROUP BY text HAVING count(*) > 1""")

  private def dExactDedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
  row("d_exact_dedup_keep", dExactDedupKeep)(
    """SELECT source, count(*) AS n_kept FROM (
           SELECT * FROM documents
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         GROUP BY source""")

  /** Inverted-index-blocked word-3-gram Jaccard pairs. Emitted values are
    * always exact (capped pairs re-verify on full arrays); candidates are
    * exact whenever no shingle's df exceeds the cap — true by construction
    * at sf0.01 (500 docs < cap 1000), so the all-pairs DuckDB oracle
    * matches the blocked plan's output exactly.
    */
  private def dNgramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.2)
  row("d_ngram_jaccard_pairs", dNgramJaccardPairs) {
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
  }

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
  // Independent all-pairs oracle: the prefix filter is lossless, so the
  // engine's output must equal brute force with NO cap caveat.
  row("d_prefix_jaccard", dPrefixJaccard) {
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
  }

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
  row("d_containment_pairs", dContainmentPairs) {
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
  }

  private def dMinhashLshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
  row("d_minhash_lsh_pairs", dMinhashLshPairs)(
    s"""WITH $sqlMinhashCtes
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""")

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
  row("d_lsh_recall", dLshRecall)(
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
         SELECT n_exact, n_lsh, round(n_lsh / n_exact, 6) AS recall FROM c""")

  private def dSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxDistance = 3)
  row("d_simhash_pairs", dSimhashPairs)(
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
           AND bit_count(xor(a.s, b.s)) <= 3""")

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
  row("d_lsh_skew_guard", dLshSkewGuard)(
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
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM wj WHERE jac >= 0.5""")

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
  row("d_incremental_dedup", dIncrementalDedup)(
    """SELECT 1 AS run, count(DISTINCT text) AS n_new FROM documents
         UNION ALL SELECT 2 AS run, CAST(0 AS BIGINT) AS n_new""")

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
  row("d_line_dedup", dLineDedup)(
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
         FROM planted d LEFT JOIN agg a USING (doc_id)""")

  /** Near-dup CLUSTER resolution: minhash pairs → connected components →
    * (doc_id, comp); dedup keeps comp == doc_id. The oracle replays the
    * same pair set and closes it with a recursive CTE.
    */
  private[registry] def dNeardupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 32, numBands = 8, shingleSize = 5, threshold = 0.5)
    Dedup.connectedComponents(docs, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("comp"))
  }
  row("d_neardup_components", dNeardupComponents)(
    s"""WITH RECURSIVE $sqlMinhashCtes,
         mp AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
         edges AS (SELECT id_a AS s, id_b AS d FROM mp
                   UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b)
         SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a""")

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
  row("d_softdedup_weights", dSoftDedupWeights)(
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
         FROM comp JOIN cs USING (comp)""")

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
  row("d_winnow_pairs", dWinnowPairs) {
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
  row("d_lsh_index_pairs", dLshIndexPairs)(
    s"""WITH ${sqlMinhashSigCtes("documents")},
         ${sqlBandCand("cand", "x.doc_id < 400 AND y.doc_id >= 400")},
         j AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                  ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb)) END AS jac
           FROM cand)
         SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5""")

  /** Exact-substring duplication coverage ([[Dedup.dupSpanStats]], 5-token
    * windows): per doc, windows shared with ANY other document and the
    * token positions they cover — the Lee-et-al. exact-dup contamination
    * metric as one query.
    */
  private def dDupSpanStats(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text", w = 5)
      .withColumnRenamed("id", "doc_id")
  row("d_dup_span_stats", dDupSpanStats) {
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
  }

  /** Span-level contamination scrub ([[Dedup.dupSpanScrub]], 5-token
    * windows): duplicated spans removed, documents rebuilt in token order.
    */
  private def dDupSpanScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanScrub(t(s, dir, "documents"), "doc_id", "text", w = 5)
      .withColumnRenamed("id", "doc_id")
  row("d_dup_span_scrub", dDupSpanScrub) {
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
  }

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
  row("d_cluster_best_keep", dClusterBestKeep)(
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
         WHERE rn = 1""")
}
