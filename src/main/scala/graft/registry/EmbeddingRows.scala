package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}
import graft.registry.Shared._

/** Registry rows `e_*`: vector search and embedding analytics. */
object EmbeddingRows extends Family {

  private def eCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_cosine_topk", eCosineTopK)(
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
             (sqrt(list_sum(list_transform(qv, x -> x * x))) *
              sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
           FROM q, c WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""")

  /** Exact MIPS top-k over the raw (unnormalized) embeddings — the
    * dot-product retrieval baseline next to [[eCosineTopK]]'s cosine one;
    * [[graft.operators.Similarity.mipsAugment]] reduces this ranking to
    * the cosine indexes at scale (SimilaritySpec pins the equivalence).
    */
  private def eMipsTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.mipsTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_mips_topk", eMipsTopK)(
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) AS d
           FROM q, c WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(d, 6) AS dot FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(d, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""")

  /** Prefix-dimension rerank ([[Similarity.truncatedTopK]]): coarse top-30
    * by first-16-dim dot product, exact cosine rescoring to top-10 — the
    * Matryoshka/truncation ANN path whose coarse scan reads 1/4 of the
    * vector bytes. Fully deterministic, so the oracle replays both stages.
    */
  private def eTruncRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.truncatedTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", prefixDim = 16, k = 10, candidates = 30)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_trunc_rerank", eTruncRerank)(
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         coarse AS (SELECT query_id, neighbor_id, qv, cv,
             list_sum(list_transform(list_zip(qv[1:16], cv[1:16]),
               x -> x[1] * x[2])) AS pdot
           FROM q, c WHERE query_id <> neighbor_id),
         cand AS (SELECT query_id, neighbor_id, qv, cv FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(pdot, 6) DESC, neighbor_id) AS crank FROM coarse)
           WHERE crank <= 30),
         s AS (SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
             (sqrt(list_sum(list_transform(qv, x -> x * x))) *
              sqrt(list_sum(list_transform(cv, x -> x * x)))) AS cos
           FROM cand)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM s)
         WHERE rank <= 10""")

  /** MMR-diversified rerank ([[graft.operators.Similarity.mmrRerank]]):
    * top-[[MmrN]] cosine candidates for the vec_id=0 query, then the greedy
    * `lambda*rel - (1-lambda)*maxCosToPicked` selection down to [[MmrK]] —
    * the slate a RAG/few-shot selector wants, where near-duplicate hits
    * cannot crowd out coverage. lambda=0.75 so `1-lambda` is exact in
    * binary (a 0.7 literal would make Scala's `1 - 0.7` and the oracle's
    * `0.25` disagree in the 17th digit). The oracle replays the greedy
    * rounds as chained MATERIALIZED CTEs like `c_kcenter_select`.
    */
  private def eMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    // empty corpus (no query vector to rerank against) → empty slate
    val qRow = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect().headOption
    val picks = qRow match {
      case None => Seq.empty[(Int, Long, Double, Double)]
      case Some(row) =>
        val q = row.getSeq[Number](0).map(_.doubleValue()).toArray
        Similarity.mmrRerank(q, emb, "vec_id", "embedding",
          n = MmrN, k = MmrK, lambda = MmrLambda)
    }
    picks.toDF("mmr_rank", "id", "rel", "mmr_score")
  }
  row("e_mmr_rerank", eMmrRerank)(sqlMmrRerank)

  /** SRP-LSH bucketed near-dup pairs (24 tables × 4 bits). The oracle
    * replicates the exact algorithm (identical ±1 planes + identical FP fold
    * order), so this is a full hash-match check of the scalable path, not a
    * rows-only smoke test. The planted pairs sit at cosine ≈ 0.45-0.55,
    * where SRP collision probability is ~0.65/bit — 24×4 holds measured
    * recall 1.0 on sf0.001/sf0.01; production near-dup thresholds (≥ 0.9)
    * would use fewer tables × more bits for a much sharper prune.
    */
  private def eNeardupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.45, numTables = 24, bitsPerTable = 4, dim = 64)
  row("e_neardup_pairs", eNeardupPairs)(
    s"""WITH sgt AS (SELECT ${sqlSigns(96, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         bk AS (SELECT vec_id, v,
             list_transform(range(0, 24), tt -> ${sqlSrpBucket("v", "tt * 4", 4, 64)}) AS buckets
           FROM e CROSS JOIN sgt),
         cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
           FROM bk a JOIN bk b ON a.vec_id < b.vec_id
           WHERE len(list_filter(range(0, 24), tt -> a.buckets[tt + 1] = b.buckets[tt + 1])) > 0),
         s AS (SELECT id_a, id_b, ${sqlCos("va", "vb")} AS cos FROM cand)
         SELECT id_a, id_b, round(cos, 6) AS cosine FROM s WHERE cos >= 0.45""")

  private def eAnnSrpTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.srpTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10, numPlanes = 12, dim = 64, probeRadius = 4)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_ann_srp_topk", eAnnSrpTopK)(
    s"""WITH sgt AS (SELECT ${sqlSigns(12, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sig AS (SELECT vec_id, v, ${sqlSrpBucket("v", "0", 12, 64)} AS sig
                 FROM e CROSS JOIN sgt),
         cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM sig q JOIN sig c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
             AND bit_count(xor(q.sig, c.sig)) <= 4)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10""")

  /** IVF-style cell-partitioned ANN: coarse cells from 8 deterministic ±1
    * centroids (cosine ignores centroid norm), corpus assigned narrow,
    * queries probe 2 cells. The 100 TB layout: cell-keyed equi-join, no
    * cross join.
    */
  private def eIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_ivf_topk", eIvfTopK)(sqlIvfTopK)

  /** FILTERED vector search — ANN under a metadata predicate (the RAG/
    * curation staple: "nearest neighbors among label-1 vectors only").
    * PRE-filter semantics: the predicate lands on the corpus scan BEFORE
    * cell assignment joins, so recall within the probed cells is exact and
    * the filter pushes to parquet like any other predicate — against
    * post-filtering a fixed candidate cut, which silently loses recall as
    * the filter gets more selective. Cell layout is per-vector, so
    * filtering the corpus leg changes no cell assignment; the oracle
    * replays the same chain with the same WHERE on the corpus CTE.
    */
  private def eFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5),
      emb.filter(col("label") === 1),
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_filtered_topk", eFilteredTopK)(sqlFilteredTopK)

  /** Hard-negative mining for contrastive retrieval training (DPR/ANCE
    * recipe): per query, the highest-cosine candidates BELOW a similarity
    * ceiling τ — close enough to be informative negatives, but candidates
    * at/above τ are presumed positives/near-duplicates and excluded. Runs
    * entirely through the IVF cell-keyed machinery (a wider candidate cut,
    * then filter + re-rank over ≤ buffer rows per query), so the mining
    * pass inherits the ANN scale shape — no brute-force scan. Both filter
    * and rank use the 6-dp-rounded cosine, so the cut is cross-engine
    * exact; the oracle replays the IVF chain, the ceiling, and the
    * re-rank.
    */
  private def eHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cand = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = VectorOps.rademacherPlanes(8, 64),
      k = HardNegBuffer, nprobe = 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.filter(col("cosine") < HardNegTau)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 10)
      .select(col("query_id"), col("neg_rank"), col("neighbor_id"),
        col("cosine"))
  }
  row("e_hard_negatives", eHardNegatives)(
    s"""WITH base AS MATERIALIZED (${sqlIvfCand(30)})
         SELECT query_id, neg_rank, neighbor_id, cosine FROM (
           SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS neg_rank
           FROM base WHERE cosine < 0.98::DOUBLE)
         WHERE neg_rank <= 10""")

  private val HardNegBuffer = 30
  private val HardNegTau = 0.98

  /** MIPS served through the IVF index via [[graft.operators.Similarity
    * .mipsAugment]] — the reduction actually doing its job: corpus vectors
    * augmented with sqrt(M² − |x|²) (M = exact max corpus norm, one agg),
    * queries with 0, then the UNCHANGED cosine IVF machinery (65-dim ±1
    * centroids, nprobe 2) ranks by augmented cosine = inner-product order.
    * The oracle replays the augmentation and the full IVF pipeline in SQL
    * — the hash match proves the reduction is engine-exact, not just
    * rank-preserving in expectation.
    */
  private def eMipsIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val m2Row = emb.agg(max(aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))).head()
    // empty corpus: the max-norm scalar is undefined but also unused —
    // any positive value keeps the (empty) augmentation well-formed
    val mNorm = if (m2Row.isNullAt(0)) 1.0 else math.sqrt(m2Row.getDouble(0))
    val aug = Similarity.mipsAugment(emb, "embedding", mNorm)
    val augQ = Similarity.mipsAugment(emb.filter(col("vec_id") < 5),
      "embedding", mNorm, isQuery = true)
    Similarity.ivfTopK(augQ, aug, "vec_id", "embedding",
      centroids = VectorOps.rademacherPlanes(8, 65), k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_mips_ivf_topk", eMipsIvfTopK)(sqlMipsIvfTopK)

  /** IVF over a MATERIALIZED index: the corpus is written once partitioned
    * by coarse cell (`Similarity.writeIvfIndex` — the directory layout IS
    * the index at 100 TB), then searched via the partition column with
    * dynamic partition pruning. Semantics identical to e_ivf_topk, so the
    * oracle is the same SQL — the hash match proves the persisted layout
    * loses nothing.
    */
  private def eIvfIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val path = scratch("ivf_idx").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path)
    Similarity.ivfIndexTopK(s, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      centroids, path, k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }
  // the materialized-index variant is semantically identical — same oracle
  row("e_ivf_index_topk", eIvfIndexTopK)(sqlIvfTopK)

  /** IVF with TRAINED coarse centroids: spherical k-means over the sf0.01
    * embeddings (5 Lloyd iterations), frozen as compile-time literals in
    * [[graft.operators.TrainedCentroids]] — the 100 TB practice of training
    * on a sample offline and shipping centroids as a small artifact. The
    * oracle replays the identical doubles, so cell assignment, probing, and
    * ranking are hash-checked end-to-end.
    */
  private def eIvfTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids = graft.operators.TrainedCentroids.sf001,
      k = 10, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
  }
  row("e_ivf_trained_topk", eIvfTrainedTopK) {
    // identical formulation to e_ivf_topk, with the TRAINED centroid
    // doubles (Double.toString round-trips through DuckDB's parser)
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id, v,
             list_transform(${sqlCellsByCosine("v")},
               st -> st.cell) AS sorted_cells
           FROM e CROSS JOIN sgt),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell FROM cells),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
  }

  /** SemDeDup-style semantic dedup over the embeddings table with the
    * frozen trained centroids: within-cell cosine pairs → clusters → keep
    * min-id representative. The oracle replays cell assignment (identical
    * centroid doubles), the within-cell pair set, and the recursive
    * component closure, so the cluster-scoped dedup semantics are
    * hash-checked end-to-end.
    */
  private def eSemdedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.semDedupKeep(t(s, dir, "embeddings"), "vec_id", "embedding",
      centroids = graft.operators.TrainedCentroids.sf001, threshold = 0.45)
      .select(col("id").as("vec_id"), col("cell"))
  row("e_semdedup_keep", eSemdedupKeep) {
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    // cells/mp/sd_edges MATERIALIZED: each is referenced 2-4 times
    // (DuckDB inlines per reference by default) and the fuzz corpus's
    // clustered embeddings made the re-inlined cosine work breach the
    // 10 s oracle lab budget — 15.9 s -> 5.6 s, identical rows
    s"""WITH RECURSIVE sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS MATERIALIZED (SELECT vec_id, v,
             (list_transform(${sqlCellsByCosine("v")},
               st -> st.cell))[1] AS cell
           FROM e CROSS JOIN sgt),
         mp AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${sqlCos("a.v", "b.v")} >= 0.45),
         sd_edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM mp
                      UNION ALL SELECT id_b AS s, id_a AS d FROM mp),
         sd_reach(a, b) AS (
           SELECT vec_id, vec_id FROM cells
           UNION
           SELECT r.a, e2.d FROM sd_reach r JOIN sd_edges e2 ON e2.s = r.b),
         sd_comp AS (SELECT a AS vec_id, min(b) AS comp FROM sd_reach GROUP BY a)
         SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell
         FROM cells c JOIN sd_comp m ON c.vec_id = m.vec_id AND m.comp = c.vec_id"""
  }

  /** Int8-quantized flat ANN with exact rescore ([[Similarity.quantizedTopK]]):
    * the compressed-index scan + fetch-on-verify pattern. Exactness of the
    * FINAL ranks is over the quantized candidate set; the oracle replays the
    * quantization arithmetic (floor(x*scale+0.5)) bit for bit.
    */
  private def eQuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.quantizedTopK(e.filter(col("vec_id") < 5), e, "vec_id",
      "embedding", k = 10, candidates = 30)
  }
  row("e_quantized_topk", eQuantizedTopK)(
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q8t AS (SELECT vec_id, v,
             CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x ->
                    CAST(floor(x * (127.0 / m) + 0.5) AS BIGINT)) END AS q
           FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS m FROM e)),
         cand AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(qq.q) + 1),
               i -> qq.q[i] * cc.q[i])) AS qdot
           FROM q8t cc JOIN q8t qq
             ON qq.vec_id < 5 AND qq.vec_id <> cc.vec_id),
         top AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id) AS crank FROM cand)
           WHERE crank <= 30),
         res AS (SELECT query_id, neighbor_id,
             ${sqlCos("eq.v", "ec.v")} AS cos
           FROM top JOIN e eq ON eq.vec_id = query_id
                JOIN e ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM res)
         WHERE rank <= 10""")

  /** Binary (1-bit sign) quantized flat ANN with exact rescore
    * ([[Similarity.binaryTopK]]): the packed-bit Hamming scan — 1/32 of the
    * float bytes read per candidate pass — then fetch-on-verify cosine. The
    * oracle replays the Hamming ranking WITHOUT packing: popcount(xor) of
    * sign words equals the count of positions whose sign bits differ, so
    * the per-position `(q_i > 0) <> (c_i > 0)` sum is the same integer.
    */
  private def eBinaryTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.binaryTopK(e.filter(col("vec_id") < 5), e, "vec_id",
      "embedding", k = 10, candidates = 30)
  }
  // popcount(xor) of packed sign words == count of positions whose sign
  // bits differ, so the oracle ranks by the unpacked per-position sum —
  // exact integers on both sides, no packing arithmetic to replay.
  row("e_binary_topk", eBinaryTopK)(
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cand AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(qq.v) + 1),
               i -> CASE WHEN (qq.v[i] > 0) <> (cc.v[i] > 0)
                         THEN 1 ELSE 0 END))::BIGINT AS hd
           FROM e cc JOIN e qq
             ON qq.vec_id < 5 AND qq.vec_id <> cc.vec_id),
         top AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY hd, neighbor_id) AS crank FROM cand)
           WHERE crank <= 30),
         res AS (SELECT query_id, neighbor_id,
             ${sqlCos("eq.v", "ec.v")} AS cos
           FROM top JOIN e eq ON eq.vec_id = query_id
                JOIN e ec ON ec.vec_id = neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM res)
         WHERE rank <= 10""")

  /** Cluster profile of the trained coarse quantization
    * ([[Similarity.clusterProfile]]): per-cell population and mean cosine —
    * the corpus-mixture / IVF-balance audit over the same frozen centroids
    * as e_ivf_trained_topk.
    */
  private def eClusterProfile(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterProfile(t(s, dir, "embeddings"), "embedding",
      graft.operators.TrainedCentroids.sf001)
  row("e_cluster_profile", eClusterProfile) {
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (${sqlCellsByCosine("v")})[1] AS best
           FROM e CROSS JOIN sgt),
         p AS (SELECT CAST(best.cell AS BIGINT) AS cell,
                      round(-best.negCos, 6) AS cos FROM cells)
         SELECT cell, count(*) AS n,
           round(CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_cos
         FROM p GROUP BY cell"""
  }

  /** Embedding-distribution drift between the even/odd vec_id slices over
    * the trained cells ([[Similarity.cellDrift]]) — the vector-side dual
    * of `t_js_divergence`. Exact ppm shares (slice sizes divide 1e6 at
    * every sf), so the oracle replays the arithmetic bit for bit.
    */
  private def eCellDrift(s: SparkSession, dir: String): DataFrame =
    Similarity.cellDrift(t(s, dir, "embeddings"), "vec_id", "embedding",
      graft.operators.TrainedCentroids.sf001)
  row("e_cell_drift", eCellDrift) {
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (${sqlCellsByCosine("v")})[1] AS best
           FROM e CROSS JOIN sgt),
         a AS (SELECT CAST(best.cell AS BIGINT) AS cell,
                      vec_id % 2 = 0 AS even FROM cells),
         p AS (SELECT cell,
             CAST(count(*) FILTER (even) AS BIGINT) AS n_even,
             CAST(count(*) FILTER (NOT even) AS BIGINT) AS n_odd
           FROM a GROUP BY cell),
         t AS (SELECT cell, n_even, n_odd,
             CAST(round(n_even * 1000000.0 / sum(n_even) OVER (), 0) AS BIGINT) AS se,
             CAST(round(n_odd * 1000000.0 / sum(n_odd) OVER (), 0) AS BIGINT) AS so
           FROM p)
         SELECT cell, n_even, n_odd, abs(se - so) AS delta_share_e6 FROM t"""
  }

  /** Clustering-quality audit: centroid-based silhouette per trained
    * cell — [[Similarity.silhouetteProfile]]'s one-pass sorted centroid
    * scan (own and nearest-other distance from array positions 1 and 2).
    */
  private def eSilhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.silhouetteProfile(t(s, dir, "embeddings"), "embedding",
      graft.operators.TrainedCentroids.sf001)
  row("e_silhouette", eSilhouette) {
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         arr AS (SELECT vec_id,
             ${sqlCellsByCosine("v")} AS ar
           FROM e CROSS JOIN sgt),
         p AS (SELECT CAST(ar[1].cell AS BIGINT) AS cell,
                      1.0 + ar[1].negCos AS a, 1.0 + ar[2].negCos AS b FROM arr),
         q AS (SELECT cell,
             CASE WHEN b <= 0 THEN 0.0
                  ELSE (b - a) / greatest(a, b) END AS sil
           FROM p)
         SELECT cell, count(*) AS n,
           round(CAST(sum(CAST(round(sil * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0, 6) AS avg_silhouette
         FROM q GROUP BY cell"""
  }

  /** Recall@10 of the SRP multi-probe ANN against the exact brute-force
    * ranking ([[Similarity.annRecall]]) — the parameter-tuning harness run
    * as a query: both top-k tables come from the same operators as
    * e_ann_srp_topk / e_cosine_topk, and the oracle replays both paths.
    */
  private def eAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
    val ann = Similarity.srpTopK(q, emb, "vec_id", "embedding", k = 10,
      numPlanes = 12, dim = 64, probeRadius = 4)
    Similarity.annRecall(exact, ann)
  }
  row("e_ann_recall", eAnnRecall)(
    s"""WITH sgt AS (SELECT ${sqlSigns(12, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sig AS (SELECT vec_id, v, ${sqlSrpBucket("v", "0", 12, 64)} AS sig
                 FROM e CROSS JOIN sgt),
         annc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM sig q JOIN sig c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
             AND bit_count(xor(q.sig, c.sig)) <= 4),
         ann AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM annc)
           WHERE rank <= 10),
         exc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${sqlCos("q.v", "c.v")} AS cos
           FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         exact AS (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM exc)
           WHERE rank <= 10)
         SELECT exact.query_id,
           CAST(count(ann.neighbor_id) AS BIGINT) AS hits,
           round(count(ann.neighbor_id)::DOUBLE / count(*), 6) AS recall
         FROM exact LEFT JOIN ann
           ON exact.query_id = ann.query_id
           AND exact.neighbor_id = ann.neighbor_id
         GROUP BY 1""")

  /** Product-quantized ADC top-10 ([[graft.operators.Pq.pqTopK]]) over the
    * frozen sf0.01 codebooks ([[graft.operators.TrainedPq]]): the corpus
    * scan reads 4 int codes per vector instead of 64 floats; the oracle
    * replays encode + ADC bit-exactly (subtract/multiply/add folds only).
    */
  private def ePqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.pqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedPq.sf001, k = 10)
  }
  row("e_pq_topk", ePqTopK) {
    val flat = graft.operators.TrainedPq.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH pqt AS (SELECT $flat::DOUBLE[] AS pq),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         enc AS (SELECT vec_id, ${sqlPqEncode("v")} AS codes
           FROM e CROSS JOIN pqt),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         cand AS (SELECT query_id, enc.vec_id AS neighbor_id,
             ${sqlPqAdc("qv")} AS adist
           FROM enc CROSS JOIN q CROSS JOIN pqt WHERE query_id <> enc.vec_id)
         SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
  }

  /** IVF-PQ composition ([[graft.operators.Pq.ivfPqTopK]]): trained coarse
    * cells prune the probe to an equi-join, trained PQ codes compress the
    * scanned payload — the two frozen artifacts composed into the
    * cell-pruned code-scan layout.
    */
  private def eIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPq.sf001, k = 10, nprobe = 2)
  }
  row("e_ivfpq_topk", eIvfPqTopK)(sqlIvfPqTopK)

  /** Residual IVF-PQ ([[graft.operators.Pq.ivfPqResidualTopK]]): corpus
    * codes quantize (vector − coarse centroid) under residual-trained
    * codebooks ([[graft.operators.TrainedPqResidual]]) and queries compare
    * per probed cell against their own residual — the textbook Jégou '11
    * layout next to `e_ivfpq_topk`'s raw-vector codes. The oracle replays
    * cell assignment, residual subtraction, encode, and ADC bit for bit.
    */
  private def eIvfPqResidualTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Pq.ivfPqResidualTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPqResidual.sf001, k = 10, nprobe = 2)
  }
  row("e_ivfpq_residual_topk", eIvfPqResidualTopK)(sqlIvfPqResidualTopK)

  /** Materialized IVF-PQ index variant ([[graft.operators.Pq.writePqIndex]]
    * / [[graft.operators.Pq.pqIndexTopK]]): semantically identical to
    * e_ivfpq_topk — same oracle — with cell + codes read back from the
    * cell-partitioned files instead of recomputed.
    */
  private def ePqIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = scratch("pq_idx").toString + "/index"
    graft.operators.Pq.writePqIndex(emb, "vec_id", "embedding",
      graft.operators.TrainedCentroids.sf001, graft.operators.TrainedPq.sf001, path)
    graft.operators.Pq.pqIndexTopK(s, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", graft.operators.TrainedCentroids.sf001,
      graft.operators.TrainedPq.sf001, path, k = 10, nprobe = 2)
  }
  // the materialized-index variant is semantically identical — same oracle
  row("e_pq_index_topk", ePqIndexTopK)(sqlIvfPqTopK)

  /** Embedding outlier audit over the trained cells
    * ([[graft.operators.Similarity.embeddingOutliers]]): within-cell
    * z-score of each vector's own-centroid cosine, top 25 — the
    * OOD/garbage detector a curation run executes before trusting
    * cluster-level decisions (SemDeDup, leakage splits, k-center).
    */
  private def eOodOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.embeddingOutliers(t(s, dir, "embeddings"),
        "vec_id", "embedding", graft.operators.TrainedCentroids.sf001, 25)
      .select(col("id").as("vec_id"), col("cell"), col("cos"), col("z"))
  row("e_ood_outliers", eOodOutliers) {
    val flat = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flat::DOUBLE[] AS sg),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id,
             (${sqlCellsByCosine("v")})[1] AS best
           FROM e CROSS JOIN sgt),
         b AS (SELECT vec_id, CAST(best.cell AS BIGINT) AS cell,
             round(-best.negCos, 6) AS cos,
             CAST(round(round(-best.negCos, 6) * 1000000, 0) AS BIGINT) AS cos_e6
           FROM cells),
         st AS (SELECT cell, count(*)::BIGINT AS n_cell,
             sum(cos_e6)::BIGINT AS s1, sum(cos_e6 * cos_e6)::BIGINT AS s2
           FROM b GROUP BY 1),
         sc AS (SELECT cell, s1::DOUBLE / n_cell AS mu,
             sqrt(greatest(s2::DOUBLE / n_cell
               - (s1::DOUBLE / n_cell) * (s1::DOUBLE / n_cell), 0.0)) AS sigma
           FROM st)
         SELECT vec_id, b.cell AS cell, cos,
           round((mu - cos_e6::DOUBLE) / sigma, 4) AS z
         FROM b JOIN sc ON b.cell = sc.cell
         WHERE sigma > 0.0
         ORDER BY z DESC, vec_id LIMIT 25"""
  }

  /** The Rademacher plane family flattened to a ±1.0 literal list (exact
    * doubles — trivially identical across engines). Referenced in oracles as
    * a 1-row CTE `sgt(sg)` so the literal appears once per query.
    */
  private def sqlSigns(numPlanes: Int, dim: Int): String =
    VectorOps.rademacherPlanes(numPlanes, dim).flatten
      .map(w => if (w > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** Dot of vector expr `v` (1-indexed DOUBLE[]) with Rademacher plane `p`
    * over `dim` entries of the `sg` flat sign list; fold order matches
    * VectorOps.srpSignatureU.
    */
  private def sqlPlaneDot(v: String, p: String, dim: Int): String =
    s"list_reduce([0.0] || list_transform(range(0, $dim), dd -> " +
      s"$v[dd + 1] * sg[($p) * $dim + dd + 1]), (dacc, dx) -> dacc + dx)"

  /** SRP bucket of `bits` planes starting at plane offset `off`. */
  private def sqlSrpBucket(v: String, off: String, bits: Int, dim: Int): String =
    s"list_sum(list_transform(range(0, $bits), bb -> CASE WHEN " +
      s"${sqlPlaneDot(v, s"($off) + bb", dim)} >= 0 THEN 1::BIGINT << bb ELSE 0 END))::BIGINT"

  /** MMR slate shape, shared query↔oracle like [[CurationRows.KcenterK]]. lambda must
    * stay a value whose complement `1-lambda` is exact in binary (0.75,
    * 0.5, 0.25…) — the oracle spells the complement as a literal.
    */
  private val MmrK = 8
  private val MmrN = 50
  private val MmrLambda = 0.75

  /** Greedy MMR unrolled to [[MmrK]] chained CTE rounds: candidate cut by
    * rounded-rel DESC + id ASC (exactly [[graft.operators.Similarity.mmrRerank]]'s
    * orderBy/limit), per-round max-sim over the selected set with the
    * order-exact [[Shared.sqlCos]] fold, round-6 at every compared quantity, id
    * tiebreak on the pick. `pick`/`sel` MATERIALIZED for the same
    * re-inlining reason as [[CurationRows.sqlKcenterSelect]].
    */
  private lazy val sqlMmrRerank: String = {
    val lam = s"$MmrLambda::DOUBLE"
    val mu = s"${1 - MmrLambda}::DOUBLE"
    val rounds = (2 to MmrK).map { r =>
      s"""dr$r AS (
           SELECT c.id, c.v, c.rel,
             max(round(${sqlCos("c.v", "s.v")}, 6)) AS msim
           FROM cand c, sel${r - 1} s
           WHERE c.id NOT IN (SELECT id FROM sel${r - 1})
           GROUP BY c.id, c.v, c.rel),
         pick$r AS MATERIALIZED (
           SELECT id, v, rel, round($lam * rel - $mu * msim, 6) AS score
           FROM dr$r ORDER BY score DESC, id LIMIT 1),
         sel$r AS MATERIALIZED (
           SELECT id, v FROM sel${r - 1} UNION ALL SELECT id, v FROM pick$r)"""
    }.mkString(",\n")
    val out = (2 to MmrK).map(r =>
      s"UNION ALL SELECT $r, id, rel, score FROM pick$r").mkString("\n")
    s"""WITH qv AS MATERIALIZED (
           SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
       cand AS MATERIALIZED (
         SELECT vec_id AS id, v, round(${sqlCos("v", "q")}, 6) AS rel
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), qv
         ORDER BY rel DESC, id LIMIT $MmrN),
       pick1 AS MATERIALIZED (
         SELECT id, v, rel, round($lam * rel - $mu * 0.0::DOUBLE, 6) AS score
         FROM cand ORDER BY score DESC, id LIMIT 1),
       sel1 AS MATERIALIZED (SELECT id, v FROM pick1),
       $rounds
       SELECT 1 AS mmr_rank, id, rel, score AS mmr_score FROM pick1
       $out"""
  }

  /** The trained-cells IVF-PQ search oracle, shared by the recompute
    * (e_ivfpq_topk) and materialized-index (e_pq_index_topk) variants —
    * identical semantics by construction.
    */
  private lazy val sqlIvfPqTopK: String = {
    val flatC = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val flatPq = graft.operators.TrainedPq.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flatC::DOUBLE[] AS sg),
       pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cells AS (SELECT vec_id, v,
           list_transform(${sqlCellsByCosine("v")},
             st -> st.cell) AS sorted_cells
         FROM e CROSS JOIN sgt),
       c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
             FROM cells),
       enc AS (SELECT neighbor_id, cell, ${sqlPqEncode("cv")} AS codes
         FROM c CROSS JOIN pqt),
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

  /** Residual IVF-PQ oracle: [[sqlIvfPqTopK]] with the encode/ADC inputs
    * swapped to residuals — rv = v − centroid(cell) for the corpus, and
    * per probed cell qrv = qv − centroid(cell) for the query — under the
    * residual-trained codebook literals.
    */
  private lazy val sqlIvfPqResidualTopK: String = {
    val flatC = graft.operators.TrainedCentroids.sf001.flatten
      .map(_.toString).mkString("[", ", ", "]")
    val flatPq = graft.operators.TrainedPqResidual.sf001.flatten.flatten
      .map(_.toString).mkString("[", ", ", "]")
    s"""WITH sgt AS (SELECT $flatC::DOUBLE[] AS sg),
       pqt AS (SELECT $flatPq::DOUBLE[] AS pq),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cells AS (SELECT vec_id, v,
           list_transform(${sqlCellsByCosine("v")},
             st -> st.cell) AS sorted_cells
         FROM e CROSS JOIN sgt),
       c AS (SELECT vec_id AS neighbor_id,
             list_transform(range(1, 65),
               i -> v[i] - ${sqlCentroid("sorted_cells[1]")}[i]) AS rv,
             sorted_cells[1] AS cell
           FROM cells CROSS JOIN sgt),
       enc AS (SELECT neighbor_id, cell, ${sqlPqEncode("rv")} AS codes
         FROM c CROSS JOIN pqt),
       q AS (SELECT query_id, cell,
             list_transform(range(1, 65),
               i -> qv[i] - ${sqlCentroid("cell")}[i]) AS qrv
           FROM (SELECT vec_id AS query_id, v AS qv,
                   unnest(sorted_cells[1:2]) AS cell
                 FROM cells WHERE vec_id < 5) CROSS JOIN sgt),
       cand AS (SELECT query_id, neighbor_id,
           ${sqlPqAdc("qrv")} AS adist
         FROM enc JOIN q USING (cell) CROSS JOIN pqt
         WHERE query_id <> neighbor_id)
       SELECT query_id, neighbor_id, rank, round(adist, 6) AS adist FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY round(adist, 6) ASC, neighbor_id) AS rank FROM cand)
       WHERE rank <= 10"""
  }

  /** The augmented-IVF MIPS oracle: [[eMipsIvfTopK]]'s reduction replayed
    * in SQL — identical augmentation arithmetic (mn = sqrt(max Σx²) once;
    * corpus gets sqrt(greatest(mn·mn − Σx², 0)), queries get 0) feeding
    * the same cell-sort/probe/cosine pipeline as [[sqlIvfTopK]] at 65
    * dims.
    */
  private lazy val sqlMipsIvfTopK: String = {
    def cellsOf(src: String) =
      s"""SELECT vec_id, v,
             list_transform(${sqlCellsByCosine("v", 65)},
               st -> st.cell) AS sorted_cells
           FROM $src CROSS JOIN sgt"""
    s"""WITH sgt AS (SELECT ${sqlSigns(8, 65)}::DOUBLE[] AS sg),
         e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         n AS (SELECT vec_id, v0,
             list_reduce([0.0] || list_transform(v0, x -> x * x),
               (acc, x) -> acc + x) AS d FROM e0),
         mm AS (SELECT sqrt(max(d)) AS mn FROM n),
         ec AS (SELECT vec_id, v0 || [sqrt(greatest(mn * mn - d, 0.0))] AS v
                FROM n CROSS JOIN mm),
         eq AS (SELECT vec_id, v0 || [0.0] AS v FROM n WHERE vec_id < 5),
         cellsC AS (${cellsOf("ec")}),
         cellsQ AS (${cellsOf("eq")}),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
               FROM cellsC),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cellsQ),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= 10"""
  }

  /** The untrained-centroid IVF search oracle, shared by the recompute
    * (e_ivf_topk) and materialized-index (e_ivf_index_topk) variants —
    * identical semantics by construction.
    */
  /** The plain-IVF candidate chain cut at `rank <= k` — shared by the
    * e_ivf_topk oracle (k=10) and the hard-negative oracle's wider cut.
    */
  private def sqlIvfCand(k: Int, corpusPred: String = "TRUE"): String = {
    s"""WITH sgt AS (SELECT ${sqlSigns(8, 64)}::DOUBLE[] AS sg),
         e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         cells AS (SELECT vec_id, label, v,
             list_transform(${sqlCellsByCosine("v")},
               st -> st.cell) AS sorted_cells
           FROM e CROSS JOIN sgt),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, sorted_cells[1] AS cell
               FROM cells WHERE $corpusPred),
         q AS (SELECT vec_id AS query_id, v AS qv, unnest(sorted_cells[1:2]) AS cell
               FROM cells WHERE vec_id < 5),
         cand AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS cos
           FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY round(cos, 6) DESC, neighbor_id) AS rank FROM cand)
         WHERE rank <= $k"""
  }
  private lazy val sqlIvfTopK: String = sqlIvfCand(10)
  private lazy val sqlFilteredTopK: String = sqlIvfCand(10, "label = 1")
}
