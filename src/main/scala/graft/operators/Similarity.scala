package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact; broadcast the (small) query set against the
  *    corpus — one narrow pass over the corpus, a single top-k shuffle keyed
  *    by query id. Baseline + verifier.
  *  - [[srpTopK]]: sign-random-projection LSH with multi-probe: corpus is
  *    bucketed once (narrow), queries probe their bucket and near buckets
  *    (Hamming ≤ probeRadius on the signature), candidates ranked exactly.
  *    At 100 TB the corpus-side work is one signature projection + a
  *    bucket-keyed shuffle; no cross join.
  *
  * Every search here and in [[Pq]] is one shape — candidate generation,
  * then one per-query top-k refinement (the REPOSE decomposition of
  * distributed top-k search) — spelled once: candidates come from
  * [[flatScan]] (the hinted cross join), [[cellProbe]] (the hinted IVF cell
  * equi-join) or the SRP signature equi-join; [[topKPerQuery]] is the one
  * rank window; [[rescore]] is the exact-cosine fetch-on-verify tail of the
  * compressed flat scans; [[cellsByCosine]] is the one centroid sort; and
  * [[writeCellIndex]]/[[readCellIndex]] are the one cell-partitioned index
  * format. The SRP signature equi-join carries no hint: the planner sizes
  * it, and an oversized query side shuffles on the signature instead of an
  * OOM.
  */
object Similarity {

  import graft.functions.KernelExpressions.vecCosine

  /** The flat scan: every corpus row against every query, self-matches
    * removed. The query side is hinted with a plain `broadcast(...)`:
    * unhinted, a query side the planner sizes above the auto-broadcast
    * threshold plans this non-equi join as a CartesianProduct against the
    * whole corpus, which AQE cannot turn back into a broadcast.
    * [[graft.plans.BroadcastGuard]] drops the hint when that side is
    * oversized, as in corpus-vs-corpus retrieval.
    */
  private[operators] def flatScan(q: DataFrame, c: DataFrame): DataFrame =
    c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id"))

  /** The IVF probe: each corpus row meets the queries that probe its
    * `cell`, self-matches removed. Hinted like [[flatScan]]: unhinted, the
    * planner builds the corpus side of this equi-join.
    */
  private[operators] def cellProbe(c: DataFrame, q: DataFrame): DataFrame =
    c.join(broadcast(q), Seq("cell")).filter(col("query_id") =!= col("neighbor_id"))

  /** The one rank window: per query, the first `k` rows by `order` with
    * the neighbor id as tiebreak, numbered 1.. in an int `rank`.
    */
  private def topKPerQuery(scored: DataFrame, order: Column,
      k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** [[topKPerQuery]] on `score` rounded to 6 places (descending, or
    * ascending for distances), projected to
    * (query_id, neighbor_id, rank, score) — the output of every search.
    */
  private[operators] def rankedBy(scored: DataFrame, score: String, k: Int,
      ascending: Boolean = false): DataFrame = {
    val rounded = round(col(score), 6)
    topKPerQuery(scored, if (ascending) rounded.asc else rounded.desc, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), rounded.as(score))
  }

  /** Exact cosine of (q_vec, c_vec) pairs, ranked per query. */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    rankedBy(pairs.withColumn("cosine", vecCosine(col("q_vec"), col("c_vec"))),
      "cosine", k)

  private def querySide(queries: DataFrame, idCol: String, vecCol: String) =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))

  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String) =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))

  /** Fetch-on-verify: only the candidate (query_id, neighbor_id) pairs
    * rejoin their full-precision vectors through id equi-joins (the shape
    * of the LSH dedup verifies) and rank by exact cosine — the tail of
    * [[quantizedTopK]], [[binaryTopK]] and [[truncatedTopK]].
    */
  private def rescore(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    cosineTopK(cand.join(corpusSide(corpus, idCol, vecCol), Seq("neighbor_id"))
      .join(querySide(queries, idCol, vecCol), Seq("query_id")), k)

  /** Exact top-k: queries × corpus cosine, rank per query.
    * The query side is usually small and broadcast; an oversized one loses
    * the hint to [[graft.plans.BroadcastGuard]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10): DataFrame =
    cosineTopK(flatScan(querySide(queries, idCol, vecCol),
      corpusSide(corpus, idCol, vecCol)), k)

  /** Exact maximum-inner-product top-k (MIPS — the retrieval scoring for
    * unnormalized embeddings, e.g. recommendation and learned-sparse
    * models, where cosine's normalization destroys the score): queries ×
    * corpus dot product through the codegen'd [[graft.functions
    * .KernelExpressions.vecDot]] kernel, ranked per query. Same
    * query-side broadcast and shuffle shape as [[bruteForceTopK]].
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10): DataFrame =
    rankedBy(flatScan(querySide(queries, idCol, vecCol),
        corpusSide(corpus, idCol, vecCol))
      .withColumn("dot", graft.functions.KernelExpressions.vecDot(col("q_vec"), col("c_vec"))),
      "dot", k)

  /** Order-preserving MIPS→cosine reduction (the Shrivastava–Li /
    * Neyshabur–Srebro augmentation): corpus vectors append
    * sqrt(M² − |x|²) with M ≥ every corpus norm, queries append 0 — all
    * augmented corpus vectors then share norm M, so augmented COSINE
    * order per query equals inner-product order. This is what lets every
    * cosine index in this module (SRP, IVF, PQ, IVF-PQ) serve MIPS
    * unchanged: augment at index build, search with the cosine machinery.
    * Returns the frame with `vecCol` replaced by its augmented form
    * (queries: pass `isQuery = true` to append the 0).
    */
  def mipsAugment(df: DataFrame, vecCol: String, maxNorm: Double,
      isQuery: Boolean = false): DataFrame = {
    val v = col(vecCol)
    val aug =
      if (isQuery) concat(v.cast("array<double>"), array(lit(0.0)))
      else {
        val normSq = aggregate(v, lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        concat(v.cast("array<double>"),
          array(sqrt(greatest(lit(maxNorm * maxNorm) - normSq, lit(0.0)))))
      }
    df.withColumn(vecCol, aug)
  }

  /** Recall@k of an approximate top-k result against the exact one: per
    * query, the fraction of exact neighbors the ANN result retrieved. Both
    * inputs carry (query_id, neighbor_id) rows (ranks ignored — recall is
    * set overlap). The evaluation harness for tuning plane/probe/nprobe
    * parameters before a corpus-scale rollout: both sides are per-query
    * top-k tables (tiny — queries × k rows), so the join is trivially
    * cheap regardless of corpus size.
    */
  def annRecall(exact: DataFrame, ann: DataFrame): DataFrame =
    // both projections deduped: a duplicated (query, neighbor) row on
    // either side (e.g. a union of parameter sweeps) would inflate k and
    // hits through the join multiplicity and report a wrong recall
    exact.select(col("query_id"), col("neighbor_id")).dropDuplicates()
      .join(ann.select(col("query_id"), col("neighbor_id")).dropDuplicates()
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0))).as("hits"))
      .withColumn("recall", round(col("hits").cast("double") / col("k"), 6))
      .select(col("query_id"), col("hits"), col("recall"))

  /** SRP-LSH top-k with multi-probe.
    *
    * The probe is an EQUI-join: every XOR mask with ≤ `probeRadius` bits
    * set (Σ C(numPlanes, i) masks — query-independent, enumerated once on
    * the driver) expands each query signature into its probe signatures,
    * and the corpus joins on exact signature equality. Identical candidate
    * set to a Hamming-distance predicate (a corpus row within radius
    * matches exactly one probe), but the join is HASH-joinable — no
    * nested-loop scan, and it scales past a broadcastable query set to a
    * shuffle hash join on the signature.
    *
    * @param probeRadius candidates are corpus rows whose signature is within
    *                    this Hamming distance of the query signature.
    */
  def srpTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, numPlanes: Int = 12, dim: Int = 64,
      probeRadius: Int = 2): DataFrame = {
    val planes = VectorOps.rademacherPlanes(numPlanes, dim)
    def sig(v: org.apache.spark.sql.Column) = element_at(
      graft.functions.KernelExpressions.srpBucketKeys(v, planes, 1, numPlanes), 1)
    val masks: Seq[Long] = (0 to probeRadius).flatMap(i =>
      (0 until numPlanes).combinations(i).map(_.foldLeft(0L)((a, p) => a | (1L << p))))
    val q = querySide(queries, idCol, vecCol)
      .withColumn("q_sig", sig(col("q_vec")))
      .withColumn("probe_sig",
        explode(transform(typedLit(masks), m => col("q_sig").bitwiseXOR(m))))
    val c = corpusSide(corpus, idCol, vecCol).withColumn("c_sig", sig(col("c_vec")))
    cosineTopK(c.join(q,
      col("probe_sig") === col("c_sig") && col("query_id") =!= col("neighbor_id")), k)
  }

  /** Spherical k-means for IVF coarse centroids: each Lloyd iteration is
    * ONE aggregation job — assign every vector to its max-cosine centroid
    * (narrow kernel projection), then average per (cell, dimension) via
    * posexplode + groupBy. Centroids stay driver-side (k × dim doubles) and
    * are re-broadcast as literals each round; empty cells keep their
    * previous centroid. At 100 TB you train on a sample, which is exactly
    * this call on `corpus.sample(...)`.
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, k: Int, dim: Int,
      iters: Int = 5): Seq[Seq[Double]] = {
    var centroids = VectorOps.rademacherPlanes(k, dim)
    for (_ <- 0 until iters) {
      val assigned = corpus.select(col(vecCol).as("v"))
        .withColumn("cell", element_at(nearestCells(col("v"), centroids, 1), 1))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getAs[Int]("cell"))
        .view.mapValues(rows =>
          rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toSeq)
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    centroids
  }

  /** A pinned, size-bounded training sample: at most `maxRows` rows ever
    * feed a Lloyd iteration, whatever the corpus size. localCheckpoint pins
    * the draw so every iteration trains on the SAME rows (a re-evaluated
    * sample+limit can shift between jobs) and truncates the corpus lineage
    * out of the training loop.
    */
  private[operators] def boundedTrainingSample(df: DataFrame, maxRows: Long,
      seed: Long): DataFrame = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val total = df.count()
    val sampled =
      if (total <= maxRows) df
      else {
        // limit() takes an Int: clamp huge budgets instead of overflowing
        // negative (a >2B-row training sample exceeds driver-side Lloyd
        // practicality anyway — the clamp is the effective ceiling)
        val n = math.min(maxRows, Int.MaxValue.toLong).toInt
        df.sample(withReplacement = false,
          math.min(1.0, maxRows.toDouble * 1.1 / total), seed).limit(n)
      }
    sampled.pinned()
  }

  /** [[trainCentroids]] behind an EXECUTABLE sample-first contract: the
    * Lloyd loop never sees more than `maxTrainRows` vectors (uniform
    * sample, pinned), so training cost — and the k×dim means collected per
    * iteration — is bounded by the budget, not the corpus. Returns the
    * centroids plus the actual training-row count (always <= the budget;
    * asserted, not assumed). At 100 TB this is THE way to call
    * trainCentroids; the raw method stays for small/already-sampled
    * inputs.
    */
  def trainCentroidsSampled(corpus: DataFrame, vecCol: String, k: Int,
      dim: Int, iters: Int = 5, maxTrainRows: Long = 100000L,
      seed: Long = 42L): (Seq[Seq[Double]], Long) = {
    val train = boundedTrainingSample(corpus.select(col(vecCol).as(vecCol)),
      maxTrainRows, seed)
    val used = train.count()
    assert(used <= maxTrainRows,
      s"training sample $used exceeded the $maxTrainRows budget")
    (trainCentroids(train, vecCol, k, dim, iters), used)
  }

  /** Every centroid of a vector as a (negCos, cell) struct, sorted
    * ascending by negCos = descending by cosine, ties by cell index — the
    * exact order the DuckDB oracles replicate (`Shared.sqlCellsByCosine`).
    * Position 1 is the vector's own cell, position 2 its nearest other.
    */
  private def cellsByCosine(vec: Column,
      centroids: Seq[Seq[Double]]): Column =
    array_sort(array(centroids.zipWithIndex.map { case (ctr, i) =>
      struct((vecCosine(vec, typedLit(ctr)) * -1).as("negCos"), lit(i).as("cell"))
    }: _*))

  /** The `n` nearest centroid cells of a vector by cosine, descending
    * (ties by cell index — see [[cellsByCosine]]).
    */
  def nearestCells(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column =
    slice(cellsByCosine(vec, centroids), 1, n).getField("cell")

  /** IVF-style coarse quantization: assign every corpus vector to its
    * nearest of `centroids` (driver-side literal list — see
    * [[trainCentroids]]); queries search only their `nprobe` nearest
    * centroid cells. The cell assignment is a narrow projection; the search
    * is a cell-keyed join — the 100 TB-scale layout for dense retrieval.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], k: Int = 10,
      nprobe: Int = 2): DataFrame =
    rankCells(queries, withCell(corpusSide(corpus, idCol, vecCol), centroids),
      idCol, vecCol, centroids, k, nprobe)

  /** A [[corpusSide]] frame with each vector's nearest `cell`. */
  private def withCell(c: DataFrame, centroids: Seq[Seq[Double]]) =
    c.withColumn("cell", element_at(nearestCells(col("c_vec"), centroids, 1), 1))

  /** Materialized IVF index: the corpus written ONCE partitioned by coarse
    * cell. At 100 TB you do not re-assign cells per query — the directory
    * layout IS the index, and each search reads only its `nprobe` cells:
    * the cell-keyed join against the partition column drives dynamic
    * partition pruning, so the scan touches ~nprobe/k of the files.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], path: String): Unit =
    writeCellIndex(withCell(corpusSide(corpus, idCol, vecCol), centroids),
      path, indexIdentity(centroids))

  /** The trained artifacts are part of a cell index's identity — cell
    * numbers from a DIFFERENT centroid family still join numerically, and
    * codes from different codebooks still score, returning confidently
    * wrong neighbors with no error — so a digest of the exact doubles (bit
    * patterns) of the centroids and of every codebook is persisted with
    * the index and asserted on every query/append, the same discipline as
    * the LSH band index's parameter manifest. An IVF index, with no
    * codebooks, records the centroid digest alone.
    */
  private[operators] def indexIdentity(centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]] = Nil): String =
    (centroids +: codebooks).map { m =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = java.nio.ByteBuffer.allocate(8)
      m.foreach(_.foreach { d =>
        buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(d))
        md.update(buf.array())
      })
      s"${m.size}x${m.headOption.map(_.size).getOrElse(0)}:" +
        md.digest().map("%02x".format(_)).mkString
    }.mkString(" ")

  private def manifestPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/ivf_centroids.digest").toString

  private def assertIdentity(spark: SparkSession, path: String,
      identity: String): Unit = {
    val p = manifestPath(path)
    val stored = graft.io.Fs.readString(spark, p)
    require(stored.isDefined,
      s"no identity manifest at $p — index not written by writeIvfIndex/writePqIndex?")
    require(stored.contains(identity),
      s"index at $path was written with identity digest ${stored.get} but " +
        s"queried with $identity — retrain or rebuild, don't mix families")
  }

  /** The one cell-partitioned index writer ([[writeIvfIndex]],
    * [[Pq.writePqIndex]]): `projected` written partitioned by its `cell`
    * column, then the identity manifest and the STORED schema (so a later
    * search with differently-typed query vectors — float corpus, double
    * queries — still reads the index; see [[graft.io.IndexSchema]]).
    */
  private[operators] def writeCellIndex(projected: DataFrame, path: String,
      identity: String): Unit = {
    val spark = projected.sparkSession
    projected.write.partitionBy("cell").mode("overwrite").parquet(path)
    graft.io.Fs.writeString(spark, manifestPath(path), identity)
    graft.io.IndexSchema.write(spark, path, projected.schema)
  }

  /** The one cell-index reader ([[ivfIndexTopK]], [[Pq.pqIndexTopK]]):
    * asserts the identity, then reads (neighbor_id, `payload`, cell) under
    * an explicit schema — the writer's sidecar when present (the STORED
    * types), else a 0-row projection of the query frame with `payloadExpr`
    * (pre-sidecar indexes). Explicit either way because an index written
    * from an EMPTY corpus has no data files under partitionBy and
    * inference would fail the read.
    */
  private[operators] def readCellIndex(spark: SparkSession, path: String,
      identity: String, queries: DataFrame, idCol: String, payload: String,
      payloadExpr: Column): DataFrame = {
    assertIdentity(spark, path, identity)
    val schema = graft.io.IndexSchema.read(spark, path).getOrElse(
      queries.limit(0).select(col(idCol).as("neighbor_id"), payloadExpr.as(payload),
        lit(0).cast("int").as("cell")).schema)
    spark.read.schema(schema).parquet(path)
      .select(col("neighbor_id"), col(payload), col("cell").cast("int").as("cell"))
  }

  /** Incrementally APPEND new vectors to an index written by
    * [[writeIvfIndex]] (same centroids): each batch is cell-assigned and
    * appended into the per-cell directories — the daily embedding-ingest
    * path. Searches see old + new rows identically to a full rebuild; run
    * [[graft.io.Bucketing.compactSorted]]-style maintenance per cell when
    * appends accumulate small files.
    */
  def appendIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], path: String): Unit = {
    assertIdentity(newVecs.sparkSession, path, indexIdentity(centroids))
    val projected = withCell(corpusSide(newVecs, idCol, vecCol), centroids)
    // an append whose id/vector types differ from the stored ones would
    // produce a mixed-type parquet directory that fails only at READ time
    // under the sidecar schema — fail loudly here instead
    graft.io.IndexSchema.read(newVecs.sparkSession, path).foreach { stored =>
      for (f <- Seq("neighbor_id", "c_vec")) {
        val want = stored(f).dataType
        val got = projected.schema(f).dataType
        require(got == want,
          s"appendIvfIndex: $f type ${got.simpleString} does not match the " +
            s"index's stored ${want.simpleString} at $path — cast the batch " +
            "or rebuild the index with writeIvfIndex")
      }
    }
    projected.write.partitionBy("cell").mode("append").parquet(path)
  }

  /** Search a materialized index written by [[writeIvfIndex]] with the SAME
    * centroid list. Identical results to [[ivfTopK]]; the corpus-side cell
    * assignment is read from the partition column instead of recomputed.
    */
  def ivfIndexTopK(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]], path: String,
      k: Int = 10, nprobe: Int = 2): DataFrame =
    rankCells(queries, readCellIndex(spark, path, indexIdentity(centroids),
        queries, idCol, "c_vec", col(vecCol)),
      idCol, vecCol, centroids, k, nprobe)

  /** Quantized flat search with exact rescore — the int8 compression
    * pattern (FAISS `IndexFlat`-with-SQ8 analog): candidates are scored
    * against the 8× smaller int8 index (`Kernels.int8Quantize`, integer dot
    * product), then ONLY the `candidates` survivors per query fetch their
    * float vectors for exact cosine ranking. At 100 TB the full-precision
    * embedding table is the dominant storage cost; the scan that touches
    * every row reads the int8 column (8 B/dim → 1 B/dim) and the exact
    * rescore reads ~candidates/corpus of the float rows via an id equi-join
    * (fetch-on-verify, same shape as the LSH dedup verifies).
    *
    * The quantized scan itself is the documented brute-force shape (tiny
    * broadcast query side × corpus); swap the candidate stage for
    * [[ivfTopK]] cells when the corpus outgrows a flat scan.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, candidates: Int = 30): DataFrame = {
    import graft.functions.KernelExpressions.{dotLong, int8Quantize}
    val q8 = queries.select(col(idCol).as("query_id"),
      int8Quantize(col(vecCol)).as("q8"))
    val c8 = corpus.select(col(idCol).as("neighbor_id"),
      int8Quantize(col(vecCol)).as("c8"))
    // the flat scan is inherently a small-query-set operator
    val cand = topKPerQuery(flatScan(q8, c8)
        .withColumn("qdot", dotLong(col("q8"), col("c8"))),
        col("qdot").desc, candidates)
      .select(col("query_id"), col("neighbor_id"))
    rescore(cand, queries, corpus, idCol, vecCol, k)
  }

  /** Binary-quantized flat ANN with exact rescore: vectors pack to 1 bit
    * per dimension (sign, [[graft.functions.Kernels.signBits]] — a 64-dim
    * float vector becomes ONE long, a 256× byte reduction), candidates rank
    * by Hamming distance (xor + popcount per word, exact integer arithmetic
    * so candidate sets are bit-stable cross-engine with no rounding step),
    * and only `candidates` ids per query rejoin the full-precision vectors
    * for exact cosine ranking — the RaBitQ/binary-sketch retrieval baseline.
    * At 100 TB the packed corpus is what a flat scan reads (1/32 of the
    * float bytes), and the fetch-on-verify join touches only k·|queries|
    * full vectors; the query side is broadcast like every flat scan in
    * this module.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, candidates: Int = 30): DataFrame = {
    import graft.functions.KernelExpressions.{hammingLong, signBits}
    val qb = queries.select(col(idCol).as("query_id"),
      signBits(col(vecCol)).as("qb"))
    val cb = corpus.select(col(idCol).as("neighbor_id"),
      signBits(col(vecCol)).as("cb"))
    val cand = topKPerQuery(flatScan(qb, cb)
        .withColumn("hd", hammingLong(col("qb"), col("cb"))),
        col("hd").asc, candidates)
      .select(col("query_id"), col("neighbor_id"))
    rescore(cand, queries, corpus, idCol, vecCol, k)
  }

  /** Prefix-dimension (Matryoshka-style) two-stage retrieval: candidates
    * ranked by dot product over only the FIRST `prefixDim` dimensions —
    * the cheap coarse pass when embeddings are trained front-loaded (MRL)
    * or simply truncated — then exact full-dimension cosine rescoring of
    * the survivors. The scale shape mirrors [[quantizedTopK]]: the coarse
    * scan touches prefixDim/dim of the vector bytes (a 4× read reduction
    * at 16/64 here; far more at production 1536-dim), and only `candidates`
    * ids per query rejoin the full-precision vectors. Prefix scores round
    * to 1e-6 before ranking (neighbor-id tiebreak) so candidate sets are
    * bit-stable cross-engine, like every float ranking in this module.
    */
  def truncatedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, prefixDim: Int, k: Int = 10, candidates: Int = 30): DataFrame = {
    import graft.functions.KernelExpressions.vecDot
    val qp = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, prefixDim).as("qp"))
    val cp = corpus.select(col(idCol).as("neighbor_id"),
      slice(col(vecCol), 1, prefixDim).as("cp"))
    val cand = topKPerQuery(flatScan(qp, cp)
        .withColumn("pdot", vecDot(col("qp"), col("cp"))),
        round(col("pdot"), 6).desc, candidates)
      .select(col("query_id"), col("neighbor_id"))
    rescore(cand, queries, corpus, idCol, vecCol, k)
  }

  /** Maximal-Marginal-Relevance diversified rerank (Carbonell & Goldstein,
    * SIGIR 1998): the slate a RAG / few-shot selector actually wants — each
    * pick maximizes `lambda*relevance - (1-lambda)*maxCosineToPicked`, so
    * near-duplicate candidates cannot crowd out coverage the way a plain
    * cosine top-k lets them.
    *
    * Scale shape: the distributed work is the [[bruteForceTopK]] scan (one
    * narrow corpus pass scoring against the query literal, a TakeOrdered
    * top-n cut); the greedy loop then runs over the n surviving candidates
    * on the driver — k*n bounded cosines independent of corpus size, the
    * same bounded-driver contract as [[kCenterGreedy]]. Relevance, pair
    * cosines, and scores are rounded to 6 decimals (Spark `round`
    * semantics) before every comparison, with id tiebreaks, so the
    * selection is exactly replayable cross-engine.
    *
    * @return (mmr_rank 1-based, id, rel, mmr_score) per selected candidate
    */
  def mmrRerank(queryVec: Array[Double], corpus: DataFrame, idCol: String,
      vecCol: String, n: Int = 50, k: Int = 10,
      lambda: Double = 0.7): Seq[(Int, Long, Double, Double)] = {
    require(n >= k && k >= 1, s"need n >= k >= 1, got n=$n k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val qCol = array(queryVec.map(lit): _*)
    val cand = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"),
        round(vecCosine(qCol, col(vecCol)), 6).as("rel"))
      .orderBy(col("rel").desc, col("id")).limit(n)
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Number](1).map(_.doubleValue()).toArray,
          r.getDouble(2))
      }
    // Spark Round(double) semantics, so the driver-side scores agree with
    // the engine-side `rel` and with the oracle's round()
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // same fold and zero-norm convention as Kernels.cosine / the oracle
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val sna = math.sqrt(na); val snb = math.sqrt(nb)
      if (sna == 0.0 || snb == 0.0) 0.0 else dot / (sna * snb)
    }
    val mu = 1 - lambda
    val remaining = scala.collection.mutable.LinkedHashMap(
      cand.map(c => c._1 -> c).toSeq: _*)
    val selVecs = scala.collection.mutable.ListBuffer.empty[Array[Double]]
    val picks = scala.collection.mutable.ListBuffer.empty[(Int, Long, Double, Double)]
    for (r <- 1 to math.min(k, cand.length)) {
      val best = remaining.values.map { case (id, v, rel) =>
        val maxSim =
          if (selVecs.isEmpty) 0.0
          else selVecs.map(sv => r6(cosD(v, sv))).max
        (r6(lambda * rel - mu * maxSim), id, v, rel)
      }.minBy { case (score, id, _, _) => (-score, id) }
      picks += ((r, best._2, best._4, best._1))
      selVecs += best._3
      remaining.remove(best._2)
    }
    picks.toList
  }

  /** Greedy k-center (farthest-point) selection — coreset-style diversity
    * pruning for training-data curation: pick the row with the smallest id
    * as the seed, then k-1 times the row FARTHEST (squared L2, index-order
    * fold) from the selected set, ties to the smaller id.
    *
    * Scale contract: each round is ONE narrow aggregation over the corpus
    * (`max(struct(minDist, -id, vec))` — map-side combined), so the driver
    * receives exactly k rows of (id, dim floats, radius) and the corpus
    * never shuffles. Distances re-derive from the accumulating `least(...)`
    * expression rather than a cached column, trading k² tiny vector evals
    * per row (k ≤ ~64) for zero persisted state.
    *
    * Returns (sel_round, id, radius): radius is the selected row's distance
    * to the previously selected set — the coverage radius the corpus had
    * BEFORE this center was added (0 for the seed). May return FEWER than
    * k picks: once every remaining row is at distance 0 from the selected
    * set (k exceeds the distinct-vector count), selection stops instead of
    * padding with duplicate centers.
    */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Int, Long, Double)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    def l2sq(center: Array[Double]): org.apache.spark.sql.Column = {
      val c = array(center.map(lit): _*)
      aggregate(
        zip_with(col(vecCol), c, (x, y) => { val d = x.cast("double") - y; d * d }),
        lit(0.0), (acc, v) => acc + v)
    }
    val seedOpt = corpus.select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol)).limit(1).collect().headOption
    // empty corpus → empty selection (selector contract: empty-in,
    // empty-out — not a head-of-empty-Dataset crash)
    if (seedOpt.isEmpty) return Nil
    val seed = seedOpt.get
    // vecCol may be array<float> or array<double>: read as Number
    var centers = List((seed.getLong(0),
      seed.getSeq[Number](1).map(_.doubleValue()).toArray))
    val picks = scala.collection.mutable.ListBuffer((0, seed.getLong(0), 0.0))
    var exhausted = false
    for (r <- 1 until k if !exhausted) {
      val minDist = centers.map(c => l2sq(c._2))
        .reduce((a, b) => least(a, b))
      val best = corpus.agg(max(struct(
          minDist.as("d"), (-col(idCol).cast("long")).as("nid"),
          col(vecCol).as("v"))).as("m"))
        .select(col("m.d"), col("m.nid"), col("m.v")).head()
      // every remaining row is distance 0 from the selected set (k exceeds
      // the number of DISTINCT vectors): stop rather than silently padding
      // the result with duplicate centers
      if (best.getDouble(0) == 0.0) exhausted = true
      else {
        val id = -best.getLong(1)
        picks += ((r, id, best.getDouble(0)))
        centers = (id, best.getSeq[Number](2).map(_.doubleValue()).toArray) :: centers
      }
    }
    picks.toList
  }

  /** Embedding-distribution drift between two corpus slices, measured on
    * the trained coarse cells — the vector-side dual of the text JS-drift
    * audit: each slice's per-cell share (ppm, exact integers when slice
    * sizes divide 1e6 — true for the generated corpora) and the absolute
    * per-cell share delta. One narrow assignment projection + one
    * conditional aggregation; the share window runs over k cell rows
    * (bounded by the centroid count, never the corpus), so nothing here
    * scales with |corpus| except the single scan.
    */
  def cellDrift(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val assigned = corpus.select((col(idCol) % 2 === 0).as("even"),
      element_at(nearestCells(col(vecCol), centroids, 1), 1).cast("long").as("cell"))
    val perCell = assigned.groupBy(col("cell")).agg(
      sum(when(col("even"), 1L).otherwise(0L)).as("n_even"),
      sum(when(!col("even"), 1L).otherwise(0L)).as("n_odd"))
    val w = Window.partitionBy(lit(1))
    perCell
      .withColumn("share_even_e6",
        round(col("n_even") * 1000000.0 / sum(col("n_even")).over(w), 0).cast("long"))
      .withColumn("share_odd_e6",
        round(col("n_odd") * 1000000.0 / sum(col("n_odd")).over(w), 0).cast("long"))
      .select(col("cell"), col("n_even"), col("n_odd"),
        abs(col("share_even_e6") - col("share_odd_e6")).as("delta_share_e6"))
  }

  /** Per-cluster profile of a coarse quantization (corpus mixture audit /
    * IVF balance check): each vector assigns to its max-cosine centroid —
    * the same narrow kernel projection as [[ivfTopK]]'s corpus side — and
    * the aggregate is one map-side-combinable groupBy over k cells. The
    * per-row cosine is rounded to 1e-6 and summed as an INTEGER so the
    * cluster mean is bit-stable under any partitioning/aggregation order
    * (a double sum would make the hash depend on plan shape).
    */
  def clusterProfile(corpus: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    corpus.select(col(vecCol).as("v"))
      .withColumn("best", element_at(cellsByCosine(col("v"), centroids), 1))
      .select(col("best").getField("cell").cast("long").as("cell"),
        round(col("best").getField("negCos") * -1, 6).as("cos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("cos") * 1000000, 0).cast("long")).as("cos_e6"))
      .select(col("cell"), col("n"),
        round(col("cos_e6") / col("n") / 1000000.0, 6).as("avg_cos"))
  }

  /** Centroid-based silhouette score per cluster — the clustering-quality
    * audit: for each vector, `a` = cosine distance to its own (max-cos)
    * centroid, `b` = distance to the nearest OTHER centroid, and
    * `s = (b - a) / max(a, b)` (0 when degenerate). Both distances fall
    * out of ONE sorted per-row centroid scan (positions 1 and 2 of the
    * k-length array — k cosine kernels per row, no joins, no shuffle
    * until the k-cell rollup), so the audit costs the same single pass
    * as [[clusterProfile]]. Per-point silhouettes are rounded to 1e-6
    * and summed as integers — cluster means bit-stable under any
    * partitioning, same device as clusterProfile.
    */
  def silhouetteProfile(corpus: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    // the nearest-OTHER term reads array position 2 — with one centroid
    // that's past the array end (ANSI error / null-poisoned averages);
    // silhouette is undefined for a single cluster anyway
    require(centroids.size >= 2,
      s"silhouette needs >= 2 centroids, got ${centroids.size}")
    corpus.select(col(vecCol).as("v"))
      .withColumn("arr", cellsByCosine(col("v"), centroids))
      .select(element_at(col("arr"), 1).getField("cell").cast("long").as("cell"),
        (lit(1.0) + element_at(col("arr"), 1).getField("negCos")).as("a"),
        (lit(1.0) + element_at(col("arr"), 2).getField("negCos")).as("b"))
      .withColumn("s", when(col("b") <= 0.0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("s") * 1000000, 0).cast("long")).as("s_e6"))
      .select(col("cell"), col("n"),
        round(col("s_e6") / col("n") / 1000000.0, 6).as("avg_silhouette"))
  }

  /** Embedding OUTLIER audit — the OOD-detection pass a curation
    * pipeline runs before trusting its clusters: each vector's cosine to
    * its OWN (max-cos) trained centroid is z-scored WITHIN its cell, and
    * the `topN` farthest-below-mean vectors surface (high z = far out in
    * its own neighborhood = mislabeled / garbage / off-distribution).
    *
    * Determinism device (the [[clusterProfile]] convention): per-vector
    * cosine rounds to 1e-6 and is summed as an exact long, so the cell
    * mean/stddev are single exact divisions — bit-stable under any
    * partitioning; z is then one more deterministic division, ranked
    * with the id as final tiebreak.
    *
    * Scale shape: one codegen'd centroid scan per row (no join), one
    * k-cell aggregation, cell stats broadcast back (≤ |centroids| rows),
    * and a TakeOrdered top-N — no global sort, nothing row-scale on the
    * driver.
    *
    * @return (id, cell, cos, z) — topN rows, z descending
    */
  def embeddingOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], topN: Int): DataFrame = {
    require(centroids.nonEmpty && topN > 0)
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("best", element_at(cellsByCosine(col("v"), centroids), 1))
      .select(col("id"), col("best").getField("cell").cast("long").as("cell"),
        round(col("best").getField("negCos") * -1, 6).as("cos"))
      .withColumn("cos_e6", round(col("cos") * 1000000, 0).cast("long"))
      .pinned() // read by the cell stats AND the scoring pass
    val stats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cell"),
        sum(col("cos_e6")).as("s1"),
        sum(col("cos_e6") * col("cos_e6")).as("s2"))
      .select(col("cell"), col("n_cell"),
        (col("s1").cast("double") / col("n_cell")).as("mu"),
        sqrt(greatest(
          col("s2").cast("double") / col("n_cell") -
            (col("s1").cast("double") / col("n_cell")) *
            (col("s1").cast("double") / col("n_cell")),
          lit(0.0))).as("sigma"))
    assigned.join(stats, "cell")
      .filter(col("sigma") > 0.0) // a constant cell has no outliers
      .select(col("id"), col("cell"), col("cos"),
        round((col("mu") - col("cos_e6").cast("double")) / col("sigma"), 4)
          .as("z"))
      .orderBy(col("z").desc, col("id"))
      .limit(topN)
  }

  private def rankCells(queries: DataFrame, cellsCorpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], k: Int, nprobe: Int): DataFrame = {
    val q = querySide(queries, idCol, vecCol)
      .withColumn("cell", explode(nearestCells(col("q_vec"), centroids, nprobe)))
    cosineTopK(cellProbe(cellsCorpus, q), k)
  }
}
