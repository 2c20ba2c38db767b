package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Product quantization (PQ) for embedding columns: split each `dim`-wide
  * vector into `numSub` contiguous subvectors, quantize each against its own
  * `ksub`-entry codebook, and score with asymmetric distance computation
  * (ADC — query stays full-precision, corpus is codes only).
  *
  * This is the storage-side compression lever for 100 TB dense retrieval:
  * a 64-dim float vector (256 B) becomes `numSub` small code integers
  * (4 B at 4×8), so the scan that touches every row reads ~64× less data;
  * compose with [[Similarity.ivfTopK]] cells when a flat code scan itself
  * outgrows one pass (IVF-PQ, the FAISS large-corpus default). All
  * arithmetic is fold-ordered double math on expression trees — codegen'd,
  * bit-deterministic, replayable by the DuckDB oracle.
  *
  * Codebooks are driver-side literals, trained once on a sample
  * ([[trainCodebooks]], frozen via `graft.TrainPqCodebooks` like the IVF
  * centroids) and shipped as a versioned artifact — never retrained per
  * job.
  */
object Pq {

  /** Squared L2 distance (no sqrt — rank-equivalent for ADC and exactly
    * replayable: subtract/multiply/add only, left fold).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  private def sub(vec: Column, m: Int, dsub: Int): Column =
    slice(vec.cast("array<double>"), m * dsub + 1, dsub)

  /** Argmin-by-(distance, index) of a subvector against one codebook —
    * the same sorted-struct idiom as [[Similarity.nearestCells]], so ties
    * resolve identically in any engine.
    */
  private def nearestCode(subVec: Column, codebook: Seq[Seq[Double]]): Column = {
    val scored = codebook.zipWithIndex.map { case (ctr, j) =>
      struct(l2sq(subVec, typedLit(ctr)).as("d"), lit(j).as("j"))
    }
    element_at(slice(array_sort(array(scored: _*)), 1, 1), 1).getField("j")
  }

  /** PQ code array (`array<int>`, one code per subspace) for a vector
    * column. A narrow projection — encoding a corpus is one codegen'd
    * kernel scan ([[graft.functions.Kernels.pqEncode]]; the equivalent
    * sorted-struct argmin tree over `aggregate`/`zip_with` never enters
    * whole-stage codegen and benched ~3× slower), no shuffle.
    */
  def encodeExpr(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.KernelExpressions.pqEncode(vec, codebooks)

  /** ADC approximate squared distance between a full-precision query vector
    * and a code array: per subspace, the distance from the query subvector
    * to the centroid the code names, summed in subspace order
    * ([[graft.functions.Kernels.pqAdc]], same kernel rationale as encode).
    */
  def adcDistanceExpr(codes: Column, qVec: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.KernelExpressions.pqAdc(codes, qVec, codebooks)

  /** Top-k by ADC distance: encode the corpus (narrow scan), broadcast the
    * query side, rank ascending. The flat code scan is the documented
    * small-query-set shape (the PQ point is that the scan reads codes, not
    * vectors); an oversized query side loses the hint to
    * [[graft.plans.BroadcastGuard]], and corpus-vs-corpus retrieval should
    * add IVF cells.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[Seq[Double]]], k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      encodeExpr(col(vecCol), codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
    adcTopK(Similarity.flatScan(q, c), "q_vec", codebooks, k)
  }

  /** ADC distance of each (query, codes) pair, ranked ascending per query
    * — the refinement every PQ search ends in; `Pq` ranks are long.
    */
  private def adcTopK(pairs: DataFrame, qVec: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame =
    Similarity.rankedBy(
      pairs.withColumn("adist", adcDistanceExpr(col("codes"), col(qVec), codebooks)),
      "adist", k, ascending = true).withColumn("rank", col("rank").cast("long"))

  /** IVF-PQ: coarse cells prune the scan, PQ codes compress what's left —
    * composed exactly from [[Similarity.nearestCells]] (cell assignment /
    * nprobe probing) and [[encodeExpr]]/[[adcDistanceExpr]]. The probe is
    * a plain cell equi-join, so the plan is hash-joinable end to end (no
    * nested loop): at 100 TB the corpus side is a partition-pruned scan of
    * ~nprobe/k of the cells reading 4 B codes per vector — the FAISS
    * IVF-PQ layout as a relational plan. Codes here quantize RAW vectors
    * (codebooks are corpus-trained literals); classic residual encoding is
    * a drop-in swap of the encode/ADC inputs.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], k: Int = 10, nprobe: Int = 2): DataFrame =
    rankCoded(coded(corpus, idCol, vecCol, centroids, codebooks), queries, idCol,
      vecCol, centroids, codebooks, k, nprobe)

  /** (neighbor_id, cell, codes): the IVF-PQ corpus projection, searched
    * directly or written as the index.
    */
  private def coded(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      element_at(Similarity.nearestCells(col(vecCol), centroids, 1), 1).as("cell"),
      encodeExpr(col(vecCol), codebooks).as("codes"))

  /** Probe + ADC-rank a (neighbor_id, cell, codes) corpus — shared by the
    * recompute and materialized-index paths.
    */
  private def rankCoded(c: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        Similarity.nearestCells(col(vecCol), centroids, nprobe).as("cells"))
      .select(col("query_id"), col("q_vec"), explode(col("cells")).as("cell"))
    adcTopK(Similarity.cellProbe(c, q), "q_vec", codebooks, k)
  }

  /** Residual of a vector against its nearest coarse centroid: the
    * classic IVF-PQ refinement (Jégou et al. '11) — after the coarse
    * quantizer explains the cluster-level structure, the PQ codebooks
    * only need to cover the (much tighter) within-cell displacement, so
    * the same code budget buys materially lower distortion. Plain
    * elementwise expression arithmetic, replayable by the oracle.
    */
  def residualExpr(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val cell = element_at(Similarity.nearestCells(vec, centroids, 1), 1)
    zip_with(vec.cast("array<double>"),
      element_at(typedLit(centroids), cell + 1), (x, c) => x - c)
  }

  /** IVF-PQ with RESIDUAL encoding: corpus codes quantize
    * (vector − coarse centroid) under residual-trained codebooks, and the
    * query compares per probed cell against ITS residual in that cell —
    * the textbook IVF-PQ layout (vs [[ivfPqTopK]]'s raw-vector codes).
    * Same plan shape: narrow encode scan, cell equi-join, ADC rank; the
    * only addition is the per-(query, cell) residual projection, O(nprobe)
    * per query.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], k: Int = 10, nprobe: Int = 2): DataFrame = {
    val cen = typedLit(centroids)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      element_at(Similarity.nearestCells(col(vecCol), centroids, 1), 1).as("cell"),
      encodeExpr(residualExpr(col(vecCol), centroids), codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        Similarity.nearestCells(col(vecCol), centroids, nprobe).as("cells"))
      .select(col("query_id"), explode(col("cells")).as("cell"), col("q_vec"))
      .select(col("query_id"), col("cell"),
        zip_with(col("q_vec"), element_at(cen, col("cell") + 1),
          (x, ctr) => x - ctr).as("q_res"))
    adcTopK(Similarity.cellProbe(c, q), "q_res", codebooks, k)
  }

  /** Materialized IVF-PQ index: codes + coarse cell written ONCE,
    * partitioned by cell. The 100 TB layout in full: searches prune to
    * ~nprobe/k of the directories (the cell equi-join drives dynamic
    * partition pruning, like [[Similarity.writeIvfIndex]]) and the files
    * they read hold 4-byte code arrays, not vectors — the corpus is never
    * re-encoded per query batch.
    */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    Similarity.writeCellIndex(coded(corpus, idCol, vecCol, centroids, codebooks),
      path, Similarity.indexIdentity(centroids, codebooks))

  /** Search an index written by [[writePqIndex]] with the SAME centroids
    * and codebooks — asserted against the index's identity manifest, so a
    * retrained centroid list or codebook fails instead of returning wrong
    * neighbors. Identical results to [[ivfPqTopK]]; the corpus-side cell
    * and codes are read back, never recomputed.
    */
  def pqIndexTopK(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], path: String, k: Int = 10,
      nprobe: Int = 2): DataFrame =
    rankCoded(Similarity.readCellIndex(spark, path,
        Similarity.indexIdentity(centroids, codebooks), queries, idCol, "codes",
        encodeExpr(col(vecCol), codebooks)),
      queries, idCol, vecCol, centroids, codebooks, k, nprobe)

  /** [[trainCodebooks]] behind the same executable sample-first contract
    * as [[Similarity.trainCentroidsSampled]]: at most `maxTrainRows`
    * vectors feed the per-subspace Lloyd loop. Returns the codebooks plus
    * the actual training-row count.
    */
  def trainCodebooksSampled(corpus: DataFrame, vecCol: String, numSub: Int,
      ksub: Int, dim: Int, iters: Int = 5, maxTrainRows: Long = 100000L,
      seed: Long = 42L): (Seq[Seq[Seq[Double]]], Long) = {
    val train = Similarity.boundedTrainingSample(
      corpus.select(col(vecCol).as(vecCol)), maxTrainRows, seed)
    val used = train.count()
    assert(used <= maxTrainRows,
      s"training sample $used exceeded the $maxTrainRows budget")
    (trainCodebooks(train, vecCol, numSub, ksub, dim, iters), used)
  }

  /** Per-subspace L2 Lloyd training, one aggregation job per iteration for
    * ALL subspaces at once: vectors explode into (subspace, subvector)
    * rows, assign to the current nearest centroid, average per
    * (subspace, centroid, dimension). Only numSub × ksub × dsub doubles
    * ever reach the driver. Train on a sample at scale, then freeze.
    */
  def trainCodebooks(corpus: DataFrame, vecCol: String, numSub: Int,
      ksub: Int, dim: Int, iters: Int = 5): Seq[Seq[Seq[Double]]] = {
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val dsub = dim / numSub
    // loop invariant: only `books` changes per iteration — materialize the
    // exploded subvectors once instead of re-scanning the corpus per round
    // (the pageRank/labelPropagation checkpoint discipline)
    val subs = corpus.select(explode(array((0 until numSub).map(m =>
        struct(lit(m).as("m"), sub(col(vecCol), m, dsub).as("sub"))): _*)).as("s"))
      .select(col("s.m").as("m"), col("s.sub").as("sub"))
      .pinned()
    var books: Seq[Seq[Seq[Double]]] =
      Seq.fill(numSub)(VectorOps.rademacherPlanes(ksub, dsub))
    for (_ <- 0 until iters) {
      val cellPerSub = (0 until numSub).map(m =>
        when(col("m") === m, nearestCode(col("sub"), books(m))))
      val means = subs.withColumn("cell", coalesce(cellPerSub: _*))
        .select(col("m"), col("cell"), posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(avg(col("x")).as("mean"))
        .collect()
        .groupBy(r => (r.getAs[Int]("m"), r.getAs[Int]("cell")))
        .view.mapValues(rows =>
          rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mean")).toSeq)
        .toMap
      books = books.zipWithIndex.map { case (book, m) =>
        book.zipWithIndex.map { case (old, j) => means.getOrElse((m, j), old) }
      }
    }
    books
  }
}
