package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-retrieval operators over a document corpus: TF-IDF keyword
  * extraction and BM25 ranked retrieval.
  *
  * Both are inverted-index-shaped computations expressed as relational
  * plans: tokenize once ([[graft.functions.KernelExpressions.wordNgramStrings]],
  * a codegen'd kernel — no UDF), aggregate term statistics with map-side
  * combine, and keep every join keyed (term or doc id — never text).
  * At 100 TB the corpus-side passes are single-shuffle aggregations over
  * (id, term) pairs; the per-query state (term list, document-frequency
  * table, corpus scalars) is tiny and broadcast.
  */
object Retrieval {

  /** Top-k terms per group (e.g. language or source) by TF-IDF:
    * `score = tf(grp, term) * ln(N / df(term))` with `df` counted over
    * distinct documents corpus-wide.
    *
    * Plan shape: one tokenize pass feeds two aggregations — tf on
    * (grp, term), df on distinct (doc, term) — joined on term; N rides a
    * 1-row broadcast. The final ranking window partitions by group over
    * vocabulary-sized input (vocab ≪ corpus), so no global sort of
    * document-scale data ever happens.
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, k: Int = 10): DataFrame = {
    // Catalyst plans are trees, not DAGs: tf and df consume the token
    // stream under DIFFERENT shuffle keys, so without a materialization the
    // corpus would be scanned and tokenized once per branch. One (id, grp,
    // term)-grain count pass is shared instead, checkpointed at doc ×
    // distinct-term grain (far below occurrence grain): tf is its per-group
    // rollup, df its per-term row count — one corpus scan total.
    val perDoc = docs.select(col(idCol).as("id"), col(groupCol).as("grp"),
      explode(graft.functions.KernelExpressions.wordNgramStrings(col(textCol), 1))
        .as("term"))
      .groupBy(col("id"), col("grp"), col("term")).agg(count(lit(1)).as("c"))
      .pinned()
    val nDocs = docs.filter(trim(col(textCol)) =!= "")
      .agg(count(lit(1)).as("n_docs"))
    val tf = perDoc.groupBy(col("grp"), col("term")).agg(sum(col("c")).as("tf"))
    val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("term"))
    // 1-row corpus scalar: broadcast crossJoin IS the right plan (a
    // map-side append of constants; Catalyst folds literal join keys, so
    // a constant-key equi-join degrades to the same nested-loop node).
    tf.join(dfreq, Seq("term"))
      .crossJoin(nDocs)
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp"), col("term"), col("tf"), col("df"), col("score"),
        col("rank"))
  }

  /** BM25 ranked retrieval: score each document against a literal term set
    * and return the global top-k with ranks.
    *
    * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))`
    * with `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))` (the standard
    * Robertson/Sparck-Jones smoothing — non-negative for any df).
    *
    * The token stream is filtered to the query terms BEFORE any shuffle, so
    * the per-doc state that moves is O(matching docs × |query|), not corpus
    * tokens; document lengths are one map-side-combined count. The final
    * top-k is `TakeOrderedAndProject` (per-partition heads, no global
    * sort), with ranks assigned on the k survivors.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    // one tokenize pass for dl/stats/hits (tree-shaped reuse would re-scan
    // the corpus per consumer — see tfidfKeywords): checkpoint at doc ×
    // distinct-term grain, everything downstream derives from it
    val perDoc = docs.select(col(idCol).as("id"),
      explode(graft.functions.KernelExpressions.wordNgramStrings(col(textCol), 1))
        .as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("c"))
      .pinned()
    val hits = perDoc.filter(col("term").isin(queryTerms: _*))
    val dl = perDoc.groupBy(col("id")).agg(sum(col("c")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = hits.select(col("id"), col("term"), col("c").as("tf"))
    val contrib = tf
      .join(dfreq, Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .withColumn("avgdl", col("total_len").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("wt", col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(col("wt")), 6).as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select(col("id"), col("n_terms"), col("score"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher '09) of two ranked
    * candidate lists — the standard hybrid-retrieval merge of a sparse
    * (BM25) and a dense (embedding cosine) ranking, score-scale-free by
    * construction: `rrf(d) = Σ_lists 1/(rrfK + rank_list(d))`, absent
    * lists contribute 0.
    *
    * Scale shape: both inputs are already top-N lists (each produced by
    * a `TakeOrderedAndProject`, never a global sort), so the fusion is a
    * full-outer join of two ≤N-row frames — driver-trivial at any corpus
    * size; all the 100 TB work happened inside the two retrievers. The
    * fused score is a sum of ≤2 IEEE divisions of integer-exact ranks —
    * association-order-free, bit-reproducible cross-engine.
    *
    * @param sparse (idCol, rankCol) ranked list, rank 1-based
    * @param dense  (idCol, rankCol) ranked list, rank 1-based
    * @return (id, rank_sparse, rank_dense, rrf_score, rank) — top `k` by
    *         (rrf_score DESC, id); missing-side ranks are null
    */
  def rrfFuseTopK(sparse: DataFrame, dense: DataFrame, idCol: String,
      rankCol: String, k: Int = 20, rrfK: Int = 60): DataFrame = {
    val s = sparse.select(col(idCol).as("id"), col(rankCol).as("rank_sparse"))
    val d = dense.select(col(idCol).as("id"), col(rankCol).as("rank_dense"))
    s.join(d, Seq("id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_dense")), lit(0.0)), 6))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("id")))
          .cast("long"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau '04): weighted PageRank
    * over the word-adjacency graph (symmetric bigram co-occurrence), top-k
    * terms by stationary score — the unsupervised keyword ranker that
    * beats raw frequency by rewarding terms that co-occur with other
    * central terms.
    *
    * Determinism contract: transition weights are integer 1e6-ratios and
    * every power step runs in INTEGER arithmetic — `r_k(v) = 0.15·1e9/N +
    * 85·((Σ_u p_e6(u,v)·r_{k-1}(u)) div 1e6) div 100`, scores 1e9-scaled —
    * so the fold is order-independent and the DuckDB oracle's unrolled
    * rounds replay it bit for bit (the same device as the Markov
    * attribution chain; a double-valued rank would not survive
    * cross-engine sum reordering).
    *
    * Plan shape: one tokenize pass builds the vocabulary-bounded edge
    * list; each of the `iters` rounds is one keyed join + aggregation
    * over (vocab²)-bounded frames, lineage cut per round; the final cut
    * is TakeOrdered-then-rank over k rows. The corpus text is read once —
    * nodes, edges, and every iteration are vocabulary-scale, never
    * corpus-scale.
    *
    * @return (rank, term, score_e9) for the top-k terms
    */
  def textRankKeywords(docs: DataFrame, textCol: String, iters: Int = 10,
      k: Int = 10): DataFrame = {
    require(iters >= 1 && k >= 1, s"need iters>=1 and k>=1, got $iters/$k")
    val bi = docs.select(explode(
        graft.functions.KernelExpressions.wordNgramStrings(col(textCol), 2))
        .as("ngram"))
      .select(element_at(split(col("ngram"), " "), 1).as("w1"),
        element_at(split(col("ngram"), " "), 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val edges = bi.select(col("w1").as("u"), col("w2").as("v"), col("n"))
      .union(bi.select(col("w2").as("u"), col("w1").as("v"), col("n")))
      .groupBy(col("u"), col("v")).agg(sum(col("n")).as("w"))
    val outw = edges.groupBy(col("u")).agg(sum(col("w")).as("ow"))
    val p = edges.join(outw, "u")
      .select(col("u"), col("v"), expr("w * 1000000L div ow").as("p_e6"))
      .pinned() // the loop invariant: every round joins it
    val nodes = p.select(col("u")).distinct().pinned()
    val n = nodes.count()
    // an empty co-occurrence graph (empty corpus, or no document with two
    // consecutive tokens) has no keywords: return the empty top-k frame
    // with the query's schema — the oracle replay yields zero rows too
    if (n == 0)
      return nodes.select(lit(0L).as("rank"), col("u").as("term"),
        lit(0L).as("score_e9")).limit(0)
    val teleport = 150000000L / n
    var r = nodes.select(col("u").as("node"), lit(1000000000L / n).as("r"))
    for (i <- 1 to iters) {
      r = p.join(r, p("u") === r("node"))
        .groupBy(col("v"))
        .agg(sum(expr("p_e6 * r")).as("s"))
        .select(col("v").as("node"),
          (lit(teleport) + expr("85L * (s div 1000000L) div 100")).as("r"))
      // vocab-bounded lineage cut every OTHER round (plus the last): a
      // depth-2 join/agg chain plans fine, and each pin is an eager job —
      // 5 pins instead of 10 halves the loop's fixed action cost
      // (opt guide §1.2: per-task/els-per-action overhead after shape)
      if (i % 2 == 0 || i == iters) r = r.pinned()
    }
    r.orderBy(col("r").desc, col("node")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("node")))
          .cast("long"))
      .select(col("rank"), col("node").as("term"), col("r").as("score_e9"))
  }
}
