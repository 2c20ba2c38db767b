package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Iterative graph analytics over edge DataFrames — the Pregel-shaped
  * complement to [[Dedup.connectedComponents]]' label propagation.
  */
object Graph {

  /** Weighted PageRank by fixed-iteration power iteration.
    *
    * Semantics (GraphX `staticPageRank` convention): each node starts at
    * `1/N`; per iteration
    * `r'(v) = (1-d)/N + d * Σ_{u→v} r(u) · w(u,v)/W(u)` where `W(u)` is
    * u's total out-weight. Mass at dangling nodes (no out-edges) is NOT
    * redistributed — the convention Spark's own GraphX uses, chosen here
    * because redistribution needs a per-iteration global scalar (a 1-row
    * aggregate crossed back into the plan), which forces either an action
    * per iteration or a nested-loop join; callers that need sum-to-1
    * ranks can renormalize the output in one extra aggregation.
    *
    * Scale shape: the normalized transition table (`src, dst, p`) is the
    * loop invariant — built once with a per-src window, it carries the
    * hash partitioning on `src` across every iteration, so each round
    * costs exactly two shuffles (ranks → src for the join, contributions
    * → dst for the aggregation) regardless of iteration count. Lineage is
    * cut with an eager `localCheckpoint` every `checkpointEvery` rounds,
    * the same guard [[Dedup.connectedComponents]] uses — without it the
    * plan doubles per round and the optimizer, not the data, becomes the
    * bottleneck past ~20 iterations.
    *
    * @return (id, rank) — one row per node in `nodes`
    */
  def pageRank(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    // loop invariants are MATERIALIZED once — without this every
    // iteration's plan re-derives the node set and the normalized
    // transition table from source (ReuseExchange may or may not
    // collapse the copies; at 5+ rounds the rebuild dominates)
    val n = nodes.select(col(idCol).as("id")).distinct().pinned()
    // driver-side scalar: node count is metadata (like the centroid
    // collects in Similarity), not row data
    val nCount = n.count().toDouble
    val trans = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("double").as("w"))
      // a src whose edges all weigh 0 (legal money data: a zero-price
      // partition) must contribute NO mass, not crash ANSI division:
      // NULL p rows vanish inside sum(p * r), matching the oracle's
      // NULLIF convention
      .withColumn("_wtot", sum(col("w")).over(Window.partitionBy(col("src"))))
      .withColumn("p", col("w") / when(col("_wtot") === 0.0, lit(null))
        .otherwise(col("_wtot")))
      .select(col("src"), col("dst"), col("p"))
      .pinned()
    var r = n.select(col("id"), lit(1.0 / nCount).as("r"))
    var i = 0
    while (i < iterations) {
      val contrib = trans.join(r, trans("src") === r("id"))
        .groupBy(trans("dst").as("id"))
        .agg(sum(col("p") * col("r")).as("c"))
      r = n.join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit((1.0 - damping) / nCount) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations)
        r = r.pinned()
    }
    r.select(col("id"), col("r").as("rank"))
  }

  /** PERSONALIZED PageRank: random walks restart at the SEED set instead
    * of everywhere, so rank mass concentrates around the seeds — the
    * "nodes most related to X" primitive behind item-to-item
    * recommendation and seed-expansion labeling. Same power-iteration
    * shape and loop invariants as [[pageRank]]; the only change is the
    * teleport vector (uniform over seeds, zero elsewhere), materialized
    * once and carried through every round. Nodes unreachable from the
    * seeds keep rank 0 — mass is NOT redistributed from dangling nodes
    * (the [[pageRank]] convention).
    *
    * NOTE: the power-iteration loop here and in [[pageRank]] are
    * deliberately parallel copies (pageRank's teleport term is a planning-
    * time scalar constant whose exact double its oracle replays; folding
    * it through this column-valued teleport would change that arithmetic)
    * — a fix to either loop's structure belongs in both.
    *
    * @return (id, rank) — one row per node in `nodes`
    */
  def personalizedPageRank(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      seeds: DataFrame, seedIdCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val n = nodes.select(col(idCol).as("id")).distinct().pinned()
    // restrict seeds to the node set BEFORE sizing the teleport: a seed id
    // absent from `nodes` would otherwise keep its 1/|S| share of restart
    // mass while the join drops it — silently deflating every rank
    val sd = seeds.select(col(seedIdCol).as("id")).distinct()
      .join(n, Seq("id"), "left_semi")
      .pinned()
    val sCount = sd.count().toDouble
    // An empty (or node-disjoint) seed set means no restart mass exists:
    // the natural result is NO ranked nodes, not a failed job — an empty
    // daily partition is normal at corpus scale, and the oracle's replay
    // over the same empty seed table yields zero rows too.
    if (sCount == 0) return n.select(col("id"), lit(0.0).as("rank")).limit(0)
    val tele = n.join(sd.withColumn("t", lit(1.0 / sCount)), Seq("id"),
        "left_outer")
      .select(col("id"), coalesce(col("t"), lit(0.0)).as("t"))
      .pinned()
    val trans = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("double").as("w"))
      // a src whose edges all weigh 0 (legal money data: a zero-price
      // partition) must contribute NO mass, not crash ANSI division:
      // NULL p rows vanish inside sum(p * r), matching the oracle's
      // NULLIF convention
      .withColumn("_wtot", sum(col("w")).over(Window.partitionBy(col("src"))))
      .withColumn("p", col("w") / when(col("_wtot") === 0.0, lit(null))
        .otherwise(col("_wtot")))
      .select(col("src"), col("dst"), col("p"))
      .pinned()
    var r = tele.select(col("id"), col("t").as("r"))
    var i = 0
    while (i < iterations) {
      val contrib = trans.join(r, trans("src") === r("id"))
        .groupBy(trans("dst").as("id"))
        .agg(sum(col("p") * col("r")).as("c"))
      r = tele.join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(1.0 - damping) * col("t") +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations)
        r = r.pinned()
    }
    r.select(col("id"), col("r").as("rank"))
  }

  /** Per-node triangle counts over an UNDIRECTED graph given as a
    * directed edge list (direction and duplicates are erased first).
    *
    * Scale shape: edges are oriented from the lower-(degree, id) endpoint
    * to the higher one before the two-hop join — the classic compact-
    * forward trick. Every wedge is then enumerated at its lowest-degree
    * apex, so join fan-out per node is bounded by its ORIENTED out-degree
    * (≤ √(2|E|) for any graph), not its raw degree; a celebrity node with
    * 10⁸ followers contributes no wedges at all. The closing edge lookup
    * is a join back against the same oriented list, and per-node counts
    * come from exploding each found triangle's three corners — three
    * shuffles total, none quadratic in max degree.
    *
    * @return (id, n_triangles) for nodes in ≥1 triangle
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val a = col(srcCol); val b = col(dstCol)
    // canonical undirected edges: a < b, self-loops dropped, deduped.
    // Materialized once — deg, the orientation join, and the closing-edge
    // lookup all consume it (tree-shaped reuse would re-dedup per consumer)
    val und = edges.select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .pinned()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient each edge toward the higher (deg, id) endpoint
    val withDeg = und
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .pinned() // self-joined below — two consumers
    // wedges at the lowest apex; y < z by id, so the closing edge can be
    // looked up in the CANONICAL (a < b) list with a plain two-column
    // equi-join — an OR over the oriented list would plan as a nested loop
    val w = oriented.as("e1").join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("x"), col("e1.hi").as("y"), col("e2.hi").as("z"))
    val tri = w.join(und, col("y") === und("a") && col("z") === und("b"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous label-propagation communities, made DETERMINISTIC: each
    * round every node adopts the most frequent label among its neighbors,
    * ties broken toward the smallest label (classic LPA is tie-random and
    * irreproducible — useless under a correctness gate). Isolated nodes
    * keep their own id as label.
    *
    * Scale shape: one round = the label join (shuffles on `src` — the
    * symmetrized edge list is the checkpointed loop invariant carrying
    * that partitioning) + a (node, label) count + a per-node argmax via
    * `max(struct(count, -label))`, which combines MAP-SIDE — no per-node
    * sort, no skew sensitivity for celebrity nodes. Lineage is cut every
    * `checkpointEvery` rounds like [[pageRank]].
    *
    * @return (id, label) — community label per node after `rounds` rounds
    */
  def labelPropagation(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, checkpointEvery: Int = 5,
      symmetric: Boolean = false,
      canonicalInput: Boolean = false): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    require(!canonicalInput || symmetric,
      "canonicalInput implies symmetric: canonical a<b edges are the " +
        "undirected encoding, votes must count both endpoints")
    val n = nodes.select(col(idCol).as("id")).distinct().pinned()
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    // `symmetric = true`: the caller guarantees every edge already appears
    // in both directions (e.g. a self-join with a symmetric predicate).
    // The undirected graph is then materialized as CANONICAL a<b pairs —
    // half the rows through the dedup shuffle and half the checkpointed
    // bytes of the both-directions form — and each round counts votes
    // from both endpoints of every canonical edge. Directed input is
    // SYMMETRIZED (both directions materialized, then deduped): the
    // algorithm is undirected either way, the flag only picks the cheaper
    // physical encoding when the caller's edges are already two-way.
    // `canonicalInput = true` (opt guide §2.4 — remove shuffles outright):
    // the caller passes the canonical src<dst DISTINCT edge list, already
    // MATERIALIZED (pinned) — the derivation above (a full dedup shuffle
    // plus a second pin of the same rows) is skipped entirely. Used when
    // one canonical frame feeds several operators in the same query.
    // (Round 13 A/B note: two single-join vote variants over a mirrored
    // union — pinned and lazy — were measured against this 2-join form
    // and NOT adopted: shuffle bytes are identical either way (2E + V),
    // the per-round job count is identical, and the pinned variant adds a
    // full 2E-row materialization; neither beat the 2-join form outside
    // the host noise band. The caller's pin consumed directly below
    // remains the measured-best shape.)
    val sym =
      if (canonicalInput)
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      else (if (symmetric) und.where(col("a") < col("b"))
         else und.union(und.select(col("b").as("a"), col("a").as("b"))))
        .distinct()
        .select(col("a").as("src"), col("b").as("dst"))
        .pinned()
    var lab = n.select(col("id"), col("id").as("label"))
    var i = 0
    while (i < rounds) {
      val votes =
        if (symmetric)
          sym.join(lab, sym("src") === lab("id"))
            .select(sym("dst").as("nid"), col("label"))
            .union(sym.join(lab, sym("dst") === lab("id"))
              .select(sym("src").as("nid"), col("label")))
        else
          sym.join(lab, sym("src") === lab("id"))
            .select(sym("dst").as("nid"), col("label"))
      val counts = votes.groupBy(col("nid"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) as a MIN over (-count, label):
      // only the COUNT is negated (always numeric), so labels of any
      // orderable type — strings, dates — tie-break correctly instead of
      // null-casting under numeric negation
      val pick = counts.groupBy(col("nid").as("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("newLabel"))
      lab = n.join(pick, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("newLabel"), col("id")).as("label"))
      i += 1
      if (i % checkpointEvery == 0 && i < rounds)
        lab = lab.pinned()
    }
    // the RESULT is checkpointed too (V rows — cheap): callers compose it
    // into further joins/aggregations, and without this every downstream
    // reference replays the whole round chain
    if (rounds > 0) lab.pinned() else lab
  }

  /** Deterministic hash-seeded random walks — the DeepWalk/node2vec corpus
    * generator: from each seed, `steps` hops where hop t picks neighbor
    * index mix(walk, t) mod degree from the node's SORTED adjacency list.
    * The "randomness" is a fixed LCG mix of (walk id, step) in modular
    * arithmetic: the walk id is reduced mod 2^31−1 BEFORE the multiply,
    * so the product stays < 2^62 for ANY long walk id — no overflow, no
    * wrap semantics to disagree on — and every engine reproduces the same
    * walks (sampled training corpora must be replayable, not merely
    * plausible).
    *
    * Scale shape: the indexed adjacency (id-keyed row_number) is built
    * once and checkpointed; each step is one join keyed by the current
    * node + one by (node, index) — frontier-sized, ∝ live walks, never
    * ∝ paths. Walks ending at a sink simply stop (inner join drops them).
    *
    * @return (walk, step, node) — step 0 is the seed itself
    */
  def hashWalks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, idCol: String, steps: Int,
      canonicalInput: Boolean = false): DataFrame = {
    require(steps >= 0, "steps must be non-negative")
    // canonicalInput: the caller's pinned canonical a<b distinct list is
    // mirrored (narrow) for the UNDIRECTED adjacency — the dedup shuffle
    // is skipped; the row_number indexing pass is unchanged (guide §2.4).
    val base =
      if (canonicalInput) {
        val c = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        c.union(c.select(col("dst").as("src"), col("src").as("dst")))
      } else edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
    val adj = base
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))).cast("long") - 1L)
      .pinned()
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var out = seeds.select(col(idCol).as("walk")).distinct()
      .select(col("walk"), lit(0L).as("step"), col("walk").as("node"))
    var frontier = out
    var t = 1
    while (t <= steps) {
      // reduce the walk id first: (walk mod (2^31−1)) < 2^31, so the
      // product with the 2^30-ish LCG multiplier stays < 2^62 for any
      // long walk id (the unreduced form overflowed past ids ~2^33)
      val mix = pmod(pmod(col("walk"), lit(2147483647L)) * lit(1103515245L) +
        lit(t.toLong * 12345L), lit(2147483647L))
      // adj appears both via deg and directly — explicit renames keep the
      // self-join unambiguous instead of leaning on the lineage pin
      val next = frontier
        .join(deg.select(col("src").as("dsrc"), col("deg")),
          frontier("node") === col("dsrc"))
        .select(col("walk"), pmod(mix, col("deg")).as("widx"),
          col("node").as("cur"))
        .join(adj.select(col("src").as("asrc"), col("dst"),
            col("idx").as("aidx")),
          col("cur") === col("asrc") && col("widx") === col("aidx"))
        .select(col("walk"), lit(t.toLong).as("step"), col("dst").as("node"))
      frontier = next
      out = out.unionByName(next)
      t += 1
    }
    out
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) by fixed-iteration
    * mutual power iteration over a DIRECTED weighted edge list: per
    * iteration `a'(v) = Σ_{u→v} h(u)·w(u,v)` then L1-normalize, followed
    * by `h'(u) = Σ_{u→v} a'(v)·w(u,v)` then L1-normalize — hubs point at
    * good authorities, authorities are pointed at by good hubs. Nodes
    * with no in-edges keep authority 0; no out-edges, hub 0.
    *
    * Scale shape: the edge list is the loop invariant (materialized
    * once); each half-step is one shuffle-join keyed by the edge
    * endpoint plus one aggregation — the [[pageRank]] cost model. The
    * L1 normalization is BATCHED: division by the L1 mass commutes with
    * the linear half-steps, so the loop chains unnormalized raw sums and
    * normalizes ONCE at the end — two 1-row broadcasts total instead of
    * two per iteration, and no per-round full-node-set zero-fill joins
    * (see the in-body note for the exact-arithmetic argument and the
    * double-overflow bound). Normalizers stay corpus-scalar broadcasts,
    * NOT driver-side actions, so the whole iteration chain is one lazy
    * plan. Lineage is cut every `checkpointEvery` rounds as in
    * [[pageRank]].
    *
    * @return (id, hub, authority) — one row per node in `nodes`
    */
  def hits(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iterations: Int = 4, checkpointEvery: Int = 2): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val n = nodes.select(col(idCol).as("id")).distinct().pinned()
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("double").as("w"))
      .pinned()
    // BATCHED normalization (opt round 13; guide §1.2 "fewer actions"):
    // in exact arithmetic a_k = â_k/‖â_k‖₁ where â_k is the UNNORMALIZED
    // recursion â_k = Σ w·ĥ_{k-1}, ĥ_k = Σ w·â_k — dividing by the L1
    // mass commutes with the linear half-steps (induction: each division
    // rescales every term of the next sum by the same scalar, and the
    // next mass absorbs it). So the loop chains raw sums only, and ONE
    // final division per vector replaces 2·iterations sequential 1-row
    // normalizer broadcasts (each was its own BroadcastExchange job) and
    // iterations·2−2 full-node-set zero-fill joins: a node absent from a
    // raw frame contributes exactly nothing to the next sum, which is
    // what its explicit 0.0 row contributed before. Magnitude bound: raw
    // scores grow like (‖w‖₁)^(2·iterations); doubles overflow past
    // ~1e308, so ‖w‖₁ must stay under ~10^(308/(2·iterations)) — 1e38
    // for the default 4 iterations, comfortably clearing any monetary
    // edge aggregate. The SQL oracle replays the identical reassociated
    // recursion (raw CTE chain, single final division).
    var hRaw = n.select(col("id"), lit(1.0).as("h"))
    var aRaw: DataFrame = null
    var i = 0
    while (i < iterations) {
      aRaw = e.join(hRaw, e("src") === hRaw("id"))
        .groupBy(e("dst").as("id"))
        .agg(sum(col("w") * col("h")).as("a"))
      hRaw = e.join(aRaw, e("dst") === aRaw("id"))
        .groupBy(e("src").as("id"))
        .agg(sum(col("w") * col("a")).as("h"))
      i += 1
      if (i % checkpointEvery == 0 && i < iterations) {
        aRaw = aRaw.pinned()
        hRaw = hRaw.pinned()
      }
    }
    // z = 0 (empty edge set / zero-weight round) degrades to all-zero
    // scores rather than NULL/NaN, exactly as the per-round guard did:
    // once any round's raw frame is empty or all-zero, every later raw
    // frame is too, so guarding the single final division is equivalent.
    val za = aRaw.agg(coalesce(sum(abs(col("a"))), lit(0.0)).as("za"))
    val zh = hRaw.agg(coalesce(sum(abs(col("h"))), lit(0.0)).as("zh"))
    n.join(hRaw, Seq("id"), "left_outer")
      .join(aRaw, Seq("id"), "left_outer")
      .crossJoin(zh)
      .crossJoin(za)
      .select(col("id"),
        when(col("zh") === 0.0, lit(0.0))
          .otherwise(coalesce(col("h"), lit(0.0)) / col("zh")).as("hub"),
        when(col("za") === 0.0, lit(0.0))
          .otherwise(coalesce(col("a"), lit(0.0)) / col("za")).as("authority"))
  }

  /** Exact Newman modularity terms of a node→community assignment over an
    * undirected simple graph — the quality audit for [[labelPropagation]]
    * (and any partition): per community, q_term = intra/m − (deg/(2m))²,
    * computed as one exact integer numerator (4·m·intra − deg²) over one
    * exact denominator (4m²) with a single rounded division per community —
    * no cross-engine double accumulation anywhere. Global Q is the plain
    * sum of `q_term`s (or of the integer numerators for exactness).
    *
    * Scale shape: one canonical-edge distinct (∝ edges, the data term),
    * one endpoint-explode degree count, one label join keyed by node id,
    * and community-bounded aggregations; `m` rides a 1-row broadcast.
    * Integer overflow bound: 4m² must fit a long → m < 1.5e9 undirected
    * edges, beyond which the terms need decimal widening.
    *
    * @param symmetric caller guarantees both directions present (the
    *        [[labelPropagation]] contract) — canonicalization is then a
    *        filter instead of a least/greatest rewrite
    * @return (community, n_nodes, intra_edges, degree_sum, q_term)
    */
  def modularity(labels: DataFrame, idCol: String, labelCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      symmetric: Boolean = false,
      canonicalInput: Boolean = false): DataFrame = {
    val lab = labels.select(col(idCol).as("id"), col(labelCol).as("community"))
      .pinned() // three consumers: degrees join, both intra endpoints
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    // `canonicalInput = true`: caller passes the canonical a<b DISTINCT
    // edge list, already pinned — skip the dedup shuffle + second pin
    // (opt guide §2.4; the same contract as labelPropagation's flag).
    val canon =
      if (canonicalInput)
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else (if (symmetric) und.where(col("a") < col("b"))
        else und.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b")))
      .distinct()
      .pinned() // feeds m, degrees, and the intra count
    val mRow = canon.agg(count(lit(1)).as("m"))
    val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val nodeStats = lab.join(deg, Seq("id"), "left_outer")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("degree_sum"))
    val intra = canon
      .join(lab.select(col("id").as("a"), col("community").as("ca")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("community").as("cb")), Seq("b"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    val ie = coalesce(col("intra_edges"), lit(0L))
    nodeStats.join(intra, Seq("community"), "left_outer")
      .crossJoin(mRow)
      .select(col("community"), col("n_nodes"), ie.as("intra_edges"),
        col("degree_sum"),
        // m = 0 (empty edge set) would make every q_term 0/0 = NaN —
        // and NaN round/compare semantics diverge across engines; an
        // edgeless partition has no intra mass and no degree mass, so
        // its modularity contribution is exactly 0
        when(col("m") === 0L, lit(0.0)).otherwise(
          round((lit(4L) * col("m") * ie -
            col("degree_sum") * col("degree_sum")).cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"), 9)).as("q_term"))
  }

  /** Minimum hop count from a set of source nodes by frontier BFS.
    *
    * Scale shape: only the FRONTIER (nodes first reached last round)
    * joins the edge list each iteration, and already-settled nodes are
    * removed with a left-anti join before the union — per-round cost is
    * proportional to the frontier's out-edge count, not |V|·rounds. The
    * settled set is eagerly checkpointed so lineage stays flat across
    * rounds (same guard as [[pageRank]]).
    *
    * @return (id, hops) for every node reachable within `maxHops`
    */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceIdCol: String, maxHops: Int,
      canonicalInput: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // the edge list is the loop invariant — materialize once (see
    // pageRank) instead of re-deriving it for every frontier expansion.
    // `canonicalInput = true`: caller passes the canonical a<b DISTINCT
    // pinned edge list of an UNDIRECTED graph — both directions come from
    // the narrow mirror union (no dedup shuffle; guide §2.3), and the
    // union is PINNED too: the loop reads `e` every round, and an
    // unpinned union doubles each round's scan-task count (measured 2×
    // per-round overhead at sf0.1 when this pin was left out).
    val e =
      (if (canonicalInput) {
        val c = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        c.union(c.select(col("dst").as("src"), col("src").as("dst")))
      } else edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
        .pinned()
    var settled = sources.select(col(sourceIdCol).as("id")).distinct()
      .withColumn("hops", lit(0))
    var frontier = settled
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(e("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
      settled = settled.union(next).pinned()
      // re-derive the frontier from the checkpointed set so BOTH loop
      // variables have flat lineage; an empty frontier ends the walk —
      // graphs of diameter d pay d rounds, not maxHops (the emptiness
      // probe is a limit-1 scan of the just-checkpointed set)
      frontier = settled.where(col("hops") === h)
      exhausted = frontier.isEmpty
      h += 1
    }
    settled
  }

  /** Harmonic centrality of a bounded SEED set: for each seed,
    * `H(s) = Σ_{v ≠ s reachable} 1 / d(s, v)` truncated at `maxHops` —
    * the centrality that stays finite on disconnected graphs (Boldi &
    * Vigna's preferred closeness variant) and, hop-truncated, the
    * standard "influence within k degrees" audit.
    *
    * Scale shape: one simultaneous multi-source BFS carrying a `seed`
    * column — state is (seed, id, hops), at most |seeds|·|V| rows and in
    * practice frontier-sized per round; per round ONE join of the
    * frontier against the pinned edge list + a left-anti against the
    * settled set (the [[shortestHops]] discipline, keyed by (seed, id)).
    * Seeds are a bounded audit set (single-digit to hundreds), so the
    * state multiplier is a constant, not a data term. The final harmonic
    * sum folds the ≤`maxHops` per-distance counts in a FIXED literal
    * order (n_1/1 + n_2/2 + …) — each term is one exact long→double
    * division, so the result is bit-deterministic cross-engine.
    *
    * @param seeds  (seedIdCol) — the nodes to score
    * @return (seed, n_1 … n_maxHops, harmonic) — one row per seed that
    *         reaches at least one node
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String, maxHops: Int,
      canonicalInput: Boolean = false): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // canonicalInput: see [[shortestHops]] — mirror the caller's pinned
    // canonical a<b distinct list instead of re-deduping both directions;
    // the union is pinned (loop invariant, read every round).
    val e =
      (if (canonicalInput) {
        val c = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        c.union(c.select(col("dst").as("src"), col("src").as("dst")))
      } else edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct())
        .pinned()
    var settled = seeds.select(col(seedIdCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("id"), lit(0).as("hops"))
      .pinned()
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val frontier = settled.where(col("hops") === h - 1)
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(frontier("seed").as("seed"), e("dst").as("id")).distinct()
        .join(settled, Seq("seed", "id"), "left_anti")
        .withColumn("hops", lit(h))
      settled = settled.union(next).pinned()
      exhausted = settled.where(col("hops") === h).isEmpty
      h += 1
    }
    val counts = (1 to maxHops).map(d =>
      sum(when(col("hops") === d, 1L).otherwise(0L)).as(s"n_$d"))
    val harmonic = (1 to maxHops)
      .map(d => col(s"n_$d").cast("double") / lit(d.toDouble))
      .reduce(_ + _)
    settled.filter(col("hops") > 0)
      .groupBy(col("seed"))
      .agg(counts.head, counts.tail: _*)
      .select(col("seed") +: (1 to maxHops).map(d => col(s"n_$d")) :+
        round(harmonic, 6).as("harmonic"): _*)
  }

  /** Time-respecting earliest-arrival reachability over a TEMPORAL edge
    * list (src, dst, ts): a node is reached when some path's edge
    * timestamps are non-decreasing and its first edge departs no earlier
    * than the source's start time. State per node is one long — the
    * EARLIEST arrival — because any continuation of an earliest-arrival
    * path dominates every later-arrival alternative (the canonical
    * temporal-graph invariant), so the walk is Bellman-Ford relaxation,
    * never path enumeration: each round joins the current arrival table
    * to the edges (hash join on src; the time test `ts >= arrival` is the
    * join's residual filter) and keeps the per-node minimum. `rounds`
    * bounds path length in hops; a round that improves nothing is a
    * fixpoint reached early. Lineage cuts per round (same guard as
    * [[pageRank]]).
    *
    * @param sources (id, t0) start nodes with their start times
    * @return (id, arrival) — earliest arrival per reachable node,
    *         arrival = t0 for the sources themselves
    */
  def temporalEarliestArrival(edges: DataFrame, srcCol: String,
      dstCol: String, tsCol: String, sources: DataFrame, idCol: String,
      t0Col: String, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(tsCol).cast("long").as("ts")).distinct()
      .pinned()
    var arr = sources.select(col(idCol).as("id"),
        col(t0Col).cast("long").as("arrival"))
      .groupBy(col("id")).agg(min(col("arrival")).as("arrival"))
    var r = 0
    while (r < rounds) {
      val relax = arr.join(e, arr("id") === e("src") && e("ts") >= arr("arrival"))
        .select(e("dst").as("id"), e("ts").as("arrival"))
      arr = arr.unionByName(relax)
        .groupBy(col("id")).agg(min(col("arrival")).as("arrival"))
        .pinned()
      r += 1
    }
    arr
  }

  /** Bounded-round weighted single-source shortest paths — synchronous
    * Bellman-Ford over an integer-weighted edge list: per round every
    * settled node relaxes its out-edges (`dist + w`), and the new frontier
    * folds back with a min. `rounds` bounds path length in HOPS, the same
    * work-bound contract as [[temporalEarliestArrival]] (exact distances up
    * to `rounds` hops; longer paths are out of scope by construction, which
    * is what keeps the operator linear in edges per round instead of
    * all-pairs). State per node is one BIGINT; weights are exact integer
    * arithmetic, so there is no rounding step anywhere and cross-engine
    * results are bit-identical.
    *
    * Scale shape: each round is one shuffle keyed by `src` (the relax join)
    * plus one keyed by `id` (the min fold) — both ∝ edges, never paths; the
    * loop invariant is pinned per round ([[graft.util.Checkpoints.pinned]])
    * so round r's plan does not replay rounds 1..r-1. Parallel multi-edges
    * collapse to their min weight once, up front.
    */
  def ssspWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, sources: DataFrame, idCol: String, rounds: Int,
      canonicalInput: Boolean = false): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // canonicalInput: the edges describe an UNDIRECTED graph given as
    // canonical a<b rows (duplicates allowed — min-collapsed here, on
    // HALF the rows of the both-directions form), and each edge's weight
    // is symmetric by construction; both directions come from the narrow
    // mirror union AFTER the min-collapse (opt guide §2.3).
    val e =
      if (canonicalInput) {
        // pin the min-collapse BEFORE mirroring: both union branches read
        // the pin instead of re-running the aggregation (and its whole
        // upstream self-join) once per branch
        val m = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
            col(wCol).cast("long").as("w"))
          .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
          .pinned()
        m.union(m.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          .pinned()
      } else edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(wCol).cast("long").as("w"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
        .pinned()
    var dist = sources.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"))
    var r = 0
    while (r < rounds) {
      val relax = dist.join(e, dist("id") === e("src"))
        .select(e("dst").as("id"), (dist("dist") + e("w")).as("dist"))
      dist = dist.unionByName(relax)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .pinned()
      r += 1
    }
    dist
  }

  /** Top-k most similar node pairs by neighborhood Jaccard — the
    * "customers like this one" / entity-resolution primitive (Neo4j GDS
    * `nodeSimilarity`, SimRank's one-hop special case): two nodes are
    * similar when their neighbor SETS overlap, whether or not they are
    * themselves adjacent.
    *
    * Scale shape: candidate pairs come from co-membership in some
    * neighbor's adjacency list (nodes with no common neighbor have
    * jaccard 0 and are never materialized) — a self-join of the distinct
    * edge list on the NEIGHBOR column, the same posting-list shape as
    * [[Dedup.ngramJaccardPairs]]. The per-neighbor quadratic is bounded
    * by `maxDegree`: hub neighbors over the cap are dropped from
    * candidate generation (they assert near-zero pairwise information
    * anyway — everyone shares them), exactly the [[Dedup.capBuckets]]
    * skew guard. Degrees ride two broadcast-sized joins keyed by the
    * aggregation output (vertex-count-scale, not edge-scale); the final
    * top-k is `TakeOrderedAndProject` — no global sort.
    *
    * @param edges directed edge list; symmetrized + deduped internally
    * @return (id_a, id_b, shared, jaccard_e6) with id_a < id_b, top `k`
    *         by (jaccard_e6 DESC, id_a, id_b); jaccard exact in 1e-6 ints
    */
  def nodeSimilarity(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 20, maxDegree: Int = 1000,
      canonicalInput: Boolean = false): DataFrame = {
    val a = col(srcCol); val b = col(dstCol)
    // symmetric distinct adjacency (id, nb), self-loops dropped.
    // `canonicalInput = true`: caller passes the canonical a<b DISTINCT
    // edge list, already pinned — the mirror union replaces the dedup
    // SHUFFLE, but the result is still PINNED: adj feeds the degree
    // aggregation, the hub cap, and BOTH sides of the posting self-join —
    // unpinned, each consumer would re-run the union and the hub-cap
    // anti-join would recompute the degree aggregation per side
    // (measured: 74 s vs 18 s at sf0.1 when this pin was dropped).
    val adj =
      (if (canonicalInput)
        edges.select(a.as("id"), b.as("nb"))
          .union(edges.select(b.as("id"), a.as("nb")))
      else edges.select(a.as("id"), b.as("nb"))
        .union(edges.select(b.as("id"), a.as("nb")))
        .where(col("id") =!= col("nb")).distinct())
      .pinned() // feeds degrees, candidates, and the cap
    val deg = adj.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // skew guard: hub NEIGHBORS above the cap leave candidate generation
    val hubs = deg.where(col("deg") > maxDegree)
      .select(col("id").as("nb"))
    val posting = adj.join(hubs, Seq("nb"), "left_anti")
    val shared = posting.select(col("nb"), col("id").as("id_a"))
      .join(posting.select(col("nb"), col("id").as("id_b")), "nb")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(deg.select(col("id").as("id_a"), col("deg").as("da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("db")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        expr("shared * 1000000 div (da + db - shared)").as("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Bounded k-core peel: `rounds` synchronous rounds, each removing every
    * node whose degree AMONG SURVIVORS is below `k` (isolated nodes fall
    * in round 1). Bounded rounds keep the fixpoint deterministic and
    * oracle-replayable (full k-core = run until no removals; each extra
    * round is the same two-join step). Per round: one edges⋈alive
    * restriction, one degree aggregation, one anti-join — all keyed on
    * node id, the standard peel at any scale; lineage is cut every
    * `checkpointEvery` rounds like [[pageRank]].
    *
    * @param edges DIRECTED edge list — symmetrized + deduped here (pass
    *              both-direction input freely)
    * @return (id, removed_round): 1-based peel round, 0 = survived all
    */
  def kCorePeel(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, checkpointEvery: Int = 5,
      symmetric: Boolean = false,
      canonicalInput: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    val n = nodes.select(col(idCol).as("id")).distinct().pinned()
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b"))
    // `symmetric = true`: caller guarantees the edge list already carries
    // both directions (e.g. a co-occurrence self-join) — mirroring it
    // again would double the input of the one edge-scale distinct, the
    // derivation's dominant cost.
    // `canonicalInput = true`: caller passes the canonical a<b DISTINCT
    // edge list, already pinned. The peel needs BOTH directions (degrees
    // group by one endpoint), so the pin is mirrored with a narrow
    // map-side union — the dedup shuffle that built it carried half the
    // bytes of the both-directions form (opt guide §2.3) — and the union
    // is pinned as the loop invariant (two joins read it every round).
    val sym =
      (if (canonicalInput) {
        val c = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        c.union(c.select(col("dst").as("src"), col("src").as("dst")))
      } else (if (symmetric) und
        else und.union(und.select(col("b").as("a"), col("a").as("b"))))
        .distinct()
        .select(col("a").as("src"), col("b").as("dst")))
        .pinned()
    var alive = n
    var removed = n.limit(0).select(col("id"), lit(0L).as("removed_round"))
    var r = 1
    while (r <= rounds) {
      // alive is vertex-scale — AQE broadcasts both probes, so the edge
      // set is filtered map-side and only the degree aggregation shuffles
      val deg = sym
        .join(alive.select(col("id").as("src")), Seq("src"))
        .join(alive.select(col("id").as("dst")), Seq("dst"))
        .groupBy(col("dst").as("id")).agg(count(lit(1)).as("deg"))
      val doomed = alive.join(deg, Seq("id"), "left_outer")
        .where(coalesce(col("deg"), lit(0L)) < k)
        .select(col("id"), lit(r.toLong).as("removed_round"))
      removed = removed.unionByName(doomed)
      alive = alive.join(doomed.select(col("id")), Seq("id"), "left_anti")
      if (r % checkpointEvery == 0 && r < rounds) {
        alive = alive.pinned()
        removed = removed.pinned()
      }
      r += 1
    }
    n.join(removed, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("removed_round"), lit(0L)).as("removed_round"))
  }
}
