package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape audit: the properties that decide 100 TB behavior, asserted
  * against the actual physical plans on real data. A regression that turns
  * a broadcast anti-join into a nested loop, or un-prunes a scan, fails
  * here — not in a benchmark three rounds later.
  */
class PlanSpec extends SparkTestBase {

  private val dir = sf("sf0.001")

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def analyzed(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("transactional dedup is a broadcast left-anti hash join") {
    val p = planOf("q_anti_join_key")
    assert(p.contains("LeftAnti"), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("schema pruning reaches the parquet scan (ReadSchema)") {
    val p = planOf("q_prune_user_id")
    // only the schema-matched source column is read; the decoy column the
    // query also projected (then pruned away) never reaches the scan
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("ReadSchema: struct<c_name:string>"),
      s"scan not pruned to the single matched column: $readSchema")
    assert(!readSchema.contains("c_acctbal"))
  }

  test("filter pushdown reaches the scan (PushedFilters)") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), p)
  }

  test("near-dup LSH plans contain no cartesian/nested-loop joins") {
    Seq("d_minhash_lsh_pairs", "d_simhash_pairs", "d_ngram_jaccard_pairs",
      "e_neardup_pairs", "d_lsh_skew_guard").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join")
    }
  }

  // ---- structural BNLJ audit ------------------------------------------
  // A BroadcastNestedLoopJoin is acceptable at 100 TB in exactly one
  // shape: the build side is a <=1-row global aggregate shipped under
  // IdentityBroadcastMode (the "corpus scalar" — n_docs, avgdl, total m,
  // a conformal threshold — appended map-side to every row). Anything
  // else (a real relation on the build side) is a data-scale nested loop
  // and fails. This is checked STRUCTURALLY on the physical plan, so a
  // new corpus-scalar operator passes automatically and a new data-scale
  // BNLJ fails loudly — no name list to forget to update.
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
  import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode
  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  /** build side is a broadcast of a global (no-grouping-key) aggregate —
    * guaranteed <=1 row — under IdentityBroadcastMode */
  private def scalarBuild(j: BroadcastNestedLoopJoinExec): Boolean = {
    val side = j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    }
    flatten(side).exists {
      case b: BroadcastExchangeExec if b.mode == IdentityBroadcastMode =>
        scalarTop(b.child)
      case _ => false
    }
  }

  /** the plan's TOP is a no-grouping-key aggregate (exactly 1 output
    * row), looking through row-preserving unary wrappers only — a
    * row-multiplying Generate/Expand above the aggregate fails */
  private def scalarTop(p: SparkPlan): Boolean = p match {
    case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case _: org.apache.spark.sql.execution.ExpandExec => false
    case u if u.children.size == 1 => scalarTop(u.children.head)
    case _ => false
  }

  test("no cartesian/nested-loop joins across ALL registered query plans") {
    // Excluded outright (cannot even be PLANNED side-effect-free, or are
    // the documented exact baselines whose whole point is the brute-force
    // shape):
    //  - plan-BUILD-time side effects: the pipeline fixpoint, streaming
    //    drains, index/table writes, the digest-log double run — invoking
    //    the query function executes work, so the blanket audit skips
    //    them. They are NOT unaudited: ExecutedPlanAuditSpec runs each one
    //    and holds every SQL execution it posts (micro-batches, writes,
    //    the returned frame) to the same structural standard via the
    //    listener bus.
    //  - brute-force BASELINES: e_cosine_topk / e_mips_topk and the flat
    //    index scans (e_quantized_topk, e_pq_topk, e_trunc_rerank) are
    //    the deliberate exact references the ANN indexes exist to avoid;
    //    e_ann_recall / d_lsh_recall evaluate against those baselines so
    //    they contain the same shape; t_hybrid_rrf composes e_cosine_topk.
    //  - t_kmv_jaccard: groups x groups inequality join of one-sketch-row
    //    -per-group frames — group-count-scale, never corpus-scale.
    //  - q_mondrian_anon: round 1 has ONE cell (key constant-folded), so
    //    the 1-row median join plans as a broadcast scalar of a GROUPED
    //    aggregate; rounds 2+ plan as hash joins.
    // Everything else — including every corpus-scalar crossJoin operator —
    // is audited structurally by scalarBuild: BNLJ passes only with a
    // <=1-row IdentityBroadcastMode global-aggregate build side.
    val skip = Set("p_pipeline_idempotence", "s_rollup_stream",
      "s_sessionize_stream", "s_dedup_stream", "s_interval_join_stream",
      "s_sliding_stream", "s_asof_stream", "s_anti_join_stream",
      "s_transitions_stream", "s_topk_stream", "s_outer_interval_stream",
      "s_session_window_stream", "s_ingest_dedup_stream",
      "s_quality_monitor_stream", "s_hll_stream", "s_f2_stream",
      "s_psi_stream", "s_cusum_stream", "s_ewma_stream", "s_srm_stream",
      "d_incremental_dedup", "e_ivf_index_topk", "e_pq_index_topk",
      "d_lsh_index_pairs",
      "q_orc_roundtrip", "q_jsonl_roundtrip", "q_csv_roundtrip",
      "q_partitioned_prune", "q_time_travel", "q_snapshot_diff",
      "q_schema_evolution", "q_bucket_join", "q_rtbf_delete",
      "q_delete_vectors", "q_dpp_prune", "q_runtime_filter",
      "e_cosine_topk", "e_mips_topk", "e_quantized_topk", "e_pq_topk",
      // e_binary_topk's coarse stage is the documented flat Hamming scan
      // of the 1-bit/dim sign index (tiny broadcast query side × packed
      // corpus words), exact-rescored via equi-joins — e_quantized_topk's
      // exemption class
      "e_binary_topk",
      "e_trunc_rerank", "e_ann_recall", "d_lsh_recall", "t_hybrid_rrf",
      "t_kmv_jaccard", "q_mondrian_anon")
    SparkEntry.queries.keys.filterNot(skip).foreach { q =>
      val nodes = flatten(analyzed(q).queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$q has a cartesian product")
      nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        assert(scalarBuild(j),
          s"$q has a non-scalar nested loop join (build side is not a " +
            s"<=1-row IdentityBroadcastMode global aggregate):\n" +
            j.toString.linesIterator.take(6).mkString("\n"))
      }
    }
  }

  test("q4_priority_count: EXISTS runs as a single left-semi hash join") {
    val p = planOf("q4_priority_count")
    assert(p.contains("LeftSemi"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_mix_effect: the two-year window reaches the lineitem scan as a range PushedFilter") {
    // year(l_shipdate) IN (...) is a function of the column and can never
    // push; the entry uses the equivalent [1996-01-01, 1998-01-01) range
    val p = planOf("q_mix_effect")
    val scan = p.linesIterator.filter(_.contains("PushedFilters"))
      .find(_.contains("l_shipdate")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(l_shipdate") &&
      scan.contains("LessThan(l_shipdate"), p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q19_disjunctive: the brand hull reaches the part scan as PushedFilters") {
    // the OR straddles the join and can't push as written — the explicit
    // hull predicate must land in the part scan's pushed filters
    val p = planOf("q19_disjunctive")
    val scan = p.linesIterator.filter(_.contains("PushedFilters"))
      .find(_.contains("p_brand")).getOrElse("")
    assert(scan.contains("In(p_brand"), p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q22_idle_balance: lapsed-customer check is a left-anti join with the date pushed") {
    val p = planOf("q22_idle_balance")
    assert(p.contains("LeftAnti"), p.linesIterator.take(8).mkString("\n"))
    val ordScan = p.linesIterator.filter(_.contains("PushedFilters"))
      .find(_.contains("o_orderdate")).getOrElse("")
    assert(ordScan.contains("GreaterThanOrEqual(o_orderdate"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q2_min_cost_supp: slice predicates push below the derived-relation aggregation") {
    // the part/supplier slices are group-key predicates on the derived
    // part-supplier relation — they must run as semi probes BEFORE the
    // (partkey, suppkey) aggregation, not as post-agg filters, or the
    // derivation shuffles the full fact table at 100 TB
    val p = planOf("q2_min_cost_supp")
    assert(p.contains("LeftSemi"), p.linesIterator.take(12).mkString("\n"))
    // part-type slice reaches the part scan as a pushed filter
    val partScan = p.linesIterator.filter(_.contains("PushedFilters"))
      .find(_.contains("p_type")).getOrElse("")
    assert(partScan.contains("EqualTo(p_type,PROMO)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q16_supplier_cnt: supplier exclusion is a broadcast left-anti join") {
    val p = planOf("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q20_excess_stock: the nested-exists chain runs as semi joins") {
    val p = planOf("q20_excess_stock")
    assert(p.contains("LeftSemi"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_dpp_prune: fact scan carries the dynamic partition pruning subquery") {
    val p = planOf("q_dpp_prune")
    assert(p.contains("dynamicpruningexpression"),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("runtime bloom filter lands on the fact side when broadcast is off") {
    // the registered q_runtime_filter materializes inside this conf scope
    // (planning-time confs); the plan pin runs under the same conf set
    graft.util.Sessions.scoped(spark, graft.registry.QueryRows.RuntimeFilterConfs: _*) { s =>
      val sel = s.read.parquet(s"$dir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val df = s.read.parquet(s"$dir/lineitem.parquet")
        .join(sel, org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        p.linesIterator.take(25).mkString("\n"))
    }
  }

  test("q_bucket_join: sort-merge join over bucketed tables, zero exchanges") {
    val p = planOf("q_bucket_join")
    assert(p.contains("SortMergeJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      "bucketed fact side still shuffles for the join")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed dim side still shuffles for the join")
  }

  test("broadcastGuard: oversized explicit broadcast hints are stripped, small ones kept") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import graft.util.Checkpoints._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    def joinHint(side: DataFrame): JoinHint =
      li.join(broadcast(side), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan
        .collect { case j: Join => j.hint }.head
    def kept(h: JoinHint): Boolean =
      h.rightHint.exists(_.strategy.exists(_.toString == "broadcast"))
    def asOrders(df: org.apache.spark.sql.Dataset[_]): DataFrame =
      df.select(col("id").as("o_orderkey"), col("id").cast("string").as("o_orderpriority"))
    // a real dimension side, far under the guard's cap: the hint survives to
    // the join node's right side
    assert(kept(joinHint(ord)))
    // 2^40 rows — estimate and leaf bytes both 8 TiB; planned, never
    // executed: the guard strips the hint and the join reverts to unhinted
    assert(joinHint(asOrders(spark.range(1L << 40))) === JoinHint.NONE)
    // a pinned side reports the bytes it stores, not its pre-pin estimate:
    // five rows out of a filtered cross join of five 10-row ranges estimate
    // the cross join's ~1 GB before the pin and a few hundred bytes after,
    // so the hint on them is kept
    val r = (1 to 5).map(i => spark.range(10).toDF(s"c$i"))
    val fewRows = asOrders(r.reduce(_.crossJoin(_))
      .filter(r.indices.map(i => col(s"c${i + 1}")).reduce(_ + _) === 1)
      .select(col("c1").as("id")))
    assert(fewRows.queryExecution.optimizedPlan.stats.sizeInBytes > (1L << 30))
    val fewPinned = fewRows.pinned()
    assert(fewPinned.count() == 5)
    assert(fewPinned.queryExecution.optimizedPlan.stats.sizeInBytes < (64L << 10))
    assert(kept(joinHint(fewPinned)))
    // a pinned side with a small pre-pin estimate keeps its hint
    assert(kept(joinHint(asOrders(spark.range(5)).pinned())))
    // one policy: no main source but the guard reads a plan size estimate
    val main = Paths.get("src/main")
    val readers = Files.walk(main).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        Files.readString(f).contains("stats.sizeInBytes"))
      .map(main.relativize(_).toString).toList
    assert(readers == List("scala/graft/plans/BroadcastGuard.scala"), readers)
  }

  test("one conf writer: only Sessions writes a runtime conf, on a clone") {
    // the pipeline's branch threads share one session; a runtime conf
    // write anywhere else in the program would leak into their plans
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main")
    val writers = Files.walk(main).iterator().asScala
      .filter(f => Files.isRegularFile(f) && Files.readString(f).contains("conf.set"))
      .map(main.relativize(_).toString).toList
    assert(writers == List("scala/graft/util/Sessions.scala"), writers)
  }

  test("ngram jaccard plan carries no plan-time broadcast hint (per-doc tables)") {
    // The sizes table is one row per DOCUMENT — a forced broadcast() of it
    // OOMs at corpus scale. The plan must carry no hint at all; AQE may
    // still legitimately pick a runtime broadcast for genuinely small
    // intermediates, which is exactly the behavior we want.
    val logical = analyzed("d_ngram_jaccard_pairs").queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"),
      "a plan-time broadcast hint survives in the ngram-jaccard plan")
  }

  test("ANN query-side broadcast is size-gated: oversized query set takes a shuffle join") {
    // Corpus-vs-corpus retrieval makes the "query set" as large as the
    // corpus; a 2^40-row query set (planned, never executed) is far above
    // BroadcastGuard's cap, so the plan must carry NO broadcast hint and
    // the oversized query side takes a shuffle join. A plan-time hint
    // would force broadcast regardless of Spark's own threshold — so with
    // auto-broadcast disabled, any surviving broadcast in the physical
    // plan can only come from a hint.
    import org.apache.spark.sql.functions.{array_repeat, col}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val huge = spark.range(1L << 40)
      .select(col("id").as("vec_id"),
        array_repeat(col("id").cast("double"), 64).as("embedding"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val srp = graft.operators.Similarity.srpTopK(huge, emb, "vec_id", "embedding")
        .queryExecution.executedPlan.toString
      assert(!srp.contains("BroadcastHashJoin") && !srp.contains("BroadcastExchange"),
        "srpTopK still broadcasts an oversized query set")
      assert(!srp.contains("BroadcastNestedLoopJoin") && !srp.contains("CartesianProduct"))
      assert(srp.contains("SortMergeJoin") || srp.contains("ShuffledHashJoin"),
        "expected a shuffle join on the signature key")
      val centroids = graft.operators.TrainedCentroids.sf001
      val ivf = graft.operators.Similarity.ivfTopK(huge, emb, "vec_id", "embedding",
        centroids).queryExecution.executedPlan.toString
      assert(!ivf.contains("BroadcastHashJoin") && !ivf.contains("BroadcastExchange"),
        "ivfTopK still broadcasts an oversized query set")
      assert(!ivf.contains("BroadcastNestedLoopJoin") && !ivf.contains("CartesianProduct"))
      assert(ivf.contains("SortMergeJoin") || ivf.contains("ShuffledHashJoin"),
        "expected a shuffle join on the cell key")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stratified sample scan prunes to (doc_id, source) — never reads text") {
    // the whole point of a scan-fused sampler: at 100 TB the text column is
    // ~the corpus; the hash filter must run off two narrow columns
    val p = planOf("c_stratified_sample")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("source"), readSchema)
    assert(!readSchema.contains("text"), s"sampler reads the text column: $readSchema")
  }

  test("dimension joins in q3 are broadcast (no shuffle of the fact side for the join)") {
    val p = planOf("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("exact dedup shuffles on the content digest, not the raw text") {
    val p = planOf("d_exact_dedup_keep")
    // the partitioning expression is the sha2 digest of the text
    assert(p.contains("sha2"), "digest key missing from the plan")
  }

  test("top-k aggregate runs as a PARTIAL object-hash aggregation (map-side combine)") {
    // the whole point vs a window rank: the pre-shuffle phase must carry a
    // partial aggregate (<= k pairs per group per partition), not raw rows
    val p = planOf("q_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p.linesIterator.take(6).mkString("\n"))
    assert(p.contains("partial_topkbyscore"), "no partial (map-side) top-k phase in the plan")
    assert(!p.contains("Window"), "top-k agg plan must not fall back to a window sort")
  }

  test("argmax runs as a partial hash aggregation, never a window sort") {
    // max(struct(...)) must keep the map-side-combinable shape that makes
    // it the scale-correct alternative to row_number
    // struct-typed buffers aren't hash-aggregable, so Spark picks
    // SortAggregate (sorted by the GROUP key only — never a per-group
    // value sort); the load-bearing property is the partial phase
    val p = planOf("q_argmax")
    assert(p.contains("partial_max"),
      "no partial (map-side) max phase in the argmax plan:\n" +
        p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window"), "argmax plan must not fall back to a window sort")
  }

  test("hive-layout read prunes at planning time (PartitionFilters on etype)") {
    val p = planOf("q_partitioned_prune")
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(etype"),
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("ratio-to-report never single-partitions: no global window in the plan") {
    val p = planOf("q_revenue_share")
    assert(!p.contains("Window"), "q_revenue_share must use the 1-row " +
      "scalar broadcast, not sum() OVER () through one partition")
  }

  test("prefix-sum scan windows are partition-local, never a global sort") {
    // Scan.prefixSum's running sums must ride Window(partitionBy _scan_pid)
    // — a Window with an empty partition spec would funnel the whole
    // distinct-value frame through ONE task, the exact cliff the operator
    // exists to avoid. Every consumer whose ONLY windows are the scan's is
    // pinned (q_lorenz_deciles is exempt: its 10-row decile-share windows
    // are legitimately global at metadata scale).
    for (q <- Seq("q_gini", "q_ks_stat", "t_conformal")) {
      val p = planOf(q)
      val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(winLines.nonEmpty, s"$q lost its scan window")
      winLines.foreach { l =>
        assert(l.contains("_scan_pid"),
          s"$q has a window not keyed by the scan partition id: $l")
      }
    }
  }

  test("robust-stats ranks ride the scan: no data-scale window, no exact percentile") {
    // q_winsorized_mean / q_mad_outliers find their rank values via
    // Scan.groupedValueRanks. The shapes they retired must never come
    // back: row_number().over(partitionBy(5-value grp)) sorts the whole
    // orders table in 5 tasks; exact percentile() buffers every group
    // value in ONE aggregation buffer. Any window in these plans must be
    // the scan's partition-local one.
    for (q <- Seq("q_winsorized_mean", "q_mad_outliers")) {
      val p = planOf(q)
      assert(!p.contains("percentile"), s"$q reintroduced exact percentile")
      p.linesIterator.filter(_.contains("Window")).foreach { l =>
        assert(l.contains("_scan_pid"),
          s"$q has a window not keyed by the scan partition id: $l")
      }
    }
  }

  test("bounded-group running sums ride the scan: every window partition-local") {
    // t_token_budget / c_pack_sequences / c_epoch_shuffle / t_length_deciles
    // retired their Window.partitionBy(lang|shard) — a whole language (or
    // 1/8th of the corpus) in ONE task — for Scan.groupedPrefixSum. Any
    // window in these plans must be the scan's partition-local one.
    for (q <- Seq("t_token_budget", "c_pack_sequences", "c_epoch_shuffle",
        "t_length_deciles")) {
      val p = planOf(q)
      assert(!p.contains("row_number("), s"$q reintroduced a window rank")
      val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(winLines.nonEmpty, s"$q lost its scan window")
      winLines.foreach { l =>
        assert(l.contains("_scan_pid"),
          s"$q has a window not keyed by the scan partition id: $l")
      }
    }
    // c_curriculum_order additionally keeps ONE legitimate global window:
    // the 4x|langs| stage-offset running sum over the counts table. All
    // ranking windows must still be the scan's.
    val p = planOf("c_curriculum_order")
    assert(!p.contains("row_number("),
      "c_curriculum_order reintroduced a bounded-partition window rank")
    p.linesIterator.filter(_.contains("Window")).foreach { l =>
      assert(l.contains("_scan_pid") || l.contains("cnt"),
        s"c_curriculum_order has an unexpected window: $l")
    }
  }

  test("rank suite rides the scan: no bounded-partition data-scale sort") {
    // q_rank_suite's percent_rank/cume_dist/ntile/dense_rank derive from
    // the prefix-sum scan's row numbers. The retired shape —
    // Window.partitionBy(25-value c_nationkey) sorting the whole customer
    // table in 25 tasks — must never come back: every window in the plan
    // must be the scan's partition-local one and no ranking function may
    // appear as a window expression.
    val p = planOf("q_rank_suite")
    for (f <- Seq("percent_rank()", "cume_dist()", "ntile(", "dense_rank()"))
      assert(!p.contains(f), s"q_rank_suite reintroduced window function $f")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, "q_rank_suite lost its scan window")
    winLines.foreach { l =>
      assert(l.contains("_scan_pid"),
        s"q_rank_suite has a window not keyed by the scan partition id: $l")
    }
  }

  test("scan consumers join nothing on the scan partition id") {
    // Scan.prefixSumOrdered reads each partition's offset from a literal
    // map keyed by _scan_pid; an offsets table joined back on it would
    // cost a join and a broadcast job per scan
    val joinKeys = raw"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\], \[([^\]]*)\]".r
    for (q <- Seq("q_gini", "q_ks_stat", "t_conformal", "q_rank_suite",
        "q_winsorized_mean", "q_mad_outliers", "t_token_budget",
        "c_pack_sequences")) {
      val p = planOf(q)
      assert(!p.contains("_scan_pid_o"), s"$q still carries an offsets table")
      for (m <- joinKeys.findAllMatchIn(p); keys = m.group(2) + ", " + m.group(3))
        assert(!raw"(^|[ (,])_scan_pid#".r.findFirstIn(keys).isDefined,
          s"$q joins on the scan partition id: ${m.matched}")
    }
  }

  test("EXISTS audit plans as a LEFT SEMI hash join with no post-join distinct") {
    val p = planOf("q_semi_join")
    assert(p.contains("LeftSemi"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("kernel expressions stay inside whole-stage codegen") {
    val df = analyzed("d_simhash_pairs")
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen spans in the final plan; the
    // projection computing the kernel signature must carry one
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("attribution plans joinless: windows over one user partitioning, then one agg") {
    // touch→conversion ownership is a running-min window, NOT a
    // touch×conversion join — the plan shape that survives 100 TB
    val p = planOf("q_attribution")
    assert(!p.contains("Join"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("Window"))
  }

  test("rfm scan prunes to the three analysis columns; orders aggregate before windows") {
    val p = planOf("q_rfm_segments")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_custkey") && readSchema.contains("o_orderdate")
      && readSchema.contains("o_totalprice"), readSchema)
    assert(!readSchema.contains("o_orderstatus") && !readSchema.contains("o_orderpriority"),
      s"rfm reads columns it never uses: $readSchema")
  }

  test("pii scan is a pure shuffle-free projection pass") {
    val df = analyzed("t_pii_scan")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "typed PII scan must not shuffle")
  }

  test("dp release aggregates once; noise is scalar post-agg work") {
    val df = analyzed("q_dp_counts")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      p.linesIterator.take(12).mkString("\n"))
  }

  test("PQ encode kernel stays inside whole-stage codegen") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val enc = emb.select(graft.operators.Pq.encodeExpr(
      org.apache.spark.sql.functions.col("embedding"),
      graft.operators.TrainedPq.sf001).as("codes"))
    enc.collect()
    val p = enc.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("rtbf purge is a broadcast left-anti hash join; request side never shuffles the table") {
    val requests = spark.read.parquet(dir + "/customer.parquet")
      .filter(org.apache.spark.sql.functions.col("c_custkey") % 97 === 0)
      .select("c_custkey")
    val purged = spark.read.parquet(dir + "/customer.parquet")
      .join(org.apache.spark.sql.functions.broadcast(requests), Seq("c_custkey"), "left_anti")
    val p = purged.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("extended data card: one expand pass over documents, entropy side broadcast-joined") {
    val p = SparkEntry.queries("c_data_card")(spark, dir)
      .queryExecution.executedPlan.toString
    // the grouping-sets expand appears once — the percentile/distinct
    // aggregates ride the same pass, not extra scans of documents
    assert("Expand".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastHashJoin"), p) // entropy table join
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("contamination report: eval gram side broadcasts, no cartesian anywhere") {
    val p = SparkEntry.queries("c_contamination_report")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }
}
