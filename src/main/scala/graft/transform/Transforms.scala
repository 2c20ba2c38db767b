package graft.transform

import graft.model.TransactionalType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational fragments of the engine (SURVEY §2.3).
  *
  * Everything here is a declarative DataFrame transform: Catalyst handles
  * predicate pushdown / column pruning, and the control-table side of the
  * anti join is broadcast (it is bounded by 15 days of uploads — always the
  * small side at scale).
  */
object Transforms {

  /** Transactional dedup: drop rows already present in the `_uploaded`
    * control table, keyed by the transactional key columns.
    *
    * Reference: generated BigQuery SQL `LEFT JOIN ... USING(key) WHERE
    * uploaded.key IS NULL` (`/root/reference/megalista_dataflow/data_sources/
    * big_query/big_query_data_source.py:87-104`) and the pandas outer-merge
    * anti join for files (`data_sources/file/file_data_source.py:71-92`).
    *
    * Scale: broadcast the control table, so the 100 TB source side never
    * shuffles. "15 days of uploads" can still reach billions of keys at
    * large-cluster scale; [[graft.plans.BroadcastGuard]] may drop the
    * hint on an oversized log, and AQE then picks the strategy (shuffle
    * anti-join, or a runtime broadcast if the actual size turns out small).
    *
    * `source` may be a stream: a stream-static anti-join drops, per
    * micro-batch, rows whose keys already sit in the static uploaded table,
    * state-free (no watermark, no join state). Refresh contract
    * (spec-pinned): the static side is a SNAPSHOT for the lifetime of the
    * streaming query — its file listing is captured in the query's
    * analyzed plan at start, so control rows appended later are invisible
    * to every subsequent micro-batch (and an in-place overwrite breaks the
    * running query outright; writebacks must append, as
    * [[graft.io.UploadedLog]] does). To pick up a refreshed control table:
    * restart the query (checkpointed restarts resume exactly), or move the
    * anti-join into `foreachBatch`, where the uploaded-side DataFrame is
    * re-created — and its files re-listed — per batch.
    */
  def antiJoinUploaded(source: DataFrame, uploaded: DataFrame,
      keys: Seq[String]): DataFrame = {
    // Rename the control-table keys to fresh attributes before joining:
    // `uploaded` is often derived from the SAME scan as `source` (tests,
    // file-backed logs), and a same-lineage using-join can silently resolve
    // a key condition to the left side (trivially true) — renaming forces
    // unambiguous resolution.
    val right = uploaded.select(keys.map(k => col(k).as(s"__uploaded_$k")): _*)
    val cond = keys.map(k => col(k) === col(s"__uploaded_$k")).reduce(_ && _)
    source.join(broadcast(right), cond, "left_anti")
  }

  def antiJoinUploaded(source: DataFrame, uploaded: DataFrame, tt: TransactionalType): DataFrame =
    if (tt.keyColumns.isEmpty) source
    else antiJoinUploaded(source, uploaded, tt.keyColumns)

  /** 15-day retention filter applied when reading the `_uploaded` control
    * table (reference `file_data_source.py:140-147`; BigQuery side uses
    * 15-day partition expiration, `big_query_data_source.py:125`), counted
    * back from `nowMicros`: every read of one run shares that instant, so
    * their plans (and generated classes) are identical.
    */
  def retentionFilter(uploaded: DataFrame, nowMicros: Long, tsCol: String = "timestamp",
      days: Int = 15): DataFrame =
    uploaded.filter(col(tsCol) >= (timestamp_micros(lit(nowMicros)) - expr(s"INTERVAL $days DAYS")))

  /** Batch count for a row-count `n` and batch size `size`, preserving the
    * reference's semantics: the loop yields the in-progress batch after the
    * input is exhausted, so 11 rows / size 2 → 6 batches (sizes 2,2,2,2,2,1)
    * and an EMPTY input still yields exactly one empty batch
    * (`sources/batches_from_executions.py:118-131`, asserted by
    * `batches_from_executions_test.py:65-75`).
    */
  def batchCount(n: Long, size: Int): Long =
    if (n == 0) 1L else (n - 1) / size + 1

  /** Group rows of one partition into fixed-size batches: ceil(n/size)
    * batches for n > 0, one empty batch for empty input (reference loop
    * above). The 1-based per-execution iteration index is assigned by the
    * sink driver (SURVEY §7.4 item 1: first-batch flags are only honored on
    * the driver-coordinated first batch).
    */
  def grouped[T](rows: Iterator[T], size: Int): Iterator[Seq[T]] = {
    val g = rows.grouped(size).map(_.toSeq)
    if (g.hasNext) g else Iterator(Seq.empty[T])
  }

  /** Digits-only normalization (reference `utils/utils.py:18-23`). */
  def digitsOnly(c: Column): Column = regexp_replace(c, "[^0-9]", "")

  /** Union-all + dedup consolidation of branch outputs (reference
    * `steps/last_step.py:26-56`: Flatten + CombineGlobally dedup).
    */
  def consolidate(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty,
      "consolidate: no branch outputs to merge (every branch filtered out?)")
    dfs.reduce(_ unionByName _).distinct()
  }

  /** Exact per-key top-N (per-domain document caps, per-language exemplars)
    * with a salted partial-rank pre-pass: phase 1 ranks within
    * (key, salt(row)) and keeps N per salt bucket — any global top-N row is
    * necessarily top-N inside its bucket under the same total order, so
    * nothing is lost — and phase 2 ranks the ≤ salts×N survivors per key.
    * A plain `row_number over (partition by key)` sorts EVERY row of a hot
    * key in one task; here the first (wide) shuffle spreads a hot key over
    * `salts` tasks and the second sees at most salts×N rows per key —
    * the combiner-style cap that survives a single domain owning 10% of a
    * 100 TB corpus.
    *
    * `order` must be a TOTAL order per key (include a unique tiebreak
    * column) — ties broken differently per phase would drop the wrong rows.
    * `salt` must be deterministic per row (e.g. `pmod(col("id"), salts)`).
    *
    * OUTPUT adds the rank as a `rk` column (1-based long); the input must
    * not already carry `rk` or `__pre_rk` (enforced — a silent overwrite
    * would hand the caller window ranks where their data used to be).
    */
  def topNPerKey(df: DataFrame, key: Column, order: Seq[Column], n: Int,
      salt: Column, salts: Int = 16): DataFrame = {
    require(!df.columns.contains("rk") && !df.columns.contains("__pre_rk"),
      "topNPerKey: input already has an rk/__pre_rk column — rename it first")
    import org.apache.spark.sql.expressions.Window
    val pre = Window.partitionBy(key, pmod(salt, lit(salts))).orderBy(order: _*)
    val fin = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("__pre_rk", row_number().over(pre))
      .filter(col("__pre_rk") <= n)
      .drop("__pre_rk")
      .withColumn("rk", row_number().over(fin).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Salted large-large equi-join for degenerate keys: the skewed left
    * side's rows are salted `factor` ways (deterministically, from a hash of
    * the full row) and the right side is replicated once per salt, so one
    * hot key's rows spread over `factor` tasks instead of one straggler.
    * Exact inner-join semantics; use when a single KEY is hot beyond what
    * AQE's partition-granularity skew split can subdivide.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      factor: Int): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(factor)))
    val r = right.withColumn("__salt",
      explode(array((0 until factor).map(lit(_)): _*)))
    val cond = (keys.map(k => l(k) === r(k)) :+ (l("__salt") === r("__salt")))
      .reduce(_ && _)
    l.join(r, cond)
      .select(left.columns.map(l(_)) ++
        right.columns.filterNot(keys.contains).map(r(_)): _*)
  }

  /** CDC merge (upsert): latest-wins resolution of a base table against an
    * update batch by key — the lakehouse MERGE INTO maintenance pass,
    * expressed as UNION + one keyed window (a single hash shuffle; never a
    * join, so there is no big-vs-big join to plan and skewed keys are
    * bounded by their own per-key sort). Ties on `versionCol` resolve to
    * the UPDATE side (the semantics MERGE users expect); updates carrying
    * new keys insert, base rows without updates survive unchanged. Both
    * inputs must share the schema.
    *
    * At 100 TB the base side dominates; pair with [[graft.io.Bucketing]]
    * so the base is already bucketed by key and only the update batch
    * shuffles.
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    val u = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Full-CDC merge: like [[mergeUpsert]] but the update batch carries an
    * op column ('U' upsert / 'D' delete). The latest row per key wins
    * exactly as in the upsert merge; if the winner is a delete, the key
    * vanishes from the output (MERGE ... WHEN MATCHED AND op = 'D' THEN
    * DELETE). Same single-hash-shuffle shape — deletion is a post-window
    * filter, not another join.
    */
  def mergeCdc(base: DataFrame, updates: DataFrame, keys: Seq[String],
      versionCol: String, opCol: String): DataFrame = {
    val u = base.withColumn("__src", lit(0)).withColumn("__op", lit("U"))
      .unionByName(updates.withColumn("__src", lit(1))
        .withColumn("__op", col(opCol)).drop(opCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    u.withColumn("__rn", row_number().over(w))
      // null-SAFE delete test: a malformed update with op = null must act
      // as an upsert (the row survives), not vanish like a delete — a
      // plain =!= evaluates to null and silently drops the key
      .filter(col("__rn") === 1 && !(col("__op") <=> "D"))
      .drop("__rn", "__src", "__op")
  }
}
