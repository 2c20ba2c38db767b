package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sums (inclusive scan) without a global window.
  *
  * A running total ordered over the whole frame is usually written as
  * `sum(x).over(Window.orderBy(key))` — which Spark executes as a SINGLE
  * partition holding every row, the classic scale cliff. This operator is
  * the two-pass scan that keeps the data distributed:
  *
  *  1. range-partition by the sort key and pre-aggregate per-partition
  *     totals — at most `numPartitions` rows ever leave the executors;
  *  2. add each partition's starting offset (the exclusive scan of the
  *     totals, computed on the driver from ≤ numPartitions rows and put
  *     back into the plan as a literal map keyed by partition id) to a
  *     partition-LOCAL running sum.
  *
  * The per-partition window never crosses partition boundaries, so no
  * task materializes more than its slice. Where partition boundaries land
  * (the range sampler) does not affect the result because keys are
  * required unique: every prefix is a prefix of the same global order.
  *
  * Contract: `keyCol` must be unique per row (aggregate to one row per
  * key first — that is also what keeps the scan's input at distinct-key
  * scale rather than raw-row scale), and every value column must be
  * LongType — the scan is exact-integer so the result cannot depend on
  * where partition boundaries land (scale doubles to cents/fixed-point
  * first). Both are checked up front with actionable errors.
  */
object Scan {

  /** Adds an inclusive running `sum(valCol)` ordered by `keyCol` as
    * column `cumCol`, plus running sums for any `moreVals` as
    * `cum_<name>`. One range shuffle + one metadata-sized collect.
    */
  def prefixSum(df: DataFrame, keyCol: String, valCol: String,
      cumCol: String, moreVals: Seq[String] = Nil,
      numPartitions: Int = 0): DataFrame =
    prefixSumOrdered(df, Seq(col(keyCol)), valCol, cumCol, moreVals,
      numPartitions)

  /** [[prefixSum]] over an arbitrary COMPOSITE sort order: the running
    * sums follow the lexicographic order of `order` (each element may
    * carry `.desc`/`.asc`), which must be unique per row. This is what
    * lets the scan replace windows ordered by (quality DESC, doc_id) or
    * (group, time, id) without packing the key into one long — range
    * partitioning and the partition-local window both take the sort
    * expressions verbatim, so the semantics are exactly the retired
    * window's while no task ever sorts more than its slice.
    *
    * The uniqueness contract is ENFORCED at run time: duplicate composite
    * sort keys would make each duplicate row's prefix depend on where the
    * range sampler happened to split the tie — a silent nondeterminism —
    * so pass 2 counts each row's order-peers (a RANGE CURRENT ROW frame
    * over the same partition-local sort the running sum already pays for;
    * range partitioning co-locates equal keys, so the per-partition check
    * sees every duplicate) and raises on the first peer group > 1.
    */
  def prefixSumOrdered(df: DataFrame, order: Seq[Column], valCol: String,
      cumCol: String, moreVals: Seq[String] = Nil,
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val vals = valCol +: moreVals
    // The scan is exact-integer by contract: pass 1 collects per-partition
    // totals as Long (`getAs[Long]`), so a double/decimal value column
    // would fail later with an opaque ClassCastException at collect time.
    // Fail HERE with the fix spelled out instead.
    val badTypes = vals.filterNot(v =>
      df.schema(v).dataType == org.apache.spark.sql.types.LongType)
    require(badTypes.isEmpty,
      "prefixSum requires LongType value columns (exact integer " +
        "arithmetic — totals are summed and re-added across partitions, " +
        "so float rounding would depend on partition boundaries); got: " +
        badTypes.map(v => s"$v: ${df.schema(v).dataType.simpleString}")
          .mkString(", ") +
        ". Scale to integer units first (e.g. cents, 1e4-fixed-point).")
    // localCheckpoint pins ONE materialized range partitioning: the range
    // sampler re-draws boundaries per execution, so without it pass 1's
    // collected offsets and pass 2's final plan could see DIFFERENT
    // partition assignments and the offsets would misalign.
    val ranged = df.repartitionByRange(n, order: _*)
      .withColumn("_scan_pid", spark_partition_id())
      .pinned()
    // Pass 1: per-partition totals — ≤ n rows reach the driver.
    val totals = ranged.groupBy(col("_scan_pid"))
      .agg(vals.map(v => sum(col(v)).as(v)).head,
        vals.map(v => sum(col(v)).as(v)).tail: _*)
      .collect()
      .map(r => r.getInt(0) -> vals.map(v => r.getAs[Long](v)))
      .sortBy(_._1)
    // Exclusive scan of the totals = each partition's starting offsets.
    val offsets = totals.scanLeft(0 -> vals.map(_ => 0L)) {
      case ((_, acc), (pid, t)) => pid -> acc.lazyZip(t).map(_ + _)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }
      .toSeq
    // Pass 2: partition-local running sum + the partition's offset, looked
    // up in a ≤ n-entry literal map. Every non-empty partition has exactly
    // one offset, so a null lookup means the pinned-partitioning invariant
    // broke (e.g. the pin above was removed and the range sampler re-drew
    // boundaries) — it raises rather than yield a wrong sum.
    val w = Window.partitionBy(col("_scan_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Uniqueness guard: peers = rows tied on the FULL composite order
    // (RANGE CURRENT ROW..CURRENT ROW is the peer frame, legal for any
    // order expressions). Same partition/order spec as `w`, so both
    // frames evaluate in one WindowExec pass — the guard costs no extra
    // sort. Folded into the first output column so pruning can't drop it.
    val peers = count(lit(1)).over(
      Window.partitionBy(col("_scan_pid")).orderBy(order: _*)
        .rangeBetween(Window.currentRow, Window.currentRow))
    val named = (v: String) => if (v == valCol) cumCol else s"cum_$v"
    val withCum = vals.zipWithIndex.foldLeft(ranged) {
      case (acc, (v, i)) =>
        val dupGuard =
          if (i > 0) lit(0L)
          else when(peers > 1, raise_error(lit(
            "prefixSum order is not unique per row: duplicate composite " +
              "sort keys make each tied row's running sum depend on where " +
              "the range sampler splits the tie — aggregate to one row " +
              "per key (or extend the order with a tiebreaker) first")))
            .otherwise(lit(0L))
        val off = element_at(
          typedLit(offsets.map { case (pid, os) => pid -> os(i) }.toMap),
          col("_scan_pid"))
        acc.withColumn(named(v),
          sum(col(v)).over(w) + dupGuard +
            coalesce(off, raise_error(concat(
              lit("prefixSum offset misalignment: partition "),
              col("_scan_pid").cast("string"),
              lit(" has rows but no collected offset — the pinned range " +
                "partitioning invariant is broken")))))
    }
    withCum.drop("_scan_pid")
  }

  /** Per-GROUP inclusive running sum over an arbitrary unique composite
    * sort order — the device that retires
    * `sum/row_number().over(Window.partitionBy(boundedKey).orderBy(...))`
    * for BOUNDED group inventories (languages, shards, nations, stages):
    * that window funnels the whole table through |groups| tasks (~4 TB
    * per task at 100 TB with 25 nations), while this shape range-partitions
    * on (grpCols ++ sortCols) — groups stay contiguous in the global
    * order, no task sorts more than its slice — and converts the global
    * running sum ([[prefixSumOrdered]]) to a within-group one with a
    * group-stats side table. Each group's exclusive offset is
    * SELF-CONTAINED: max global cum inside the group minus the group's
    * own total = everything before the group; no cross-group ordering
    * assumption ever leaves the executors (safe for any group type,
    * including strings whose driver-side sort could diverge from the
    * engine's collation).
    *
    * Contract: (grpCols ++ sortCols) unique per row; `valCol` LongType
    * (prefix-scan exact-integer contract) and NONNEGATIVE — the group
    * offset is read as `max(global cum inside the group) − group total`,
    * which equals "everything before the group" only when the running
    * sum is nondecreasing within the group (a negative value would
    * silently mis-offset every row of its group). Enforced per row, same
    * style as the scan's other contract checks; the group inventory is
    * bounded — the stats table is one row per group and broadcasts back.
    *
    * Returns the input plus `cumCol` (inclusive within-group running sum
    * in sortCols order) and `totCol` (the group's value total). A null
    * group key is a group of its own, as in SQL's `PARTITION BY`.
    */
  def groupedPrefixSum(df: DataFrame, grpCols: Seq[String],
      sortCols: Seq[Column], valCol: String, cumCol: String,
      totCol: String): DataFrame = {
    val guarded = df.withColumn(valCol,
      when(col(valCol) >= 0L, col(valCol)).otherwise(raise_error(concat(
        lit(s"groupedPrefixSum requires nonnegative '$valCol' (the " +
          "max-cum group offset assumes a nondecreasing within-group " +
          "running sum); got "), col(valCol).cast("string")))))
    val scanned = prefixSumOrdered(guarded, grpCols.map(col) ++ sortCols,
      valCol, "_gps_cum")
    // ≤|groups| rows; max/sum partials combine map-side, so only group
    // aggregates cross the wire. Computed off the scan itself — prefixSum
    // pinned its range partitioning, so this replays no upstream work.
    val grpStats = scanned.groupBy(grpCols.map(col): _*)
      .agg(max(col("_gps_cum")).as("_gps_max"), sum(col(valCol)).as(totCol))
      .withColumn("_gps_off", col("_gps_max") - col(totCol))
      .drop("_gps_max")
    // Null-safe on every group column: a null group is its own group, as
    // in SQL's PARTITION BY (an equi-join would drop its rows).
    val keys = grpCols.indices.map(i => s"_gps_k$i")
    val keyed = grpStats.toDF(keys ++ Seq(totCol, "_gps_off"): _*)
    scanned.join(broadcast(keyed), grpCols.zip(keys)
        .map { case (g, k) => col(g) <=> col(k) }.reduce(_ && _))
      .withColumn(cumCol, col("_gps_cum") - col("_gps_off"))
      .drop("_gps_cum" +: "_gps_off" +: keys: _*)
  }

  /** Per-GROUP cumulative counts at value grain — the exact-rank device
    * that replaces `row_number().over(partitionBy(grp))` and exact
    * `percentile` when the group count is small (each group's window
    * sort would otherwise hold a corpus-scale slice in ONE task).
    *
    * Input is the value-grain count table (one row per (group, value),
    * `cntCol` rows collapsed into it); groups are identified by a dense
    * long index `gidxCol` < 2^20 and values by a non-negative long
    * `valueCol` < 2^42, so `gidx·2^42 + value` is a single unique long
    * whose global ascending order IS (group, value) order. One
    * [[prefixSum]] over that key gives the global running count; each
    * group's running count is then the global one minus the total of all
    * preceding groups — and because the key order is (group, value), that
    * offset is simply the global running count at the END of the previous
    * group, read off the scanned frame itself with one ≤|groups|-row
    * collect turned into two literal lookup maps (no join, no window, no
    * second materialization of the input).
    *
    * Returns the input plus `cum_grp` (inclusive within-group running
    * count, i.e. the rank of the LAST raw row carrying this value) and
    * `n_grp` (group row total). The value at within-group rank r is then
    * `min(value) WHERE cum_grp >= r` — an ordinary aggregation.
    *
    * Scale shape: one value-grain groupBy upstream (caller), one pinned
    * range shuffle, two metadata-sized collects. Nothing sorts more than
    * its partition slice.
    */
  def groupedValueRanks(vc: DataFrame, gidxCol: String, valueCol: String,
      cntCol: String): DataFrame = {
    val keyed = vc.withColumn("_gvr_key",
      when(col(gidxCol).between(0L, (1L << 20) - 1) &&
          col(valueCol).between(0L, (1L << 42) - 1),
        shiftleft(col(gidxCol), 42) + col(valueCol))
        .otherwise(raise_error(concat(lit("groupedValueRanks key out of " +
          "range (need 0 <= gidx < 2^20, 0 <= value < 2^42): gidx="),
          col(gidxCol).cast("string"), lit(" value="),
          col(valueCol).cast("string")))))
    val scanned = prefixSum(keyed, "_gvr_key", cntCol, "_gvr_cum")
    // ≤|groups| rows, read off the scan itself (prefixSum already pinned
    // its input, so this aggregation replays no upstream work): the max
    // global running count inside group g is the total of ALL rows
    // through g — each group's exclusive offset is the previous group's
    // cumulative total, its size the difference.
    val cumTotals = scanned.groupBy(col(gidxCol))
      .agg(max(col("_gvr_cum")).as("_t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offs = cumTotals.map(_._1)
      .zip(0L +: cumTotals.map(_._2).dropRight(1)).toMap
    val sizes = cumTotals.map { case (g, t) => g -> (t - offs(g)) }.toMap
    scanned
      .withColumn("cum_grp",
        col("_gvr_cum") - element_at(typedLit(offs), col(gidxCol)))
      .withColumn("n_grp", element_at(typedLit(sizes), col(gidxCol)))
      .drop("_gvr_key", "_gvr_cum")
  }
}
