package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins the built-in operators don't express directly: as-of
  * (latest-state lookup) and keyless point-in-interval, both shaped so the
  * physical plan is a single hash shuffle — never a range/theta join that
  * Spark would execute as BroadcastNestedLoopJoin.
  */
object Temporal {

  /** As-of join: for every left row, the payload of the LATEST right row
    * with the same key and `rightTs` <= `leftTs` (nulls when no right row
    * precedes the left row).
    *
    * Plan shape: instead of an inequality join (which Catalyst can only
    * execute as a nested loop when the equi-key is paired with a range
    * predicate it can't hash on), both sides are UNIONED and resolved with
    * one window pass — `last(payload, ignoreNulls)` over (key ORDER BY ts,
    * side) — so the whole operator is ONE shuffle on the key plus a sort
    * within partitions, the same cost as a regular sort-merge join. At
    * 100 TB the shuffle is keyed by `key` alone; a skewed key (one user
    * with millions of events) is bounded by the per-key sort, and AQE's
    * skew-split applies to the exchange as usual.
    *
    * Right rows must be UNIQUE per (key, rightTs) — pre-aggregate ties
    * first (their resolution order within the window would otherwise be
    * unspecified). Timestamps must be mutually comparable numeric columns.
    *
    * @param payloadCols right-side columns carried onto left rows
    * @return left columns + payloadCols (null where no right row precedes)
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left.select(col(key).as("__k"), col(leftTs).as("__t"),
      lit(1).as("__side"), struct(leftCols.map(col): _*).as("__l"))
    val r = right.select(
      (col(key).as("__k") +: col(rightTs).as("__t") +: lit(0).as("__side") +:
        payloadCols.map(col)): _*)
    // allowMissingColumns types the left side's absent payloads (and the
    // right side's absent __l) as typed nulls — no manual cast bookkeeping
    val u = l.unionByName(r, allowMissingColumns = true)
    // right (__side=0) sorts before left at equal ts => "<=" semantics;
    // all last() calls share one WindowSpec => a single Window exec
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = payloadCols.foldLeft(u) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .select(leftCols.map(c => col(s"__l.$c").as(c)) ++ payloadCols.map(col): _*)
  }

  /** Native whole-operator as-of join
    * ([[org.apache.spark.sql.graft.AsofJoinExec]]): the same backward
    * semantics as [[asofJoin]] plus what the union+window encoding cannot
    * express — a staleness `toleranceUs` bound, the FORWARD direction
    * (nearest right row at-or-after the left time), and the matched right
    * row's own columns (e.g. its timestamp) in the output. Physical plan:
    * co-partitioned exchanges on the keys + per-partition (key, time) sort
    * + ONE merge scan holding a single buffered right row — sort-merge-join
    * cost, no window state. Time columns must be LongType (epoch micros).
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: String, rightTs: String, toleranceUs: Long = -1L,
      forward: Boolean = false): DataFrame =
    org.apache.spark.sql.graft.AsofJoinDF.asofJoin(
      left, right, leftKeys, rightKeys, leftTs, rightTs, toleranceUs, forward)

  /** Skew-safe as-of join: [[asofJoinNative]] behind a hot-key salting
    * pre-pass. The native exec's merge needs every row of one key in one
    * sorted partition, and AQE's OptimizeSkewedJoin only matches the stock
    * join execs — so one pathological key (one device emitting a large
    * fraction of all left rows) runs as ONE task. This wrapper restores
    * parallelism without touching the exec:
    *
    *  1. ONE map-side-combinable count over the left side finds keys whose
    *     left row count exceeds `hotKeyThreshold` (bounded result: at most
    *     |left| / threshold keys, broadcast back).
    *  2. Hot left rows salt by `hash(leftTs) % numSalts` — time-hash keeps
    *     the split even regardless of the key's time distribution; cold
    *     rows take salt 0.
    *  3. The RIGHT side's hot-key rows replicate to every salt (cold rows
    *     to salt 0 only), so each salted bucket still sees the key's FULL
    *     history in sorted order — match results are row-identical to the
    *     unsalted join; only the partitioning changes.
    *
    * Cost: the extra count pass, plus right-side hot rows × numSalts
    * replication. Replication is the price of exactness — a backward match
    * may reach arbitrarily far back, so no time-range split of the right
    * side is safe without a carry-in pass. Keep `numSalts` near the
    * per-key parallelism you need, and if the hot key's RIGHT history is
    * itself huge, pre-aggregate right to one row per (key, time) first
    * (ties resolve arbitrarily in the unsalted exec anyway).
    */
  def asofJoinSalted(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: String, rightTs: String, toleranceUs: Long = -1L,
      forward: Boolean = false, numSalts: Int = 16,
      hotKeyThreshold: Long = 2000000L): DataFrame = {
    require(numSalts > 1, s"numSalts must exceed 1, got $numSalts")
    // ONE count job: the hot-key set is bounded (≤ |left| / threshold rows),
    // so collect it once and rebuild both sides' broadcast inputs from the
    // local rows — two independent broadcast(hot) exchanges would each
    // re-run the full left-side aggregation.
    val spark = left.sparkSession
    val hotRows = left.groupBy(leftKeys.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > hotKeyThreshold)
      .drop("__cnt")
      .collect().toSeq
    if (hotRows.isEmpty)
      return asofJoinNative(
        left.withColumn("__salt", lit(0)),
        right.withColumn("__rsalt", lit(0)),
        leftKeys :+ "__salt", rightKeys :+ "__rsalt",
        leftTs, rightTs, toleranceUs, forward)
        .drop("__salt").drop("__rsalt")
    val keySchema = org.apache.spark.sql.types.StructType(
      leftKeys.map(k => left.schema(k)))
    val hot = spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(hotRows).asJava), keySchema)
      .withColumn("__is_hot", lit(true))
    val l2 = left.join(hot, leftKeys, "left")
      .withColumn("__salt",
        when(col("__is_hot"), pmod(hash(col(leftTs)), lit(numSalts)))
          .otherwise(lit(0)).cast("int"))
      .drop("__is_hot")
    val hotR = leftKeys.zip(rightKeys).foldLeft(hot.drop("__is_hot")) {
      case (d, (l, r)) => d.withColumnRenamed(l, r)
    }.withColumn("__is_hot", lit(true))
    val r2 = right.join(hotR, rightKeys, "left")
      .withColumn("__rsalt", explode(
        when(col("__is_hot"), sequence(lit(0), lit(numSalts - 1)))
          .otherwise(array(lit(0)))))
      .withColumn("__rsalt", col("__rsalt").cast("int"))
      .drop("__is_hot")
    asofJoinNative(l2, r2, leftKeys :+ "__salt", rightKeys :+ "__rsalt",
        leftTs, rightTs, toleranceUs, forward)
      .drop("__salt").drop("__rsalt")
  }

  /** Keyless point-in-interval join: every (point, interval) pair with
    * `startCol` <= `pointTs` < `endCol` — the batch analog of a stream-
    * stream interval join, without any equi-key to hash on.
    *
    * Plan shape: time is quantized into `binWidth` bins; each interval
    * EXPLODES to the bins it covers, each point lands in exactly one bin,
    * and the product becomes a plain equi-join on the bin id with the
    * precise containment predicate applied AFTER the hash match. Because a
    * point belongs to one bin, every qualifying pair emerges exactly once —
    * no dedup pass. At 100 TB: shuffle volume is points + intervals ×
    * (len/binWidth + 1) rows, so `binWidth` should sit near the typical
    * interval length; a degenerate bin (all points in one hour) is an AQE
    * skew-split case, not a plan change.
    *
    * Intervals are half-open [start, end). Column names of the two inputs
    * must be disjoint.
    */
  def pointInIntervalJoin(points: DataFrame, pointTs: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val iv = intervals.withColumn("__bin",
      explode(sequence(expr(s"`$startCol` div $binWidth"),
        expr(s"(`$endCol` - 1) div $binWidth"))))
    val pt = points.withColumn("__pbin", expr(s"`$pointTs` div $binWidth"))
    pt.join(iv, col("__pbin") === col("__bin") &&
        col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__bin", "__pbin")
  }

  /** Per group (only groups with ≥ 2 distinct actors), the actor who ALONE
    * holds the group's latest timestamp — the TPC-H-Q21 exists/not-exists
    * pair (another actor exists; no other actor acted later) rewritten as
    * two aggregates over one grouping key instead of two correlated
    * self-joins. A timestamp TIE between distinct actors disqualifies the
    * group (no sole owner); ties WITHIN one actor's own rows don't.
    * Returns (groupCol, actor) — one row per qualifying group.
    */
  def soleLatestActor(df: DataFrame, groupCol: String, actorCol: String,
      tsCol: String): DataFrame = {
    val st = df.groupBy(col(groupCol).as("__g"))
      .agg(countDistinct(col(actorCol)).as("__nact"),
        max(col(tsCol)).as("__maxts"))
      .filter(col("__nact") >= 2)
    df.join(st, col(groupCol) === col("__g") && col(tsCol) === col("__maxts"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col(actorCol)).as("__nmax"),
        min(col(actorCol)).as("actor"))
      .filter(col("__nmax") === 1)
      .select(col(groupCol), col("actor"))
  }

  /** Exact trailing-window distinct entities per period WITHOUT a distinct
    * re-count per period: the interval-coverage rewrite. Each entity's
    * active periods merge into coverage islands [p, p + windowPeriods − 1]
    * (gaps-and-islands on the entity partitioning — a new island starts
    * when the gap exceeds the window), each merged island explodes into
    * the periods it covers, and a plain count per period IS the distinct
    * count because one entity's islands never overlap.
    *
    * Scale: the naive form re-aggregates a distinct per period (window×
    * data work, or a single-partition global window); this is one window
    * pass per entity + a bounded explode (≤ windowPeriods × distinct
    * (entity, period) rows) + one count shuffle. Output periods cover
    * every period within windowPeriods−1 after an active period — i.e.
    * trailing windows with at least one active entity.
    */
  def slidingDistinct(df: DataFrame, entityCol: String, periodCol: String,
      windowPeriods: Int): DataFrame = {
    require(windowPeriods >= 1, s"windowPeriods must be >= 1: $windowPeriods")
    val pad = windowPeriods - 1
    val w = Window.partitionBy(col(entityCol)).orderBy(col("__p"))
    df.select(col(entityCol), col(periodCol).cast("long").as("__p"))
      .distinct()
      .withColumn("__new_isl",
        when(col("__p") - lag(col("__p"), 1).over(w) > pad, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new_isl")).over(w))
      .groupBy(col(entityCol), col("__isl"))
      .agg(min(col("__p")).as("__d0"), (max(col("__p")) + pad).as("__d1"))
      .select(explode(sequence(col("__d0"), col("__d1"))).as(periodCol))
      .groupBy(col(periodCol))
      .agg(count(lit(1)).as("n_distinct"))
  }
}
