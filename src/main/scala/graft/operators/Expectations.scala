package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Deequ / Great-Expectations
  * role): completeness, uniqueness, bounds, value-set membership, and
  * referential integrity, evaluated as ONE wide aggregation pass over the
  * audited table plus one anti-join per foreign-key check — never a scan
  * per check. At 100 TB the difference between auditing a table and
  * re-reading it eight times is this plan shape.
  *
  * Every observed value is an exact 1e-6-scaled integer ratio (integer
  * division of exact counts), so reports are bit-reproducible across
  * engines and runs — an audit that flickers on float noise pages people
  * at 3am for nothing.
  */
object Expectations {

  /** One expectation over the audited frame. `minRatioE6` is the pass
    * threshold on the observed ratio (1e6 = must hold for every row).
    */
  sealed trait Check { def name: String; def target: String; def minRatioE6: Long }
  /** non-null fraction of `col` over all rows */
  case class Completeness(col: String, minRatioE6: Long = 1000000L) extends Check {
    val name = "completeness"; val target = col
  }
  /** distinct fraction of the NON-NULL values of `col` */
  case class Uniqueness(col: String, minRatioE6: Long = 1000000L) extends Check {
    val name = "uniqueness"; val target = col
  }
  /** fraction of non-null values inside [lo, hi] */
  case class Bounds(col: String, lo: Double, hi: Double,
      minRatioE6: Long = 1000000L) extends Check {
    val name = "bounds"; val target = col
  }
  /** fraction of non-null values inside the literal set */
  case class InSet(col: String, values: Seq[String],
      minRatioE6: Long = 1000000L) extends Check {
    val name = "in_set"; val target = col
  }
  /** fraction of non-null `col` values present in `dimCol` of `dim` —
    * evaluated as a left-anti join (orphan count), the only check that
    * cannot ride the single aggregation pass
    */
  case class ForeignKey(col: String, dim: DataFrame, dimCol: String,
      minRatioE6: Long = 1000000L) extends Check {
    val name = "foreign_key"; val target = col
  }

  /** Run the checks and return one report row per check:
    * (check, target, observed_e6, threshold_e6, pass).
    *
    * Plan shape: all aggregation-expressible checks share one
    * hash-aggregate over `df` (map-side combined — the shuffle carries one
    * partial row per partition); each FK check adds a single anti-join
    * count whose 1-row result is appended to the metrics row by broadcast
    * crossJoin; the report rows then EXPLODE out of that single row, so
    * nothing downstream is ever wider than the check list.
    */
  def audit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Expectations.audit: no checks given")
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: checks.zipWithIndex.flatMap {
      case (Completeness(c, _), i) => Seq(count(col(c)).as(s"__m$i"))
      case (Uniqueness(c, _), i) =>
        Seq(countDistinct(col(c)).as(s"__m$i"), count(col(c)).as(s"__d$i"))
      case (Bounds(c, lo, hi, _), i) =>
        Seq(count(when(col(c) >= lo && col(c) <= hi, 1)).as(s"__m$i"),
          count(col(c)).as(s"__d$i"))
      case (InSet(c, vs, _), i) =>
        Seq(count(when(col(c).isin(vs.map(lit): _*), 1)).as(s"__m$i"),
          count(col(c)).as(s"__d$i"))
      // the FK NUMERATOR needs the anti-join below, but its denominator is
      // aggregation-expressible and rides the shared pass — no extra scan
      case (ForeignKey(c, _, _, _), i) => Seq(count(col(c)).as(s"__d$i"))
    }
    var metrics = df.agg(aggs.head, aggs.tail: _*)
    checks.zipWithIndex.foreach {
      case (ForeignKey(c, dim, dc, _), i) =>
        val orphans = df.select(col(c)).filter(col(c).isNotNull)
          .join(dim.select(col(dc).as(c)), Seq(c), "left_anti")
          .agg(count(lit(1)).as(s"__o$i"))
        metrics = metrics.crossJoin(orphans)
      case _ => ()
    }
    // `div`, not `/`: Spark's Column./ is true division (double) — the
    // report must stay in exact integer arithmetic. The ×1e6 runs in
    // DECIMAL(38,0): a Long row count beyond ~9.2e12 rows (token-grain
    // tables at full scale) would overflow the 64-bit multiply.
    def ratio(num: String, den: String): Column =
      when(col(den) === 0L, lit(1000000L)) // vacuously true on an empty slice
        .otherwise(expr(
          s"CAST(CAST($num AS DECIMAL(38,0)) * 1000000 div $den AS BIGINT)"))
    val rows = checks.zipWithIndex.map { case (ck, i) =>
      val obs = ck match {
        case _: Completeness => ratio(s"__m$i", "__n")
        case _: Uniqueness | _: Bounds | _: InSet =>
          ratio(s"__m$i", s"__d$i")
        case _: ForeignKey =>
          ratio(s"(__d$i - __o$i)", s"__d$i")
      }
      struct(lit(ck.name).as("check"), lit(ck.target).as("target"),
        obs.as("observed_e6"), lit(ck.minRatioE6).as("threshold_e6"))
    }
    metrics.select(explode(array(rows: _*)).as("r"))
      .select(col("r.check").as("check"), col("r.target").as("target"),
        col("r.observed_e6").as("observed_e6"),
        col("r.threshold_e6").as("threshold_e6"),
        (col("r.observed_e6") >= col("r.threshold_e6")).as("pass"))
  }

  /** ROW-level disposition for the row-expressible checks (bounds,
    * value-set, completeness; FK via one broadcast-or-shuffle semi-join) —
    * the quarantine / dead-letter split every ingest pipeline runs next to
    * [[audit]]'s table-level report: good rows continue, each bad row
    * carries WHICH check it failed (first failure in check order, so a row
    * lands in exactly one bucket and counts are disjoint).
    *
    * One projection over the input (plus the FK join) — no per-check scan;
    * uniqueness is deliberately absent (a row-level "is duplicated" verdict
    * needs a keyed shuffle — that is [[Dedup.exactDedup]]'s job, not a
    * row predicate).
    *
    * @return input rows + `quarantine_reason` (null = row passes all)
    */
  def quarantine(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Expectations.quarantine: no checks given")
    var cur = df
    val preds: Seq[(String, Column)] = checks.zipWithIndex.flatMap {
      case (Completeness(c, _), _) =>
        Seq(s"completeness:$c" -> col(c).isNull)
      case (Bounds(c, lo, hi, _), _) =>
        Seq(s"bounds:$c" -> (col(c).isNotNull && !(col(c) >= lo && col(c) <= hi)))
      case (InSet(c, vs, _), _) =>
        Seq(s"in_set:$c" ->
          (col(c).isNotNull && !col(c).isin(vs.map(lit): _*)))
      case (ForeignKey(c, dim, dc, _), i) =>
        // mark orphans with a flag column via left-semi-style left join on
        // the distinct dim keys (broadcast under AQE when small). The flag
        // is keyed by CHECK INDEX — two identical FK specs must not collide
        val flag = s"__fk_ok_$i"
        cur = cur.join(
          dim.select(col(dc).as(c)).distinct().withColumn(flag, lit(true)),
          Seq(c), "left_outer")
        Seq(s"foreign_key:$c" -> (col(c).isNotNull && col(flag).isNull))
      case (_: Uniqueness, _) => Seq.empty
    }
    val reason = preds.foldRight(lit(null).cast("string")) {
      case ((name, bad), rest) => when(bad, lit(name)).otherwise(rest)
    }
    cur.withColumn("quarantine_reason", reason)
      .select(df.columns.map(col) :+ col("quarantine_reason"): _*)
  }
}
