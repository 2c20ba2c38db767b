package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's one broadcast-size policy: an optimizer guard against
  * oversized EXPLICIT broadcasts — a `Rule[LogicalPlan]` injected through
  * `SparkSessionExtensions` ([[graft.GraftExtensions]]).
  *
  * A `broadcast(df)` hint is an unconditional order: Spark ships the whole
  * side to every executor even when it has grown to tens of GB since the
  * hint was written (the classic slow-creep OOM — the dimension table that
  * was 10 MB at launch and 40 GB two years later). Call sites therefore
  * write a plain `broadcast(...)` on the side they expect small and leave
  * the size decision here. The guard runs in the operator-optimization
  * batch — after `EliminateResolvedHint` has moved hints onto the `Join`
  * nodes — and clears a side's BROADCAST hint when BOTH of two size
  * signals — the plan-level estimate AND the sum of the side's known leaf
  * sizes (true file bytes, or the bytes a pin stores) — exceed 128 MiB (see the in-body note for
  * why either signal alone over-strips), letting the planner fall back to
  * a shuffle join; AQE can still re-broadcast at runtime if the TRUE size
  * turns out small. The cap is 128 MiB because hinted sides include logs
  * that only grow (the pipeline's `_uploaded` control table, the ingest
  * digest log), and each broadcast copy lands in every executor's memory.
  *
  * Stripped hints are logged with both sizes so the regression is
  * visible, not silent.
  */
case class BroadcastGuard(spark: SparkSession) extends Rule[LogicalPlan] with Logging {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val maxBytes = BigInt(128L << 20)
    // Trip-wire size = sum of the KNOWN leaf sizes (true on-disk bytes of
    // file-backed scans, stored bytes of pins), not the side's own estimate alone. The
    // plan-level estimate is garbage exactly where hints matter: above a
    // Join it is the PRODUCT of child sizes (a 3-small-table dimension
    // "estimates" past any cap). Measured on the round-13 baseline: 124
    // stripped hints per bench pass, every one kilobyte-scale at runtime,
    // each re-rescued by AQE only AFTER the fact side had paid its planned
    // shuffle WRITE. The guard's actual target — the dimension table that
    // slow-crept past broadcastable size — shows up in leaf bytes, which
    // only under-count a broadcast side when a join EXPLODES it (not the
    // authored-broadcast shape; Spark's 8 GB / 512M-row broadcast cap
    // still backstops that). Only leaves whose size is really unknown
    // (spark.sql.defaultSizeInBytes) drop out of the sum, so a side whose
    // leaves are ALL of unknown size sums to 0 and keeps its hint.
    // Each signal alone also over-strips the OTHER corner: leaf bytes
    // over-count a side that AGGREGATES a big table down to scalars
    // (estimate 8 B, leaves 6 TB — five such sides in the registry), the
    // estimate over-counts multi-join sides. min(estimate, leaf bytes)
    // only trips when BOTH say big — which is exactly the creep case (a
    // single grown dimension: estimate ≈ leaf bytes ≈ big).
    val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    def guardSize(p: LogicalPlan): BigInt = {
      val leaves = p.collectLeaves().map(_.stats.sizeInBytes).filter(_ < unknown).sum
      leaves.min(p.stats.sizeInBytes)
    }
    def guard(side: String, h: Option[HintInfo], p: LogicalPlan): Option[HintInfo] =
      h match {
        case Some(info) if info.strategy.contains(BROADCAST) &&
            guardSize(p) > maxBytes =>
          logWarning(s"BroadcastGuard: clearing BROADCAST hint on the " +
            s"$side side — min(known leaf bytes, estimate) ${guardSize(p)} " +
            s"> $maxBytes (plan estimate ${p.stats.sizeInBytes})")
          val stripped = info.copy(strategy = None)
          if (stripped == HintInfo()) None else Some(stripped)
        case other => other
      }
    plan.transformUp {
      case j @ Join(l, r, _, _, JoinHint(lh, rh))
          if lh.exists(_.strategy.contains(BROADCAST)) ||
            rh.exists(_.strategy.contains(BROADCAST)) =>
        j.copy(hint = JoinHint(guard("left", lh, l), guard("right", rh, r)))
    }
  }
}
