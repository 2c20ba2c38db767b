package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, GraftExpressionBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** Loop-invariant pinning with a cluster-safe escape hatch.
  *
  * Every iterative operator in this engine materializes its loop
  * invariants (node sets, transition tables, working frames) and cuts
  * lineage each round. In local mode `Dataset.localCheckpoint` is the
  * right tool: blocks live in executor storage memory, no filesystem
  * round-trip. On a REAL cluster with preemptible executors it is the
  * wrong tool — a localCheckpoint truncates lineage WITHOUT durability,
  * so losing the executor that holds a block turns into a job failure
  * instead of a recompute.
  *
  * `pinned` routes between the two:
  *   - default: `localCheckpoint()` — single-JVM / reliable-executor
  *     clusters, zero I/O;
  *   - `graft.checkpoint.reliable=true` (SQL conf, settable per session):
  *     `checkpoint()` against `spark.checkpoint.dir`, which
  *     must point at storage that survives executor loss (HDFS/object
  *     store on a cluster). Missing checkpoint dir fails fast with an
  *     actionable message rather than Spark's late SparkException.
  *
  * A Dataset pin is eager, so its leaf can report the bytes the pin
  * stores (block bytes, or checkpoint file bytes when reliable) in place of
  * Spark's pre-pin estimate, and the planner sizes joins over it from that.
  * An RDD pin (the pipeline's send outcomes) is materialized by the one job
  * that also summarises it.
  *
  * Both paths return a plan with identical semantics (same rows, same
  * partitioning), so operators are oblivious to the
  * choice — see `CheckpointsSpec` for the equivalence pin and the
  * local-cluster note in SCALING.md.
  */
object Checkpoints {
  val ReliableConf = "graft.checkpoint.reliable"

  /** Storage level for LOCAL pins (`graft.checkpoint.storage`, e.g.
    * `MEMORY_AND_DISK_SER`). Default is Spark's localCheckpoint default
    * (deserialized MEMORY_AND_DISK) — fastest when the pins fit. On
    * executor-memory-constrained fleets a corpus-scale pin (the sf30
    * co-order edge list is ~57 GB deserialized) evicts to disk block by
    * block; serialized (+ `spark.rdd.compress=true`) shrinks narrow rows
    * several-fold and keeps the pin in memory — trade a decode per
    * consumer for not spilling. Identical semantics either way.
    */
  val StorageConf = "graft.checkpoint.storage"

  /** True when `spark` pins durably; fails fast when no checkpoint dir
    * is set for it.
    */
  private def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (on) require(spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableConf=true requires a checkpoint directory: set " +
        "spark.checkpoint.dir or call SparkContext.setCheckpointDir(" +
        "<fault-tolerant path>) before running iterative operators " +
        "(HDFS/object store on a cluster)")
    on
  }

  /** The local pin's storage level, when [[StorageConf]] names one. */
  private def localLevel(spark: SparkSession): Option[StorageLevel] =
    spark.conf.getOption(StorageConf).map { lvl =>
      try StorageLevel.fromString(lvl.trim.toUpperCase)
      catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
        s"$StorageConf: unknown storage level '$lvl' (expected e.g. " +
          "MEMORY_AND_DISK, MEMORY_AND_DISK_SER, DISK_ONLY)") }
    }

  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Materialize `ds` and cut lineage, reliable or local per the conf;
      * the pinned leaf reports the bytes the pin stores as its size.
      */
    def pinned(): Dataset[T] = GraftExpressionBridge.withMeasuredSize(
      if (reliable(ds.sparkSession)) ds.checkpoint()
      else localLevel(ds.sparkSession)
        .fold(ds.localCheckpoint())(ds.localCheckpoint(true, _)))
  }

  implicit class RddPinOps[T](private val rdd: RDD[T]) extends AnyVal {
    /** Pin `rdd` under `spark`'s mode, materialized by ONE job that also
      * returns `summarise` of each partition, in partition order: the pin's
      * action is the caller's read, so nothing re-runs `rdd` to learn what
      * it produced. Local mode marks a `localCheckpoint` at the
      * [[StorageConf]] level; reliable mode persists, then `checkpoint`s,
      * and writes the checkpoint from the persisted blocks in a second job.
      */
    def pinned[U: ClassTag](spark: SparkSession)(summarise: Iterator[T] => U): (RDD[T], Array[U]) = {
      if (reliable(spark)) {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else localLevel(spark).fold(rdd.localCheckpoint())(rdd.persist(_).localCheckpoint())
      (rdd, rdd.mapPartitions(it => Iterator(summarise(it))).collect())
    }
  }
}
