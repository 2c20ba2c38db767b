package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal versioned table: immutable version directories (`path/v=N`)
  * published by a tiny `_LATEST` manifest rewrite — snapshot reads and
  * time travel without a table-format dependency.
  *
  * Properties that matter at 100 TB:
  *  - Writers never mutate a published version; a reader holding `v=N`
  *    keeps a consistent snapshot while `v=N+1` lands (the manifest flip
  *    is the only publication point, and parquet files are immutable).
  *  - Readers resolve the manifest ONCE at plan time; a concurrent
  *    publish doesn't shift a running query.
  *  - Multi-writer safe: version numbers are claimed with an exclusive
  *    marker create (see [[write]]), so concurrent publishers land
  *    distinct immutable versions — stronger than the reference's
  *    single-writer `_uploaded` control table
  *    (`/root/reference/megalista_dataflow/data_sources/big_query/
  *    big_query_data_source.py:105-116`).
  */
object Versioned {

  private def manifest(path: String) = new Path(s"$path/_LATEST")

  private def fs(spark: SparkSession, path: String) =
    manifest(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The currently-published version, if any. */
  def latestVersion(spark: SparkSession, path: String): Option[Int] = {
    val f = fs(spark, path)
    if (!f.exists(manifest(path))) None
    else {
      val in = f.open(manifest(path))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(s.toInt)
    }
  }

  /** Highest `v=N` directory on disk — the version AUTHORITY for writers.
    * The manifest only publishes; deriving `next` from it would let a lost
    * manifest (writer crash between delete and rename) restart numbering at
    * 1 and overwrite an already-published immutable snapshot.
    */
  private def maxVersionOnDisk(spark: SparkSession, path: String): Option[Int] = {
    val f = fs(spark, path)
    val dir = new Path(path)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect {
        case n if n.startsWith("v=") => n.stripPrefix("v=")
        // a claimed-but-unwritten version must not be reassigned: count
        // claim markers as occupied numbers too
        case n if n.startsWith("_claim_") => n.stripPrefix("_claim_")
      }
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .maxOption
  }

  /** Claim version `n` via an exclusive marker create. On HDFS the
    * namenode makes `create(overwrite=false)` atomic, so cross-process
    * writers can never both own `n`; Hadoop's LOCAL filesystem implements
    * it as a non-atomic exists-check + create, so in-process claims are
    * additionally serialized by [[claimLock]] (which covers the common
    * local/driver case — the spec races real threads through it). The
    * marker stays: tiny, and [[maxVersionOnDisk]] counts it so numbering
    * never reuses a claimed slot even if the claimant crashed before
    * writing its directory.
    */
  private def tryClaim(f: org.apache.hadoop.fs.FileSystem, path: String,
      n: Int): Boolean =
    try {
      val out = f.create(new Path(s"$path/_claim_$n"), false)
      out.close(); true
    } catch { case _: java.io.IOException => false }

  /** Write `df` as the next version and publish it. Returns the version.
    *
    * MULTI-WRITER SAFE via optimistic claims: each writer claims the next
    * free number with an exclusive marker create and retries upward on
    * loss, so concurrent writers land DISTINCT immutable versions (spec:
    * `BucketingSpec` races real threads). Publication only ever moves the
    * manifest FORWARD — a slow writer finishing after a newer publish does
    * not regress the pointer (best-effort under a racing flip window;
    * exact where rename is atomic, e.g. HDFS). The manifest flips via
    * write-temp + delete + rename, never an in-place truncate: the worst
    * case is a missing-manifest window, which reads as "no published
    * version yet" — fail-stop, not corrupt.
    */
  def write(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    val next = claimLock.synchronized {
      var n = maxVersionOnDisk(spark, path).getOrElse(0) + 1
      while (!tryClaim(f, path, n)) n += 1
      n
    }
    df.write.mode("overwrite").parquet(s"$path/v=$next")
    // the forward-only check-then-flip is made atomic for in-process
    // writers (the common local/driver case); cross-process racing flips
    // remain best-effort-monotonic as documented above
    publishLock.synchronized {
      if (latestVersion(spark, path).forall(_ < next)) {
        val tmp = new org.apache.hadoop.fs.Path(manifest(path).toString + ".tmp." + next)
        val out = f.create(tmp, true)
        try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (f.exists(manifest(path))) f.delete(manifest(path), false)
        require(f.rename(tmp, manifest(path)),
          s"failed to publish ${manifest(path)}")
      }
    }
    next
  }

  private val publishLock = new Object
  private val claimLock = new Object

  /** Snapshot read: the requested version, or the published latest. */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no published version under $path"))
    require(version.forall(_ >= 1), s"versions are 1-based, got $version")
    spark.read.parquet(s"$path/v=$v")
  }

  /** All version numbers on disk, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val dir = new Path(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=") }
      .flatMap(s => scala.util.Try(s.toInt).toOption).sorted
  }

  /** Snapshot retention (the VACUUM side of the audit window): delete
    * every version directory older than the newest `keepLast`. The
    * published latest is the max version, so it is always retained; an
    * expired version's delete vectors go with its directory. Version
    * numbering never restarts ([[maxVersionOnDisk]] is the authority and
    * the retained tail keeps the max), so expired numbers are never
    * reused. Returns the deleted version numbers.
    */
  def expireVersions(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, path)
    val maxDisk = maxVersionOnDisk(spark, path).getOrElse(return Seq.empty)
    // retention counts from the PUBLISHED head, not the disk max: after a
    // crashed write (v=N+1 directory landed, manifest flip never ran) the
    // disk max is an unpublished orphan — counting from it would let
    // keepLast=1 delete the version the manifest still serves
    val head = latestVersion(spark, path).fold(maxDisk)(math.min(_, maxDisk))
    val cut = head - keepLast
    val doomed = versions(spark, path).filter(_ <= cut)
    doomed.foreach(v => f.delete(new Path(s"$path/v=$v"), true))
    doomed
  }

  // ----------------------------------------------- merge-on-read deletes

  private def dvDir(path: String, v: Int) = s"$path/v=$v/_dv"

  /** Merge-on-read DELETE VECTORS (the Delta/Iceberg-v2 pattern): a purge
    * appends only the deleted KEY SET under the version it applies to
    * (`v=N/_dv/d=M` — the underscore prefix keeps the batch invisible to
    * plain [[read]]s of the immutable base files), never rewriting data.
    * Copy-on-write ([[write]] of the purged frame, the `q_rtbf_delete`
    * path) pays a full table rewrite per purge and keeps reads free;
    * merge-on-read pays one broadcast anti-join per read and makes each
    * purge O(|keys|) — the right trade for frequent small purge batches
    * (the RTBF trickle), with a compaction [[write]] folding the vectors
    * back in eventually. Returns the delete-batch number.
    */
  def writeDeleteVector(keys: DataFrame, path: String,
      version: Option[Int] = None): Int = {
    val spark = keys.sparkSession
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no published version under $path"))
    val f = fs(spark, path)
    val base = new Path(dvDir(path, v))
    val next = (if (f.exists(base))
      f.listStatus(base).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("d=") => n.stripPrefix("d=") }
        .flatMap(s => scala.util.Try(s.toInt).toOption).maxOption.getOrElse(0)
    else 0) + 1
    keys.write.mode("errorifexists").parquet(s"${dvDir(path, v)}/d=$next")
    next
  }

  /** Snapshot read with every delete vector of that version applied: the
    * union of delete-key batches anti-joins the base in ONE pass (deletes
    * are per-person-sized, the base is per-event-sized, so the key set
    * broadcasts).
    */
  def readMergeOnRead(spark: SparkSession, path: String, keyCols: Seq[String],
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no published version under $path"))
    val base = spark.read.parquet(s"$path/v=$v")
    if (!fs(spark, path).exists(new Path(dvDir(path, v)))) base
    else {
      val dels = spark.read.parquet(dvDir(path, v))
        .select(keyCols.map(col): _*).distinct()
      base.join(dels, keyCols, "left_anti")
    }
  }
}
