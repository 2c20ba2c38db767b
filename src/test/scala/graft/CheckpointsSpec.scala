package graft

import graft.util.Checkpoints
import graft.util.Checkpoints._
import org.apache.spark.sql.functions._

/** The reliable-checkpoint switch: `graft.checkpoint.reliable=true` must
  * route loop pins to durable `Dataset.checkpoint` (recompute survives
  * executor loss) with identical results, and fail FAST when no
  * checkpoint dir is configured.
  */
class CheckpointsSpec extends SparkTestBase {

  private def withReliable[A](dir: Option[String])(body: => A): A = {
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    spark.conf.set(Checkpoints.ReliableConf, "true")
    dir.foreach(sc.setCheckpointDir)
    try body
    finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      // SparkContext has no public "clear checkpoint dir"; leaving a tmp
      // dir set is harmless for the remaining suites (local mode ignores
      // it unless reliable=true).
      prevDir.foreach(sc.setCheckpointDir)
    }
  }

  test("default mode is localCheckpoint (no dir needed, rows identical)") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 3 % 7)
    val pinnedRows = df.pinned().groupBy("v").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val plainRows = df.groupBy("v").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(pinnedRows === plainRows)
  }

  test("reliable=true without a checkpoint dir fails fast and actionably") {
    // Only meaningful when no dir is set yet; a prior suite may have left
    // one, so run in a conf-scoped block that does NOT set a dir. If a
    // dir is already present the guard can't trip — skip in that case.
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        spark.range(5).toDF("id").pinned()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
      assert(e.getMessage.contains(Checkpoints.ReliableConf))
    } finally spark.conf.unset(Checkpoints.ReliableConf)
  }

  test("reliable=true + dir writes durable checkpoints with identical results") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("k", col("id") % 37)
      .withColumn("v", col("id") * col("id") % 101)
    val expected = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = withReliable(Some(ckptDir)) {
      val pinnedDf = df.pinned()
      // durable: the checkpoint dir must now contain RDD checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable pin wrote nothing to the checkpoint dir")
      pinnedDf.groupBy("k").agg(sum("v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(got === expected)
  }

  test("graft.checkpoint.storage=MEMORY_AND_DISK_SER pins with identical results") {
    import graft.util.Checkpoints._
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("k", col("id") % 17)
      .withColumn("v", col("id") * 31 % 997)
    val expected = df.pinned().groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_SER")
    try {
      val got = df.pinned().groupBy("k").agg(sum("v").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got === expected)
    } finally spark.conf.unset(Checkpoints.StorageConf)
  }

  test("graft.checkpoint.storage rejects an unknown level with an actionable error") {
    import graft.util.Checkpoints._
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_TYPO")
    try {
      val e = intercept[IllegalArgumentException] {
        spark.range(0, 10).toDF("id").pinned()
      }
      assert(e.getMessage.contains("graft.checkpoint.storage"))
    } finally spark.conf.unset(Checkpoints.StorageConf)
  }

  test("an iterative operator is mode-oblivious: pageRank equal under both") {
    val edges = spark.range(0, 300).toDF("i").select(
      col("i").as("src"), ((col("i") * 7 + 3) % 300).as("dst"),
      (col("i") % 5 + 1).cast("double").as("w"))
    val nodes = spark.range(0, 300).toDF("id")
    def run(): Seq[(Long, Double)] =
      graft.operators.Graph.pageRank(nodes, "id", edges, "src", "dst", "w",
          iterations = 7, checkpointEvery = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val local = run()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val durable = withReliable(Some(ckptDir))(run())
    assert(local === durable) // bit-identical: same plan, same arithmetic
  }

  test("a pinned leaf reports the bytes it stores, in all three modes, with no extra job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    def leaves(df: DataFrame): Seq[LogicalRDD] =
      df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l }
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    def jobs(body: => Unit): Int = {
      val started = new java.util.concurrent.atomic.AtomicInteger
      val count = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(count)
      try { body; org.apache.spark.ListenerBusDrain(sc) }
      finally sc.removeSparkListener(count)
      started.get
    }
    // five rows out of a filtered cross join of five 10-row ranges: Spark's
    // pre-pin estimate is the cross join's ~1 GB
    val r = (1 to 5).map(i => spark.range(10).toDF(s"c$i"))
    val fiveRows = r.reduce(_.crossJoin(_))
      .filter(r.indices.map(i => col(s"c${i + 1}")).reduce(_ + _) === 1)
    assert(size(fiveRows) > (1L << 30))
    // 600k rows of two longs: Spark's pre-pin estimate is 16 B a row. The
    // values are hashes, so checkpoint files, which Spark may compress,
    // cannot store them in fewer bytes than that
    val longs = spark.range(600000).select(xxhash64(col("id")).as("id"),
      xxhash64(col("id") * 3).as("v"))
    def check(mode: String): Unit = {
      val few = fiveRows.pinned()
      assert(few.count() == 5, mode)
      assert(size(few) < (64L << 10), s"$mode: five pinned rows report ${size(few)} B")
      val many = longs.pinned()
      assert(size(many) >= BigInt(600000L * 16), s"$mode: 600k pinned rows report ${size(many)} B")
      // a self-join re-instances the leaf (LogicalRDD.newInstance): both
      // sides keep the measured size
      val self = many.as("a").join(many.as("b"), col("a.id") === col("b.v"))
      val sides = leaves(self)
      assert(sides.size == 2 && sides.map(_.output.head.exprId).distinct.size == 2, mode)
      assert(sides.forall(_.stats.sizeInBytes == size(many)), s"$mode: ${sides.map(_.stats)}")
      // measuring runs no job: a pin runs as many jobs as Spark's own pin
      val ours = jobs(longs.pinned())
      val sparks = jobs {
        if (mode == "reliable") longs.checkpoint()
        else if (mode == "MEMORY_AND_DISK_SER")
          longs.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        else longs.localCheckpoint()
      }
      assert(ours == sparks && ours >= 1, s"$mode: pinned ran $ours jobs, Spark's pin $sparks")
    }
    check("local")
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_SER")
    try check("MEMORY_AND_DISK_SER") finally spark.conf.unset(Checkpoints.StorageConf)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt4").toString
    withReliable(Some(ckptDir))(check("reliable"))
  }

  test("an RDD pin runs its closure once per row, in all three modes") {
    val sc = spark.sparkContext
    def once(mode: String): Unit = {
      val ran = sc.longAccumulator(s"pin closure, $mode")
      val rdd = sc.parallelize(1 to 1000, 4).map { i => ran.add(1); i * 2L }
      val (pinned, sums) = rdd.pinned(spark)(_.sum)
      assert(sums.toSeq.sum == 1001000L, mode)
      // two reads after the materializing job
      assert(pinned.count() == 1000L, mode)
      assert(pinned.reduce(_ + _) == 1001000L, mode)
      assert(ran.value == 1000L, s"$mode: closure ran ${ran.value} times for 1000 rows")
    }
    once("local")
    spark.conf.set(Checkpoints.StorageConf, "MEMORY_AND_DISK_SER")
    try once("MEMORY_AND_DISK_SER") finally spark.conf.unset(Checkpoints.StorageConf)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    withReliable(Some(ckptDir))(once("reliable"))
  }
}
