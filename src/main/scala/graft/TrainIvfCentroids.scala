package graft

/** Dev-time generator for [[graft.operators.TrainedCentroids]]: runs
  * spherical k-means ([[graft.operators.Similarity.trainCentroids]]) over an
  * embeddings table and prints the centroid literals to paste into
  * `TrainedCentroids.scala`. The literals must be compile-time constants —
  * not recomputed per run — so the DuckDB oracle can replay the exact same
  * doubles (Double.toString round-trips through any correctly-rounded
  * decimal parser), and so a cluster deployment ships centroids as a small
  * versioned artifact instead of retraining per job (the 100 TB practice:
  * train on a sample, freeze, assign).
  *
  * Usage: sbt 'runMain graft.TrainIvfCentroids /root/testdata/sf0.01'
  */
object TrainIvfCentroids {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.util.Sessions.start("graft-train-ivf",
      // the frozen literals were trained at local[8]; the float avg order
      // depends on partitioning
      "spark.master" -> "local[8]", graft.io.EventTs.NanosAsLong)
    try {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val centroids = graft.operators.Similarity.trainCentroids(
        emb, "embedding", k = 8, dim = 64, iters = 5)
      println("  val sf001: Seq[Seq[Double]] = Seq(")
      println(centroids.map(c => "    Seq(" + c.mkString(", ") + ")").mkString(",\n"))
      println("  )")
    } finally spark.stop()
  }
}
