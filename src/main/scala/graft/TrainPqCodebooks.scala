package graft

/** Dev-time generator for [[graft.operators.TrainedPq]]: trains the PQ
  * sub-quantizer codebooks ([[graft.operators.Pq.trainCodebooks]]) over an
  * embeddings table and prints the literals to paste into
  * `TrainedPq.scala`. Same freeze-and-replay contract as
  * [[TrainIvfCentroids]]: compile-time Double literals round-trip through
  * any correctly-rounded parser, so the DuckDB oracle replays the exact
  * encode/ADC arithmetic, and a cluster run ships codebooks as a tiny
  * versioned artifact instead of retraining per job.
  *
  * Usage: sbt 'runMain graft.TrainPqCodebooks /root/testdata/sf0.01 [--residual]'
  */
object TrainPqCodebooks {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.util.Sessions.start("graft-train-pq",
      // the frozen literals were trained at local[8]; the float avg order
      // depends on partitioning
      "spark.master" -> "local[8]", graft.io.EventTs.NanosAsLong)
    try {
      val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      // --residual: train on (vector - nearest trained centroid) — the
      // codebooks for Pq.ivfPqResidualTopK (pasted into TrainedPqResidual)
      val emb =
        if (args.contains("--residual"))
          emb0.select(graft.operators.Pq.residualExpr(
            org.apache.spark.sql.functions.col("embedding"),
            graft.operators.TrainedCentroids.sf001).as("embedding"))
        else emb0
      val books = graft.operators.Pq.trainCodebooks(
        emb, "embedding", numSub = 4, ksub = 8, dim = 64, iters = 5)
      println("  val sf001: Seq[Seq[Seq[Double]]] = Seq(")
      println(books.map(book =>
        "    Seq(\n" + book.map(c =>
          "      Seq(" + c.mkString(", ") + ")").mkString(",\n") + ")")
        .mkString(",\n"))
      println("  )")
    } finally spark.stop()
  }
}
