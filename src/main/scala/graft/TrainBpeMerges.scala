package graft

import org.apache.spark.sql.functions._

/** Dev-time generator for [[graft.functions.TrainedBpeMerges]]: computes the
  * word-frequency table of the documents corpus with ONE distributed groupBy
  * (the only corpus-sized step — at 100 TB this is the same one-pass
  * aggregation), trains greedy BPE driver-side over the bounded vocabulary
  * ([[graft.functions.Bpe.train]]), and prints the merge literals to paste
  * into `TrainedBpeMerges.scala`. The merges must be compile-time constants
  * — not retrained per run — so the DuckDB oracle replays the exact same
  * table and a cluster deployment ships the tokenizer as a small versioned
  * artifact (the same freeze-and-ship pattern as [[TrainIvfCentroids]]).
  *
  * Usage: sbt 'runMain graft.TrainBpeMerges /root/testdata/sf0.01 [numMerges]'
  *
  * The word counts are exact integers in a fixed order, so any master
  * regenerates the same literals.
  */
object TrainBpeMerges {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val numMerges = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = graft.util.Sessions.start("graft-train-bpe", graft.io.EventTs.NanosAsLong)
    try {
      val freqs = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(graft.functions.TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").count()
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (w, c) => (-c, w) } // deterministic training input order
        .toSeq
      val merges = graft.functions.Bpe.train(freqs, numMerges)
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      println(s"  // ${freqs.size} vocabulary words, ${merges.size} merges")
      println("  val merges: Seq[(String, String)] = Seq(")
      println(merges.map { case (a, b) => s"""    ("${esc(a)}", "${esc(b)}")""" }
        .mkString(",\n"))
      println("  )")
    } finally spark.stop()
  }
}
