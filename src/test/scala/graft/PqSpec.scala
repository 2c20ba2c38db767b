package graft

import org.apache.spark.sql.functions._
import graft.operators.{Pq, TrainedPq}

/** Product quantization against a naive in-memory reference. */
class PqSpec extends SparkTestBase {

  private val books = TrainedPq.sf001

  private def naiveL2sq(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  private def naiveEncode(v: Seq[Double]): Seq[Int] =
    books.zipWithIndex.map { case (cb, m) =>
      val sub = v.slice(m * 16, m * 16 + 16)
      cb.zipWithIndex.map { case (c, j) => (naiveL2sq(sub, c), j) }.min._2
    }

  private def naiveAdc(q: Seq[Double], codes: Seq[Int]): Double =
    books.zipWithIndex.map { case (cb, m) =>
      naiveL2sq(q.slice(m * 16, m * 16 + 16), cb(codes(m)))
    }.reduce(_ + _)

  test("encodeExpr matches the naive per-subspace argmin on real vectors") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val got = emb.withColumn("codes", Pq.encodeExpr(col("v"), books))
      .select("vec_id", "v", "codes").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val v = r.getSeq[Double](1)
      val codes = r.getSeq[Int](2)
      assert(codes == naiveEncode(v), s"vec ${r.getLong(0)}")
      assert(codes.forall(c => c >= 0 && c < 8))
    }
  }

  test("pqTopK ranks by the naive ADC distance with id tiebreak") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val out = Pq.pqTopK(emb.filter(col("vec_id") < 3), emb, "vec_id",
      "embedding", books, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expected = vecs.keys.filter(_ < 3).toSeq.sorted.flatMap { qid =>
      val q = vecs(qid)
      vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, v) =>
          val a = BigDecimal(naiveAdc(q, naiveEncode(v)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (nid, a)
        }
        .sortBy { case (nid, a) => (a, nid) }.take(5).zipWithIndex
        .map { case ((nid, a), i) => (qid, nid, (i + 1).toLong, a) }
    }
    assert(out.toSeq.sortBy(r => (r._1, r._3)) == expected)
  }

  test("materialized PQ index returns exactly the recompute path's rows") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = graft.operators.TrainedCentroids.sf001
    val q = emb.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("pq_idx_spec").toString + "/idx"
    Pq.writePqIndex(emb, "vec_id", "embedding", centroids, books, path)
    val viaIndex = Pq.pqIndexTopK(spark, q, "vec_id", "embedding", centroids,
      books, path, k = 5, nprobe = 2).collect().map(_.toSeq).toSet
    val recompute = Pq.ivfPqTopK(q, emb, "vec_id", "embedding", centroids,
      books, k = 5, nprobe = 2).collect().map(_.toSeq).toSet
    assert(viaIndex == recompute)
    assert(viaIndex.nonEmpty)
  }

  test("materialized PQ index refuses a different codebook: retrain or rebuild") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = graft.operators.TrainedCentroids.sf001
    val path = java.nio.file.Files.createTempDirectory("pq_idx_id").toString + "/idx"
    Pq.writePqIndex(emb, "vec_id", "embedding", centroids, books, path)
    // one codebook double moved by one ulp: codes still score, wrongly
    val v = books(1)(3)(5)
    val perturbed = books.updated(1, books(1).updated(3,
      books(1)(3).updated(5, math.nextUp(v))))
    val err = intercept[IllegalArgumentException] {
      Pq.pqIndexTopK(spark, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        centroids, perturbed, path, k = 5, nprobe = 2).collect()
    }
    assert(err.getMessage.contains("retrain or rebuild"), err.getMessage)
  }

  test("ivfPqTopK stays hash-joinable and agrees with flat ADC inside the probed cells") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = graft.operators.TrainedCentroids.sf001
    val q = emb.filter(col("vec_id") < 3)
    val df = Pq.ivfPqTopK(q, emb, "vec_id", "embedding", centroids, books,
      k = 5, nprobe = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // with nprobe = all cells, IVF-PQ degenerates to the flat ADC ranking
    val flat = Pq.pqTopK(q, emb, "vec_id", "embedding", books, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == flat)
  }
}
