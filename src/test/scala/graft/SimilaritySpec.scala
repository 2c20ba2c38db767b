package graft

import graft.operators.Similarity
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine/dot/norm basic identities") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(2.0f, 0.0f)))
      .toDF("x", "y", "x2")
    val r = df.select(
      VectorOps.cosine(col("x"), col("y")),
      VectorOps.cosine(col("x"), col("x2")),
      VectorOps.dot(col("x"), col("x2")),
      VectorOps.l2Distance(col("x"), col("y"))).collect()(0)
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getDouble(2) == 2.0)
    assert(math.abs(r.getDouble(3) - math.sqrt(2)) < 1e-12)
  }

  test("brute-force top-k ranks the true nearest neighbors") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val out = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", k = 5)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      val cosines = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.sameElements(cosines.sorted.reverse)) // descending
      assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id")))
    }
  }

  test("SRP top-k recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.srpTopK(q, emb, "vec_id", "embedding", k = 5,
      numPlanes = 12, dim = 64, probeRadius = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.5, s"SRP recall too low: $recall") // approximate, wide probe
  }

  test("trained IVF centroids improve or match recall vs untrained") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallWith(centroids: Seq[Seq[Double]]): Double = {
      val ann = Similarity.ivfTopK(q, emb, "vec_id", "embedding", centroids,
        k = 5, nprobe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (brute intersect ann).size.toDouble / brute.size
    }
    val untrained = recallWith(graft.functions.VectorOps.rademacherPlanes(8, 64))
    val trained = recallWith(Similarity.trainCentroids(emb, "embedding", 8, 64, iters = 4))
    assert(trained >= untrained - 0.051, s"trained $trained vs untrained $untrained")
    assert(trained >= 0.3, s"trained recall too low: $trained")
  }

  test("sampled training honors the driver-rows budget and still yields usable centroids") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val total = emb.count()
    val budget = total / 4
    val (centroids, used) = Similarity.trainCentroidsSampled(
      emb, "embedding", k = 8, dim = 64, iters = 3, maxTrainRows = budget)
    // the contract: however large the corpus, at most `budget` rows train
    assert(used <= budget, s"$used rows trained against a $budget budget")
    assert(used > 0)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    // same seed, same budget → bit-identical centroids (the sample is pinned)
    val (again, _) = Similarity.trainCentroidsSampled(
      emb, "embedding", k = 8, dim = 64, iters = 3, maxTrainRows = budget)
    assert(again == centroids)
    // a corpus under budget trains on everything
    val (_, usedAll) = Similarity.trainCentroidsSampled(
      emb, "embedding", k = 4, dim = 64, iters = 1, maxTrainRows = total + 10)
    assert(usedAll == total)
    // the sampled centroids still drive a working IVF search
    val ann = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", centroids, k = 5, nprobe = 2)
    assert(ann.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
    // PQ side of the same contract
    val (books, usedPq) = graft.operators.Pq.trainCodebooksSampled(
      emb, "embedding", numSub = 4, ksub = 8, dim = 64, iters = 2,
      maxTrainRows = budget)
    assert(usedPq <= budget)
    assert(books.length == 4 && books.forall(b => b.length == 8 && b.forall(_.length == 16)))
  }

  test("materialized IVF index equals the recompute path and prunes partitions") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path)
    // one directory per cell — the layout IS the index
    val cells = new java.io.File(path).listFiles().filter(_.getName.startsWith("cell="))
    assert(cells.nonEmpty)
    val q = emb.filter(col("vec_id") < 5)
    val fromIndex = Similarity.ivfIndexTopK(spark, q, "vec_id", "embedding",
      centroids, path, k = 10, nprobe = 2)
    val recomputed = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      centroids, k = 10, nprobe = 2)
    assert(fromIndex.collect().map(_.toSeq).toSet == recomputed.collect().map(_.toSeq).toSet)
    // the cell-keyed broadcast join drives dynamic partition pruning on the
    // index scan: only the probed cells' directories are read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), "index scan is not partition-pruned:\n" +
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("index sidecar schema: float-stored index searchable with double queries") {
    // embeddings.parquet stores array<float>; a caller may legitimately
    // query with array<double> (the kCenterSelect tolerance). Before the
    // sidecar, the read schema came from the QUERY frame and a nonempty
    // float index failed the parquet read under a double schema.
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfx").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, path)
    assert(new java.io.File(path, "_graft_schema.json").exists(),
      "writer did not persist the sidecar schema")
    val qDouble = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val got = Similarity.ivfIndexTopK(spark, qDouble, "vec_id", "embedding",
      centroids, path, k = 5, nprobe = 2)
    assert(got.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
    // a mistyped APPEND fails loudly instead of corrupting the directory
    val err = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(
        qDouble.select((col("vec_id") + 1000).as("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids, path)
    }
    assert(err.getMessage.contains("does not match the index's stored"))
  }

  test("IVF append with a different centroid family fails: retrain or rebuild") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfc").toString + "/index"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      centroids, path)
    val err = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 10), "vec_id",
        "embedding", centroids.reverse, path)
    }
    assert(err.getMessage.contains("retrain or rebuild"), err.getMessage)
  }

  test("int8 quantization: bounded range, zero-vector safe, argmax preserved") {
    import graft.functions.KernelExpressions.{dotLong, int8Quantize}
    val df = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(1e-4f, -1e-4f, 5e-5f)))
      .toDF("id", "v")
    val q = df.select(col("id"), int8Quantize(col("v")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(q(0L) == Seq(64L, -127L, 32L)) // floor(x*127/1.0 + 0.5)
    assert(q(1L) == Seq(0L, 0L, 0L))      // all-zero vector: no divide blowup
    assert(q(2L).forall(x => math.abs(x) <= 127)) // tiny magnitudes still span the range
    // 5e-5f/1e-4f in float is fractionally under 0.5, so the midpoint rounds down
    assert(q(2L) == Seq(127L, -127L, 63L))
    val d = df.as("a").crossJoin(df.as("b"))
      .select(dotLong(int8Quantize(col("a.v")), int8Quantize(col("b.v"))))
      .as[Long].collect()
    assert(d.contains(64L * 64 + 127L * 127 + 32L * 32)) // self dot of id 0
  }

  test("quantized top-k with exact rescore matches brute force on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(q, emb, "vec_id", "embedding",
      k = 10, candidates = 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // int8 over 64 dims is near-lossless for ranking; the 30-candidate
    // margin absorbs the residual quantization error
    val recall = (brute intersect quant).size.toDouble / brute.size
    assert(recall >= 0.9, s"quantized recall too low: $recall")
  }

  test("cluster profile: sizes sum to corpus, cells match IVF assignment") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = graft.operators.TrainedCentroids.sf001
    val prof = Similarity.clusterProfile(emb, "embedding", centroids).collect()
    assert(prof.map(_.getAs[Long]("n")).sum == emb.count())
    assert(prof.forall(r => r.getAs[Double]("avg_cos") <= 1.0))
    assert(prof.map(_.getAs[Long]("cell")).toSet.subsetOf((0L until 8L).toSet))
  }

  test("appended IVF index equals a full rebuild for search") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val centroids = VectorOps.rademacherPlanes(8, 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val (pInc, pFull) = (s"$dir/inc", s"$dir/full")
    // build from the first half, append the second half
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", centroids, pInc)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", centroids, pInc)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids, pFull)
    val q = emb.filter(col("vec_id") < 5)
    def search(p: String) = Similarity.ivfIndexTopK(spark, q, "vec_id",
      "embedding", centroids, p, k = 10, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(search(pInc) == search(pFull))
  }

  test("IVF top-k finds planted cluster neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.95f, 0.05f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = Similarity.ivfTopK(vecs.filter(col("vec_id") === 0L), vecs,
      "vec_id", "embedding", centroids, k = 2, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L)) // same-cell neighbors only
  }

  test("truncated rerank with a full candidate budget equals brute force") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .collect().map(_.toSeq).toSet
    val trunc = Similarity.truncatedTopK(q, emb, "vec_id", "embedding",
      prefixDim = 16, k = 5, candidates = n)
      .collect().map(_.toSeq).toSet
    assert(trunc == exact) // candidates = |corpus| makes the coarse pass lossless
  }

  test("truncated rerank coarse pass is strict on prefix dimensions") {
    import spark.implicits._
    val bad = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.truncatedTopK(bad.filter(col("vec_id") === 0L), bad,
        "vec_id", "embedding", prefixDim = 3, k = 1, candidates = 2).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("kCenterGreedy: farthest-point order, exact-tie to smaller id, radii") {
    // seed = min id (0,0); ids 1 and 2 are BOTH at d=100 (planted exact
    // tie -> smaller id wins round 1); id 3 is the near point left last
    val pts = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)),
      (2L, Array(0f, 10f)), (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val picks = Similarity.kCenterGreedy(pts, "vec_id", "embedding", k = 4)
    assert(picks.map(_._2) == Seq(0L, 1L, 2L, 3L), picks)
    assert(picks.map(_._3) == Seq(0.0, 100.0, 100.0, 2.0), picks)
    // coverage radius never increases (greedy invariant)
    val radii = picks.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse, radii)
  }

  test("kCenterGreedy stops when k exceeds the distinct vectors (no dup centers)") {
    // 3 points, one an exact duplicate -> only 2 distinct: asking for 8
    // returns 2 picks, never a padded duplicate of the seed
    val pts = Seq((0L, Array(0f, 0f)), (1L, Array(3f, 4f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val picks = Similarity.kCenterGreedy(pts, "vec_id", "embedding", k = 8)
    assert(picks.map(_._2) == Seq(0L, 1L), picks)
  }

  test("mmrRerank: lambda trades relevance against slate diversity") {
    // q=(1,0,0); a and b are planted rel-ties (same dot, same norm -> the
    // id tiebreak gives a first) and near-dups of each other (cos ~.976);
    // c is the diverse lower-rel point (rel ~.707, cos-to-a ~.703).
    val pts = Seq(
      (1L, Array(0.9f, 0.1f, 0f)), (2L, Array(0.9f, -0.1f, 0f)),
      (3L, Array(0.6f, 0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0)
    // relevance-heavy: the near-dup b still outranks c
    val relHeavy = Similarity.mmrRerank(q, pts, "vec_id", "embedding",
      n = 3, k = 3, lambda = 0.9)
    assert(relHeavy.map(_._2) == Seq(1L, 2L, 3L), relHeavy)
    // diversity-leaning: c displaces the near-dup b in round 2
    val diverse = Similarity.mmrRerank(q, pts, "vec_id", "embedding",
      n = 3, k = 3, lambda = 0.4)
    assert(diverse.map(_._2) == Seq(1L, 3L, 2L), diverse)
    // rel column is the query cosine regardless of lambda
    assert(math.abs(relHeavy.head._3 - 0.993884) < 1e-9, relHeavy.head)
  }

  test("mmrRerank on real embeddings: shape, dedup, monotone scores") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Number](0).map(_.doubleValue()).toArray
    val picks = Similarity.mmrRerank(q, emb, "vec_id", "embedding",
      n = 20, k = 5, lambda = 0.75)
    assert(picks.map(_._1) == (1 to 5), picks.map(_._1))
    assert(picks.map(_._2).distinct.length == 5, picks)
    // the query's own vector is in the corpus -> rel 1.0 wins round 1
    assert(picks.head._2 == 0L && picks.head._3 == 1.0, picks.head)
    // greedy invariant: the winning mmr score never increases (the round-r
    // winner scored >= any later winner's round-r score, which only decays
    // as the selected set grows; r6 rounding preserves monotonicity)
    val scores = picks.map(_._4)
    assert(scores == scores.sorted.reverse, scores)
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(q, emb, "vec_id", "embedding", n = 3, k = 5)
    }
  }

  test("mipsTopK ranking equals cosine ranking over mipsAugment-ed vectors") {
    // The Shrivastava-Li / Neyshabur-Srebro reduction: with corpus
    // vectors augmented by sqrt(M^2 - |x|^2) and queries by 0, every
    // augmented corpus vector has norm M, so augmented-cosine order per
    // query IS inner-product order — the property that lets the cosine
    // indexes (SRP/IVF/PQ) serve MIPS unchanged.
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.mipsTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "rank")
    val maxNorm = math.sqrt(emb.select(
      max(aggregate(col("embedding").cast("array<double>"), lit(0.0),
        (acc, x) => acc + x * x))).head().getDouble(0)) + 1e-9
    val viaCosine = Similarity.bruteForceTopK(
      Similarity.mipsAugment(q, "embedding", maxNorm, isQuery = true),
      Similarity.mipsAugment(emb, "embedding", maxNorm),
      "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "rank")
    // rounding to 6 decimals can permute near-ties between the two score
    // spaces; compare the neighbor SETS per (query, rank-prefix) instead
    val a = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = viaCosine.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = a.intersect(b).size.toDouble / a.size
    assert(overlap >= 0.9, s"augmented-cosine top-10 diverged: $overlap")
    // and the top-1 per query must agree exactly (no near-tie at rank 1)
    def top1(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1(exact.withColumn("rank", col("rank").cast("int")).collect()) ==
      top1(viaCosine.withColumn("rank", col("rank").cast("int")).collect()))
  }

  test("merge-on-read delete vectors: base read immutable, vectors compose, compaction folds in") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv").toString
    val data = (1L to 100L).map(i => (i, i * 1.5)).toDF("k", "v")
    graft.io.Versioned.write(data, dir)
    graft.io.Versioned.writeDeleteVector(Seq(1L, 2L).toDF("k"), dir)
    graft.io.Versioned.writeDeleteVector(Seq(2L, 50L).toDF("k"), dir) // overlap dedupes
    assert(graft.io.Versioned.read(spark, dir).count() == 100) // base untouched
    val mor = graft.io.Versioned.readMergeOnRead(spark, dir, Seq("k"))
    assert(mor.count() == 97)
    assert(mor.filter(col("k").isin(1L, 2L, 50L)).count() == 0)
    // compaction: write the merged view as v2; v2 starts vector-free
    graft.io.Versioned.write(mor, dir)
    assert(graft.io.Versioned.read(spark, dir).count() == 97)
    assert(graft.io.Versioned.readMergeOnRead(spark, dir, Seq("k")).count() == 97)
    // v1 and its vectors still replay for the audit window
    assert(graft.io.Versioned.read(spark, dir, Some(1)).count() == 100)
    assert(graft.io.Versioned.readMergeOnRead(spark, dir, Seq("k"), Some(1)).count() == 97)
  }

  test("expireVersions counts from the published head, never deleting the manifest's version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_exp").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    graft.io.Versioned.write(df, dir)                       // v1 published
    graft.io.Versioned.write(df.filter(col("k") === 1), dir) // v2 published
    // simulate a crashed writer: v=3 directory lands, manifest flip never ran
    df.write.parquet(dir + "/v=3")
    assert(graft.io.Versioned.latestVersion(spark, dir).contains(2))
    val doomed = graft.io.Versioned.expireVersions(spark, dir, keepLast = 1)
    assert(doomed == Seq(1), doomed) // v2 (published) survives; the orphan survives too
    assert(graft.io.Versioned.read(spark, dir).count() == 1) // manifest read intact
    // next write derives from the DISK max (the orphan), so numbering
    // never collides with the partially-written v=3
    assert(graft.io.Versioned.write(df, dir) == 4)
  }
}
