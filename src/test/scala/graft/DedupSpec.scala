package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "spark engine shuffles partitions across the cluster and writes parquet"
  private val nearDup = base.replace("lazy", "sleepy") // one-word perturbation
  private val unrelated = "completely different content about database " +
    "optimizers join strategies and cost models for distributed queries"

  private lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated), (3L, base), (4L, "short text"))
    .toDF("doc_id", "text")

  test("exact duplicate groups find the planted exact pair") {
    val groups = Dedup.exactDuplicateGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("canonical_id") == 0L)
    assert(groups(0).getAs[Long]("dup_count") == 2L)
  }

  test("exact dedup keeps min-id row per text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 4L))
  }

  test("jaccard: identical=1, disjoint=0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("x", "y")))
      .toDF("a", "b", "c")
    val r = df.select(
      Dedup.jaccard(col("a"), col("b")),
      Dedup.jaccard(col("a"), col("c"))).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // near-dup
    assert(pairs.contains((0L, 3L))) // exact dup
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash candidate pairs verify against exact jaccard") {
    // every reported jaccard equals the exact shingle jaccard
    val reported = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.1)
    val shingled = docs.select(col("doc_id"),
      graft.functions.KernelExpressions.charShingleHashes(col("text"), 5).as("sh"))
    val exact = shingled.as("a").join(shingled.as("b"),
      col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(Dedup.jaccard(col("a.sh"), col("b.sh")), 6).as("exact_j"))
    val joined = reported.join(exact, Seq("id_a", "id_b"))
    assert(joined.filter(col("jaccard") =!= col("exact_j")).count() == 0)
  }

  test("simhash: identical texts collide, near-dups are close, unrelated far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs.values.forall(s => s >= 0 && s < (1L << Dedup.SimhashBits)))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <= 8)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 10)
  }

  test("ngram jaccard blocking matches the all-pairs result") {
    val blocked = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // brute-force reference over hashed word shingles
    val sh = docs.select(col("doc_id"),
      graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3).as("g"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(Dedup.jaccard(col("a.g"), col("b.g")), 6).as("j"))
      .filter(col("j") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == brute)
    assert(blocked.nonEmpty) // planted near-dups found
  }

  test("simhash pair blocking finds identical docs at distance 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDistance = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0L))
  }

  test("hammingPairs60: pigeonhole recall is exact through distance 3") {
    // base sig, and variants at hamming 1, 3 (found) and 4 (beyond the
    // pigeonhole guarantee AND the verify threshold: absent)
    val base = 0x0F0F0F0F0F0F0F0L
    val sigs = Seq(
      (0L, base),
      (1L, base ^ 1L),                         // distance 1
      (2L, base ^ ((1L << 59) | (1L << 30) | 1L)), // distance 3
      // distance 5 from base, disjoint deltas -> >= 5 from every sig
      (3L, base ^ ((1L << 50) | (1L << 40) | (1L << 20) | (1L << 10) | (1L << 5))))
      .toDF("id", "sig")
    val pairs = Dedup.hammingPairs60(sigs, maxDistance = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.get((0L, 1L)) === Some(1L))
    assert(pairs.get((0L, 2L)) === Some(3L))
    assert(!pairs.keySet.exists(k => k._1 == 3L || k._2 == 3L))
    assert(pairs.get((1L, 2L)) === Some(2L)) // xor of the two deltas minus shared bit
  }

  test("embedding near-dup: planted duplicate vector found, brute == lsh on it") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, numTables = 0, dim = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute == Set((0L, 1L)))
    val lsh = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, numTables = 4, bitsPerTable = 2, dim = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute)) // LSH never reports false positives
    assert(lsh == brute) // 4 tables × 2 bits: near-identical vectors collide
  }

  test("kernel expressions equal their pure-expression formulations") {
    // the Column-expression variants are the executable SPEC of the
    // kernels: any drift between them would silently break oracle parity
    val df = docs.select(col("doc_id"), col("text"),
      Dedup.simhash(col("text")).as("sim_expr"),
      graft.functions.KernelExpressions.simhash60(col("text")).as("sim_kernel"),
      array_sort(array_distinct(transform(Dedup.charShingles(col("text"), 5),
        s => Dedup.shingleHash(s)))).as("csh_expr"),
      graft.functions.KernelExpressions.charShingleHashes(col("text"), 5).as("csh_kernel"),
      Dedup.minhashSignature(transform(Dedup.charShingles(col("text"), 5),
        s => Dedup.shingleHash(s)), 32).as("mh_expr"),
      graft.functions.KernelExpressions.minhashSig(col("text"), 5, 32).as("mh_kernel"),
      array_sort(array_distinct(transform(Dedup.wordShingles(col("text"), 3),
        s => Dedup.shingleHash(s)))).as("wsh_expr"),
      graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3).as("wsh_kernel"))
    assert(df.filter(col("sim_expr") =!= col("sim_kernel")).count() == 0)
    assert(df.filter(col("csh_expr") =!= col("csh_kernel")).count() == 0)
    assert(df.filter(col("mh_expr") =!= col("mh_kernel")).count() == 0)
    assert(df.filter(col("wsh_expr") =!= col("wsh_kernel")).count() == 0)

    // quality stats: kernel counts vs the standalone column expressions
    import graft.functions.TextAnalysis
    val edge = docs.select(col("text"))
      .union(Seq("", "   ", "a", "the the the", "!?!).,").toDF("text"))
    val q = edge.select(
      graft.functions.KernelExpressions.textQualityStats(col("text")).as("st"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_expr"),
      (TextAnalysis.stopwordRatio(col("text")) *
        TextAnalysis.tokenCount(col("text"))).cast("long").as("stop_expr"),
      (TextAnalysis.punctRatio(col("text")) * length(col("text")))
        .cast("long").as("punct_expr"),
      length(col("text")).cast("long").as("chars_expr"))
    assert(q.filter(element_at(col("st"), 1) =!= col("n_expr")).count() == 0)
    assert(q.filter(element_at(col("st"), 2) =!= col("stop_expr")).count() == 0)
    assert(q.filter(element_at(col("st"), 3) =!= col("punct_expr")).count() == 0)
    assert(q.filter(element_at(col("st"), 4) =!= col("chars_expr")).count() == 0)
  }

  test("connected components resolve pair chains into min-id clusters") {
    val nodes = (0L to 9L).toDF("doc_id")
    // chain 0-1-2, pair 5-7, singletons 3,4,6,8,9
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 7L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(0L) == 0L && comp(1L) == 0L && comp(2L) == 0L)
    assert(comp(5L) == 5L && comp(7L) == 5L)
    assert(Seq(3L, 4L, 6L, 8L, 9L).forall(i => comp(i) == i))
    // dedup-keep = comp == id: one survivor per cluster
    assert(comp.count { case (id, c) => id == c } == 7)
  }

  test("pointer-jumping components match union-find on random graphs and deep chains") {
    def expectedComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).groupBy(find).flatMap { case (_, ms) =>
        val mn = ms.min.toLong; ms.map(_.toLong -> mn)
      }
    }
    def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
      // localEdgeLimit = 0 forces the DISTRIBUTED pointer-jumping path
      // (default would route these small graphs to the driver fast path)
      val got = Dedup.connectedComponents((0L until n.toLong).toDF("id"), "id",
          edges.toDF("id_a", "id_b"), localEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got == expectedComponents(n, edges))
      // and the gated driver union-find must agree exactly
      val local = Dedup.connectedComponents((0L until n.toLong).toDF("id"), "id",
          edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(local == got)
    }
    // a 40-node chain: the depth case pointer jumping exists for
    check(40, (0L until 39L).map(i => (i, i + 1)))
    // random graphs, fixed seed
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      check(n, edges)
    }
  }

  test("LSH bucket caps neutralize degenerate identical/empty groups") {
    // 100 docs: 10 empty, 10 identical boilerplate, 80 unique — the 10%
    // degenerate mix the 100 TB skew scenario names. A boilerplate group of
    // size g floods its band/chunk buckets and costs O(g²) candidate pairs
    // per bucket if unguarded.
    // the unique docs are seeded-random words: template docs varying only in
    // digits would themselves be near-dups under char-5-gram minhash and
    // legitimately flood buckets
    def randomText(i: Int): String = {
      val rnd = new scala.util.Random(i * 2654435761L)
      (0 until 12).map(_ => (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    }
    val corpus = (0 until 100).map { i =>
      val text =
        if (i < 10) ""
        else if (i < 20) "identical boilerplate legal footer repeated verbatim on every page"
        else randomText(i)
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val degenerate = (10L until 20L).toSet
    // cap above the group size: the identical group yields all 45 of its
    // pairs; empty docs yield none (signature filter)
    val open = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5,
      maxBucket = 10000).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(open.count(p => degenerate(p._1) && degenerate(p._2)) == 45)
    assert(!open.exists(p => p._1 < 10L || p._2 < 10L))
    // cap below the group size: the flooded buckets drop out — candidate
    // work is bounded, no pair touches the degenerate group, and every
    // other pair is unchanged
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.5,
      maxBucket = 5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => degenerate(p._1) || degenerate(p._2)))
    assert(capped == open.filterNot(p => degenerate(p._1) || degenerate(p._2)))
    // simhash: same guard shape (identical docs collide at hamming 0)
    val simOpen = Dedup.simhashPairs(corpus, "doc_id", "text", maxBucket = 10000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(simOpen.count(p => degenerate(p._1) && degenerate(p._2)) == 45)
    assert(!simOpen.exists(p => p._1 < 10L || p._2 < 10L)) // empty docs excluded
    val simCapped = Dedup.simhashPairs(corpus, "doc_id", "text", maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!simCapped.exists(p => degenerate(p._1) || degenerate(p._2)))
  }

  test("ngram jaccard stays exact when the df cap bites (verify path)") {
    // Every doc shares a 6-token boilerplate prefix (3-grams at df = 30,
    // over the cap of 10 → dropped from the index); docs 2k and 2k+1
    // additionally share a rare per-pair phrase (df = 2 → indexed). The
    // within-pair jaccard is 10/12 ≈ 0.83; cross-pair is 7/15 ≈ 0.47, so at
    // threshold 0.6 brute force keeps exactly the 15 planted pairs. A
    // COUNT-ONLY plan would see just the 3 rare shared shingles (3/19 ≈
    // 0.16 < 0.6) and emit nothing — the verify path must restore the exact
    // values over the full arrays.
    val boiler = "all rights reserved by the publisher"
    val corpus = (0 until 30).map { i =>
      val k = i / 2
      (i.toLong, s"$boiler shared secret token$k anchors this pair variant$i")
    }.toDF("doc_id", "text")
    val blocked = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.6, maxShingleDf = 10)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val sh = corpus.select(col("doc_id"),
      graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3).as("g"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(Dedup.jaccard(col("a.g"), col("b.g")), 6).as("j"))
      .filter(col("j") >= 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked == brute)
    assert(blocked.size == 15)
  }

  test("incremental dedup drops rows seen in earlier runs, keeps the genuinely new") {
    val log = java.nio.file.Files.createTempDirectory("graft_inc").toString + "/digests.parquet"
    val batch1 = Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha")).toDF("doc_id", "text")
    val r1 = Dedup.incrementalExactDedup(batch1, "text", "doc_id", log)
    assert(r1.select("doc_id").as[Long].collect().toSet == Set(0L, 1L))
    assert(r1.columns.toSeq == Seq("doc_id", "text")) // digest is internal
    val batch2 = Seq((3L, "beta"), (4L, "gamma")).toDF("doc_id", "text")
    val r2 = Dedup.incrementalExactDedup(batch2, "text", "doc_id", log)
    assert(r2.select("doc_id").as[Long].collect().toSet == Set(4L))
  }

  test("concurrent incremental dedup runs admit each digest exactly once") {
    // Two threads race the SAME batch against one digest log: the per-path
    // lock serializes the read→anti-join→append window, so the loser's
    // anti-join must see the winner's append (and admit nothing), and the
    // log must hold each digest once.
    val log = java.nio.file.Files.createTempDirectory("graft_inc_conc").toString + "/digests.parquet"
    val batch = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("doc_id", "text")
    val admitted = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        val r = Dedup.incrementalExactDedup(batch, "text", "doc_id", log)
        admitted.addAndGet(r.count())
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(admitted.get() == 3, s"expected 3 total admissions, got ${admitted.get()}")
    val digests = spark.read.parquet(log).select("digest").as[String].collect()
    assert(digests.length == 3 && digests.distinct.length == 3,
      s"log holds duplicate digests: ${digests.mkString(",")}")
  }

  test("line dedup strips corpus-frequent sentences, preserves order, keeps the rest") {
    val docs = (0 until 10).map { i =>
      (i.toLong, s"unique opening $i. shared cookie banner. unique body $i. shared cookie banner")
    } :+ (10L, "shared cookie banner") // doc that is ALL boilerplate
    val out = Dedup.lineDedup(docs.toDF("doc_id", "text"), "doc_id", "text", maxDf = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"))).toMap
    (0 until 10).foreach { i =>
      assert(out(i.toLong) == (s"unique opening $i. unique body $i", 2L),
        s"doc $i: ${out(i.toLong)}")
    }
    assert(out(10L) == ("", 0L)) // fully-boilerplate doc comes back empty
  }

  test("LSH index query equals self-join pairs restricted to cross-split") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_ut").toString
    Dedup.writeLshIndex(docs.filter(col("doc_id") < 25), "doc_id", "text", path)
    val incr = Dedup.lshPairsAgainstIndex(spark,
        docs.filter(col("doc_id") >= 25), "doc_id", "text", path)
      .as[(Long, Long, Double)].collect().toSet
    // exactly the pairs with one indexed and one new member (id_a < 25 <= id_b
    // holds because minhashLshPairs emits id_a < id_b)
    assert(incr == full.filter { case (a, b, _) => a < 25 && b >= 25 })
    assert(incr.nonEmpty)
  }

  test("LSH index queried with other band parameters fails naming both sets") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumped over a lazy dog today")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_params").toString
    Dedup.writeLshIndex(docs, "doc_id", "text", path, numBands = 8)
    val err = intercept[IllegalArgumentException] {
      Dedup.lshPairsAgainstIndex(spark,
        Seq((3L, "the quick brown fox")).toDF("doc_id", "text"),
        "doc_id", "text", path, numBands = 4)
    }
    assert(err.getMessage.contains(
      """written with {"numHashes":32,"numBands":8,"shingleSize":5}"""), err.getMessage)
    assert(err.getMessage.contains(
      """queried with {"numHashes":32,"numBands":4,"shingleSize":5}"""), err.getMessage)
  }

  test("LSH banding computes each doc's minhash signature once") {
    // the sentinel check must not be pushed below the projection that
    // computes the signature: the written band frame's plan calls the
    // signature kernel exactly once
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(capture)
    try {
      // a file scan: a local relation's signatures fold at planning time
      val scanned = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      val path = java.nio.file.Files.createTempDirectory("graft_lsh_plan").toString
      Dedup.writeLshIndex(scanned, "doc_id", "text", path)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(capture)
    import scala.jdk.CollectionConverters._
    val calls = plans.asScala.toSeq.map("minhashSignature".r.findAllMatchIn(_).size).filter(_ > 0)
    assert(calls == Seq(1), plans.asScala.mkString("\n\n"))
  }

  test("winnowing pairs docs sharing a planted passage, ignores disjoint docs") {
    val passage = "an identical paragraph that was copied between documents verbatim"
    val docs = Seq(
      (0L, s"completely unrelated opening text. $passage. and a distinct tail zero"),
      (1L, s"other framing words before the copy. $passage. different ending one"),
      (2L, "no shared content at all in this document whatsoever xyz"),
      (3L, "short"),
      (4L, "")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
    // any shared passage of length >= k + w - 1 must collide: the guarantee
    val fps = docs.filter(col("doc_id") < 2).select(
      graft.functions.KernelExpressions.winnowedFingerprints(col("text"), 16, 8))
      .as[Seq[Long]].collect()
    assert(fps(0).toSet.intersect(fps(1).toSet).size >= 3)
  }

  test("bloom prefilter: zero false negatives, fp rate near configured, codegen'd") {
    import graft.functions.KernelExpressions.bloomMightContain
    import org.apache.spark.sql.functions.col
    val planted = spark.range(0, 1000).select((col("id") * 7919L).as("g"))
    val bloom = planted.stat.bloomFilter("g", 2000L, 0.01)
    // no false negatives: every inserted key must probe true
    assert(planted.filter(!bloomMightContain(col("g"), bloom)).count() == 0)
    // fp rate on a disjoint key space stays near the configured 1%
    val probes = spark.range(0, 10000).select((col("id") * 7919L + 1L).as("g"))
    val fps = probes.filter(bloomMightContain(col("g"), bloom)).count()
    assert(fps < 500, s"false-positive count out of band: $fps / 10000")
    // the probe must stay inside whole-stage codegen (it's the 100 TB
    // hot path of bloom decontamination)
    val plan = probes.filter(bloomMightContain(col("g"), bloom))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")), plan)
  }

  test("embedding near-dup SRP recall >= 0.9 vs exact on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val brute = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numTables = 0, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numTables = 24, bitsPerTable = 4, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(brute.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"SRP near-dup recall too low: $recall")
  }

  test("dupSpanStats counts shared windows and merges overlapping coverage") {
    import spark.implicits._
    // docs 1 and 2 share the 6-token run "a b c d e f": two overlapping
    // 5-token windows each, covering 6 positions (union, not 10)
    val docs = Seq(
      (1L, "a b c d e f x1 y1 z1"),
      (2L, "p q a b c d e f"),
      (3L, "u v w only here once"),
      (4L, "tiny")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupSpanStats(docs, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((5L, 2L, 6L)))  // 9 tokens -> 5 windows; 2 dup; pos 0-5
    assert(out(2L) == ((4L, 2L, 6L)))  // 8 tokens -> 4 windows; 2 dup; pos 2-7
    assert(out(3L) == ((2L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))  // shorter than the window
  }

  test("dupSpanScrub removes exactly the covered positions, preserving order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f x1 y1 z1"),
      (2L, "p q a b c d e f"),
      (3L, "u v w only here once")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupSpanScrub(docs, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (("x1 y1 z1", 3L)))   // pos 0-5 scrubbed
    assert(out(2L) == (("p q", 2L)))        // pos 2-7 scrubbed
    assert(out(3L) == (("u v w only here once", 6L)))
    // kept = total tokens − covered positions from dupSpanStats
    val stats = graft.operators.Dedup.dupSpanStats(docs, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val totals = Map(1L -> 9L, 2L -> 8L, 3L -> 6L)
    totals.foreach { case (id, n) => assert(out(id)._2 == n - stats(id)) }
  }

  test("containment pairs flag a subset document directionally") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps"),                 // subset of 1
      (3L, "completely different content with no overlap here at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // 2's 3-gram shingles are fully contained in 1; the reverse ratio is
    // small; 3 shares nothing
    assert(out == List((2L, 1L, 1.0)))
  }
}
