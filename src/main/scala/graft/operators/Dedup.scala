package graft.operators

import graft.util.Checkpoints._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup variant is (1) a narrow per-row signature
  * stage, (2) a shuffle keyed on a SMALL key (content digest / band hash /
  * simhash chunk / SRP bucket) carrying ONLY ids — never the document text,
  * shingle arrays, or vectors, (3) candidate (id_a, id_b) pairs joined back
  * to the payload once for exact verification ("fetch-on-verify"). No full
  * cross join ever happens; the only quadratic work is per-bucket, bounded
  * by bucket size / df cap. This is the standard MinHash-LSH layout
  * (Broder '97) mapped onto groupBy-join.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Content digest used as the dedup shuffle key: at 100 TB the raw text
    * must never be the groupBy key (the shuffle key would BE the corpus).
    * sha2-256 collisions are negligible at any realistic corpus size.
    */
  def contentDigest(c: Column): Column = sha2(c.cast("string"), 256)

  /** Exact duplicate groups by a column. The aggregation runs entirely on
    * (digest, id) — the content column is pruned from the shuffle.
    */
  def exactDuplicateGroups(df: DataFrame, byCol: String, idCol: String): DataFrame =
    df.select(contentDigest(col(byCol)).as("__digest"), col(idCol))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .select("canonical_id", "dup_count")

  /** Keep one row (min id) per exact key. Rows carry their payload through
    * one shuffle (unavoidable: the output is the surviving rows), but the
    * partition/sort key is the fixed-width digest, not the text.
    */
  def exactDedup(df: DataFrame, byCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentDigest(col(byCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental CROSS-RUN exact dedup (the daily-crawl pattern): rows whose
    * content digest already exists in the persistent digest log are dropped;
    * the batch is then deduped internally (keep min id per digest); the
    * survivors' digests append to the log. Exactly the `_uploaded`
    * anti-join shape applied to content: the log carries fixed-width
    * digests only — never text — and the anti-join broadcasts the log the
    * same way. The result is materialized (localCheckpoint) BEFORE the
    * log append, so consuming the returned frame after the append cannot
    * re-read the updated log and filter everything out.
    *
    * The read→anti-join→append window is serialized per log path
    * ([[graft.io.UploadedLog.lockFor]]): two concurrent in-JVM runs can no
    * longer both pass the anti-join and admit the same digest, nor race
    * their append jobs on one staging directory. Concurrent runs from
    * SEPARATE drivers still assume a single writer (use an external lock or
    * a transactional table format for the log in that deployment).
    */
  def incrementalExactDedup(df: DataFrame, byCol: String, idCol: String,
      digestLogPath: String): DataFrame =
    graft.io.UploadedLog.lockFor(digestLogPath).synchronized {
      val result = incrementalDedupSurvivors(df, byCol, idCol, digestLogPath)
      appendDigestLog(result, digestLogPath)
      result.drop("digest")
    }

  /** The anti-join half of [[incrementalExactDedup]] WITHOUT the log
    * append: survivors (carrying their `digest` column, materialized) of
    * `df` against the current log. For callers that must land their own
    * output BEFORE the digests become "seen" — e.g. the streaming ingest
    * sink, where appending digests first would turn a micro-batch retry
    * into silent data loss (the replayed batch anti-joins against its own
    * digests and the output write never happens). Hold
    * `UploadedLog.lockFor(digestLogPath)` across this call and the
    * subsequent [[appendDigestLog]].
    */
  def incrementalDedupSurvivors(df: DataFrame, byCol: String, idCol: String,
      digestLogPath: String): DataFrame = {
    require(!df.columns.contains("digest"),
      "input already has a 'digest' column — rename it before incremental dedup")
    val spark = df.sparkSession
    val withDigest = df.withColumn("__digest", contentDigest(col(byCol)))
    val fs = new org.apache.hadoop.fs.Path(digestLogPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen =
      if (fs.exists(new org.apache.hadoop.fs.Path(digestLogPath)))
        spark.read.parquet(digestLogPath)
      else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("digest",
            org.apache.spark.sql.types.StringType))))
    val unseen = graft.transform.Transforms.antiJoinUploaded(
      withDigest.withColumnRenamed("__digest", "digest"), seen, Seq("digest"))
    val w = Window.partitionBy(col("digest")).orderBy(col(idCol))
    unseen.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .pinned()
  }

  /** Append the survivors' digests to the log (second half of
    * [[incrementalExactDedup]]). */
  def appendDigestLog(survivors: DataFrame, digestLogPath: String): Unit =
    survivors.select("digest").write.mode("append").parquet(digestLogPath)

  // ------------------------------------------------------------- shingles

  /** Character n-gram shingles (distinct), lowercased.
    * NOTE: `sequence(1, 0)` would produce a DESCENDING sequence, so counts
    * < 1 are guarded to an empty array.
    */
  def charShingles(text: Column, n: Int = 5): Column = {
    val t = lower(text)
    val count = length(t) - (n - 1)
    when(count < 1, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), count), i => t.substr(i, lit(n)))))
  }

  /** Word n-gram shingles (distinct). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = graft.functions.TextAnalysis.tokens(text)
    val count = size(toks) - (n - 1)
    when(count < 1, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), count),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)))

  /** Exact-verification stage shared by the candidate generators: join the
    * (id_a, id_b) candidates back to the (sorted, distinct) shingle-hash
    * table once per side and keep pairs whose exact Jaccard clears the
    * threshold. The intersection is a merge-scan kernel (no per-pair hash
    * sets); |A∪B| = |A|+|B|-|A∩B|. Output is always a SUBSET of the exact
    * pair set — candidate generation can only lose recall, never add false
    * positives.
    */
  private def verifyJaccard(candidates: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardSides(candidates, shingled, shingled, threshold)

  /** Exact-Jaccard verification with separate shingle sources per pair
    * side — when the a-side and b-side ids come from different tables (the
    * incremental index query), feeding each join only its own source
    * halves the shingle evaluation (a union would be scanned once per
    * join side).
    */
  private def verifyJaccardSides(candidates: DataFrame, shingledA: DataFrame,
      shingledB: DataFrame, threshold: Double): DataFrame = {
    val shA = shingledA.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = shingledB.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter",
        graft.functions.KernelExpressions.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") === 0, lit(0.0)).otherwise(col("inter").cast("double") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------- inverted-index block

  /** N-gram Jaccard near-dup pairs via inverted-index blocking: doc pairs
    * are candidates iff they share at least one indexed shingle — exact for
    * any threshold > 0 (jaccard ≥ t > 0 implies a nonempty intersection)
    * whenever no shingle exceeds `maxShingleDf`; over-cap shingles are
    * dropped from the index, so candidate recall drops ONLY for pairs whose
    * every shared shingle is boilerplate. Emitted jaccard values are ALWAYS
    * exact: pairs that may have lost intersection counts to the cap are
    * re-verified against the full shingle arrays.
    *
    * Scale shape (100 TB): two passes over the exploded (shingle, id)
    * pairs — (1) a partial-aggregatable df count per shingle (no posting
    * list is ever materialized: a boilerplate shingle's collect_list would
    * be one unbounded aggregation row); (2) a self-equi-join on surviving
    * shingles, co-partitioned with pass 1's output. Per-doc set sizes ride
    * shuffle equi-joins on id — the sizes table is O(corpus) and must never
    * be broadcast.
    *
    * @param maxShingleDf shingles present in more than this many docs are
    *        dropped from the index (boilerplate n-grams generate df² pairs
    *        and discriminate nothing).
    */
  /** Shared candidate pipeline of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: df-capped inverted-index blocking over word
    * n-gram shingle hashes.
    *
    * Shingles travel as distinct poly-hash longs (kernel expression) — the
    * inverted index shuffles (hash, id) pairs, never text — and the doc's
    * set SIZE rides the explode (one extra int per index row), so nothing
    * per-doc is ever joined, let alone broadcast. Pass 1 is the per-shingle
    * document frequency (map-side combinable); pass 2 self-joins the
    * surviving index, where each (a, b) pair appears ONCE PER SHARED
    * SHINGLE, so a count aggregation IS the intersection size over the
    * indexed universe. Pairs where BOTH sides carry an over-cap shingle are
    * flagged `undercounted` (only those can have lost intersection counts
    * to the cap — the hot-doc list is bounded by corpus/df-cap and AQE
    * broadcasts it on its own).
    *
    * @return (shingled = (id, shingles), marked = per-candidate-pair
    *         (id_a, id_b, inter, sz_a, sz_b, undercounted))
    */
  private def shingleCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Int): (DataFrame, DataFrame) = {
    val shingled = df.select(col(idCol).as("id"),
      graft.functions.KernelExpressions.wordShingleHashes(col(textCol), n).as("shingles"))
      // pinned: the signature frame has FIVE consumers (df counts, hot-doc
      // scan, both posting self-join sides, and the callers' exact-verify
      // joins) — unpinned, each re-runs the shingle kernel over the full
      // corpus text (opt guide §2.4: share one materialization; §1.2: the
      // kernel is the per-task cost here). Downstream consumers explode
      // the pinned arrays, a narrow map.
      //
      // Why a corpus-scale array pin is RIGHT here but WRONG in
      // minhashLshPairs (the posture the two notes encode): the inverted-
      // index path re-reads the arrays five times — amortization beats
      // the pin's storage cost at any scale, and with
      // graft.checkpoint.storage=MEMORY_AND_DISK_SER the pin degrades to
      // serialized/spilled blocks instead of OOM. The LSH path reads its
      // arrays for the RARE candidate pairs only — there the pin is
      // storage without amortization (measured 1.2-1.4x worse at sf0.1),
      // so it fetches the candidate slice instead.
      .pinned()
    val exploded = shingled.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("shingle"))
    val dfs = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val indexable = dfs.filter(col("df").between(2, maxShingleDf)).select("shingle")
    val hotDocs = exploded
      .join(dfs.filter(col("df") > maxShingleDf).select("shingle"), "shingle")
      .select("id").distinct()
    val posting = exploded.join(indexable, "shingle")
    val inter = posting.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(posting.select(col("shingle").as("shingle_b"), col("id").as("id_b"),
          col("sz").as("sz_b")),
        col("shingle") === col("shingle_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
    val marked = inter
      .join(hotDocs.select(col("id").as("id_a"), lit(true).as("hot_a")), Seq("id_a"), "left")
      .join(hotDocs.select(col("id").as("id_b"), lit(true).as("hot_b")), Seq("id_b"), "left")
      .withColumn("undercounted",
        coalesce(col("hot_a"), lit(false)) && coalesce(col("hot_b"), lit(false)))
    (shingled, marked)
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, maxShingleDf: Int = 1000): DataFrame = {
    val (shingled, marked) = shingleCandidates(df, idCol, textCol, n, maxShingleDf)
    // Pairs untouched by the cap: the counted intersection is exact.
    val exactByCount = marked.filter(!col("undercounted"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    // Pairs where both docs carry a capped shingle: fetch the full arrays
    // once and verify exactly (zero rows when no shingle hits the cap).
    val verified = verifyJaccard(
      marked.filter(col("undercounted")).select("id_a", "id_b"), shingled, threshold)
    exactByCount.unionByName(verified)
  }

  /** Exact Jaccard-threshold pair join via PREFIX FILTERING — the
    * PPJoin/All-Pairs candidate bound (Bayardo et al., WWW'07; Xiao et
    * al., WWW'08), the EXACT high-threshold dual of [[minhashLshPairs]]
    * (probabilistic) and [[ngramJaccardPairs]] (whose df-cap can lose
    * boilerplate-only pairs): two sets with Jaccard ≥ τ MUST share a
    * shingle inside each side's first |S| − ⌈τ·|S|⌉ + 1 shingles under any
    * agreed global order, so indexing ONLY those prefixes loses no true
    * pair. With τ = 0.9 the index is ~1/10 of the full inverted index and
    * shrinks as τ rises — the cap-free exactness comes from the threshold
    * itself, not from dropping hot shingles.
    *
    * Scale shape: one df aggregation fixes the global rarest-first order
    * (df ASC, hash — ties broken by the hash so the order is total);
    * prefix selection is a per-doc window over the doc's own shingles;
    * the candidate self-join touches only prefix postings, pre-pruned by
    * the size filter |small| ≥ τ·|large| (a true pair cannot violate it);
    * survivors are re-verified EXACTLY against the full sorted-hash
    * arrays (merge-scan kernel). Prefix length and size filter use a
    * 1e-9 slack so double rounding can only ADD candidates, never drop a
    * true pair.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    val shingled = df.select(col(idCol).as("id"),
      graft.functions.KernelExpressions.wordShingleHashes(col(textCol), n)
        .as("shingles"))
      // pinned for the same reason as [[shingleCandidates]]: df counts,
      // prefix window, and both exact-verify sides all consume it
      .pinned()
    val exploded = shingled.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("shingle"))
    val dfs = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("sdf"), col("shingle"))
    val prefix = exploded.join(dfs, "shingle")
      .withColumn("rn", row_number().over(w))
      // ⌈τ·sz⌉ computed with a slack that can only lengthen the prefix
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("shingle"), col("id"), col("sz"))
    val cand = prefix.select(col("shingle"), col("id").as("id_a"),
        col("sz").as("sz_a"))
      .join(prefix.select(col("shingle").as("shingle_b"), col("id").as("id_b"),
          col("sz").as("sz_b")),
        col("shingle") === col("shingle_b") && col("id_a") < col("id_b"))
      // size filter: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|)
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double")
          - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccard(cand, shingled, threshold)
  }

  /** Directional n-gram CONTAINMENT pairs: containment(src→dst) =
    * |S(src) ∩ S(dst)| / |S(src)| over distinct word-n-gram shingle sets.
    * The asymmetric near-dup measure — an excerpt quoted inside a much
    * larger document scores ~1.0 here while its Jaccard is tiny, which is
    * exactly the eval-contamination / quote-detection shape
    * ([[ngramJaccardPairs]] covers the symmetric case).
    *
    * Same inverted-index blocking and skew cap as [[ngramJaccardPairs]]:
    * pairs are candidates iff they share an indexed shingle (containment ≥
    * t > 0 implies a nonempty intersection, so recall is exact while no
    * shingle exceeds `maxShingleDf`); the per-shared-shingle count IS the
    * intersection; pairs where both sides carry an over-cap shingle are
    * re-verified on the full arrays. Emits one row per DIRECTION that
    * clears the threshold: (src_id, dst_id, containment of src in dst).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxShingleDf: Int = 1000): DataFrame = {
    val (shingled, marked) = shingleCandidates(df, idCol, textCol, n, maxShingleDf)
    // Exact pairs: fan each into its two directions (a posting row exists,
    // so sz > 0 on both sides — the division is safe by construction).
    def directions(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          (col("inter").cast("double") / col("sz_a")).as("containment"))
        .unionByName(pairs.select(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          (col("inter").cast("double") / col("sz_b")).as("containment")))
        .filter(col("containment") >= threshold)
        .select(col("src_id"), col("dst_id"), round(col("containment"), 6).as("containment"))
    val exactByCount = directions(marked.filter(!col("undercounted")))
    // Cap-affected pairs: recount on the full sorted arrays (zero rows
    // while no shingle hits the cap).
    val shA = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    val verified = directions(
      marked.filter(col("undercounted")).select("id_a", "id_b")
        .join(shA, "id_a").join(shB, "id_b")
        .withColumn("inter",
          graft.functions.KernelExpressions.sortedIntersectCount(col("sh_a"), col("sh_b")))
        .withColumn("sz_a", size(col("sh_a"))).withColumn("sz_b", size(col("sh_b")))
        .filter(col("sz_a") > 0 && col("sz_b") > 0))
    exactByCount.unionByName(verified)
  }

  // ------------------------------------------------------- bucket skew cap

  /** Guard for LSH candidate self-joins: a degenerate key (every empty doc
    * shares one sentinel minhash signature, boilerplate headers share band
    * slices, near-constant embeddings share SRP buckets) puts a large
    * fraction of the corpus into ONE bucket, making that bucket's self-join
    * quadratic — the classic skewed-key scale-killer. Rows in buckets larger
    * than `maxBucket` are dropped from candidate generation (same rationale
    * as `maxShingleDf`): members of an over-cap bucket are dominated by
    * exact/boilerplate duplicates, which exact dedup (cheap, digest-keyed)
    * already resolves. Implementation: a map-side-combinable count per key
    * (the shuffle carries (key, partial count), not rows) joined back on the
    * key — co-partitioned with the self-join that follows and, unlike a
    * window count, needing NO sort of the full keyed table.
    */
  private def capBuckets(keyed: DataFrame, keyCol: String, maxBucket: Int): DataFrame = {
    val small = keyed.groupBy(col(keyCol)).agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") <= maxBucket)
      .drop("__bucket_n")
    keyed.join(small, keyCol)
  }

  // -------------------------------------------------------------- minhash

  /** MinHash universe prime and per-permutation affine coefficients. The
    * permutation family is h_k(s) = (a_k * ph(s) + b_k) mod P over the
    * 30-bit polynomial shingle hash ph — pure 64-bit integer arithmetic
    * (a_k < P < 2^30, ph < P, so a_k*ph < 2^60), reproducible in any engine
    * including the DuckDB oracle. Coefficients come from the Knuth
    * multiplicative mix of k, so both sides derive them from the formula.
    */
  val MinhashP = 1000000007L

  private def mix32(i: Long): Long = (i * 2654435761L) % 4294967296L

  /** (a_k, b_k) for permutation k; a_k in [1, P-1], b_k in [0, P-1]. */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    Seq.tabulate(numHashes)(k => ((mix32(2L * k + 1) % (MinhashP - 1)) + 1, mix32(2L * k + 2) % MinhashP))

  /** 30-bit cross-engine shingle hash (see [[polyHash]]). */
  def shingleHash(s: Column): Column = polyHash(s, Base1, Mod1)

  /** MinHash signature from pre-hashed shingles: element k = min over
    * shingle hashes of (a_k*ph + b_k) mod P; empty set → P (sentinel larger
    * than any hash). One element-wise min-fold: the shingle hash is computed
    * once per shingle (lambda-variable reuse), each of the `numHashes`
    * permutations adds two integer ops per shingle.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int = 32): Column = {
    val perShingle = transform(shingleHashes, p =>
      array(minhashCoeffs(numHashes).map { case (a, b) =>
        pmod(lit(a) * p + lit(b), lit(MinhashP))
      }: _*))
    aggregate(perShingle, typedLit(Seq.fill(numHashes)(MinhashP)),
      (acc, hs) => zip_with(acc, hs, (x, y) => least(x, y)))
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * Plan shape: signatures (narrow) → explode bands carrying ONLY
    * (id, band, bandSlice) — shuffle volume is numBands × ~40 bytes per doc,
    * not numBands × shingle bytes — → per-bucket self-join → distinct
    * candidate (id_a, id_b) → join shingles back once per side → exact
    * Jaccard ≥ threshold. The band join key is the raw signature slice (an
    * array of `rowsPerBand` longs), not a hash of it: exact semantics, no
    * collision term, and Spark hashes array keys for the exchange anyway.
    *
    * Skew guards: shingle-less docs (empty/short text — all of them share
    * the one all-sentinel signature) are excluded before banding, and any
    * band bucket larger than `maxBucket` is dropped from candidate
    * generation (see [[capBuckets]]). With no over-cap bucket the output is
    * identical to the unguarded plan.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, numBands: Int = 8, shingleSize: Int = 5,
      threshold: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    val banded = bandSignatures(df, idCol, textCol, numHashes, numBands, shingleSize)
    val capped = capBuckets(banded, "bk", maxBucket)
    val a = capped.select(col("bk").as("bk"), col("id").as("id_a"))
    val b = capped.select(col("bk").as("bk2"), col("id").as("id_b"))
    val candidates = a.join(b, a("bk") === b("bk2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      // pinned: consumed by the candidate-id semi-join below AND the
      // verify join — unpinned, the whole banding chain would run twice
      .pinned()
    // Exact-verify shingles for CANDIDATE ids only (opt guide §8: decide
    // with small rows, fetch the heavy payload once): near-dup candidates
    // are rare by definition, so a broadcast semi-join restricts the text
    // scan BEFORE the shingle kernel runs — the kernel evaluates on the
    // candidate slice instead of twice over the whole corpus (the old
    // shape), and nothing corpus-scale is ever materialized (pinning the
    // full array table regressed 1.2-1.4x at sf0.1 and would carry
    // corpus-sized state at 100 TB).
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val shingledCand = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        graft.functions.KernelExpressions.charShingleHashes(col("__text"), shingleSize).as("shingles"))
      .pinned() // candidate-scale; both verify sides read it
    verifyJaccard(candidates, shingledCand, threshold)
  }

  /** [[minhashLshPairs]] over a PRE-SHINGLED frame — for callers that
    * already hold a pinned (id, shingles) table (e.g. [[lshRecall]], whose
    * exact-baseline side needs the full shingle pin anyway). Signatures
    * derive from the shingle arrays via [[minhashSignature]] (no second
    * text scan, no shingle kernel) and the exact verify joins the same
    * pin directly (no candidate semi-join, no extra pin). Output is
    * IDENTICAL to [[minhashLshPairs]]: the fused text kernel equals
    * minhash-over-charShingleHashes element-for-element (pinned by
    * DedupSpec's kernel-equivalence test), and the verify arithmetic is
    * shared. Only reach for this when the shingle pin already exists —
    * materializing a corpus-scale array table just to call it is the
    * 1.2-1.4x regression [[minhashLshPairs]]'s note documents.
    */
  private def minhashLshPairsFromShingles(shingled: DataFrame,
      numHashes: Int, numBands: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val banded = bandRows(
      shingled.select(col("id"), minhashSignature(col("shingles"), numHashes).as("sig")),
      numHashes, numBands)
    val capped = capBuckets(banded, "bk", maxBucket)
    val a = capped.select(col("bk").as("bk"), col("id").as("id_a"))
    val b = capped.select(col("bk").as("bk2"), col("id").as("id_b"))
    val candidates = a.join(b, a("bk") === b("bk2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, shingled, threshold)
  }

  /** Recall of the banded-LSH pair set against the EXACT shingle-jaccard
    * ground truth at the same threshold — the parameter-tuning harness
    * for (numHashes, numBands), the text-side dual of
    * [[Similarity.annRecall]]. LSH output is a SUBSET of the exact pairs
    * by construction (every candidate is exact-verified), so recall is a
    * pure count ratio and precision is 1. The all-pairs exact side is the
    * evaluation baseline only (quadratic — run it on a sampled slice,
    * never the corpus; same role as the brute-force cosine baseline).
    *
    * @return one row: (n_exact, n_lsh, recall)
    */
  def lshRecall(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, numBands: Int = 8, shingleSize: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val shingled = df.select(col(idCol).as("id"),
      graft.functions.KernelExpressions.charShingleHashes(col(textCol), shingleSize).as("shingles"))
      // pinned: three consumers (the size filter + BOTH verify-join
      // sides) would otherwise each re-run the shingle kernel over the
      // evaluation slice (opt guide §2.4 — share one materialization);
      // the slice is bounded by the caller's contract, so the pin is small
      .pinned()
    // AllPairs-style size filter, LOSSLESS at the threshold: jac(A,B) <=
    // min(|A|,|B|) / max(|A|,|B|), so any pair clearing `threshold` must
    // have size ratio >= threshold — candidate volume drops before a
    // single intersection is computed, recall of the ground truth is
    // untouched
    val sized = shingled.select(col("id"), size(col("shingles")).as("sz"))
    val allPairs = sized.select(col("id").as("id_a"), col("sz").as("sz_a"))
      .crossJoin(sized.select(col("id").as("id_b"), col("sz").as("sz_b")))
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") >= lit(threshold) * col("sz_b") &&
        col("sz_b") >= lit(threshold) * col("sz_a"))
      .select("id_a", "id_b")
    val exact = verifyJaccard(allPairs, shingled, threshold).select("id_a", "id_b")
    // LSH side reuses the SAME shingle pin the exact baseline just paid
    // for (round 13, guide §2.4 — share one materialization): the
    // self-contained minhashLshPairs would re-scan text twice more (fused
    // signature kernel + candidate semi-join slice) and pin a second
    // shingle table. Identical pair set — see minhashLshPairsFromShingles.
    val lsh = minhashLshPairsFromShingles(shingled, numHashes, numBands,
        threshold, maxBucket = 10000)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    exact.join(lsh, Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        round(col("n_lsh") / col("n_exact"), 6).as("recall"))
  }

  /** (id, sig) minhash signatures → (id, bk = struct(band, key)) rows, the
    * LSH blocking unit shared by the self-join pairs paths and the
    * materialized index. Shingle-less docs (sentinel signature) are
    * excluded: they can never clear a threshold > 0 and would otherwise
    * all collide in one bucket. The check runs on the band rows, because a
    * filter on `sig` is pushed below the projection that names it and the
    * signature is then computed twice per row. It is exact there: a real
    * hash is always < [[MinhashP]], and only an empty shingle set keeps the
    * [[MinhashP]] fill, so a band starts with the sentinel exactly when its
    * doc has no shingle.
    */
  private def bandRows(sigs: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    // numBands > numHashes would silently produce EMPTY band keys (every
    // doc in one bucket -> capBuckets drops the corpus, zero pairs, no
    // error); non-divisible values would silently ignore trailing hashes
    require(numBands > 0 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    sigs.select(col("id"),
        explode(array((0 until numBands).map(b =>
          struct(lit(b).as("band"),
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("key"))): _*))
          .as("bk"))
      .filter(element_at(col("bk.key"), 1) =!= MinhashP)
  }

  /** [[bandRows]] of `df`'s text, signed by the fused minhash kernel. */
  private def bandSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, numBands: Int, shingleSize: Int): DataFrame =
    bandRows(df.select(col(idCol).as("id"),
        graft.functions.KernelExpressions.minhashSig(col(textCol), shingleSize, numHashes).as("sig")),
      numHashes, numBands)

  /** Materialize an LSH index for a corpus: the banded signatures (written
    * partitioned by band — each band's buckets co-group into their own
    * files) plus the shingle table for exact verification. The daily-
    * ingest layout at 100 TB: the indexed corpus is signed/shingled ONCE,
    * and each new batch queries it via [[lshPairsAgainstIndex]] instead of
    * re-banding tens of terabytes per run (the near-dup analog of the
    * `_uploaded` control-table / [[incrementalExactDedup]] pattern).
    */
  def writeLshIndex(df: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 32, numBands: Int = 8, shingleSize: Int = 5): Unit = {
    val bands = bandSignatures(df, idCol, textCol, numHashes, numBands, shingleSize)
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    // record the STORED band-table types (the id column follows the
    // indexed corpus, not a later query batch) — see graft.io.IndexSchema
    graft.io.IndexSchema.write(df.sparkSession, s"$path/bands", bands.schema)
    df.select(col(idCol).as("id"),
      graft.functions.KernelExpressions.charShingleHashes(col(textCol), shingleSize).as("shingles"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    writeLshManifest(df.sparkSession, path, numHashes, numBands, shingleSize)
  }

  /** The LSH parameters are part of the index's identity: a query with a
    * different signature family silently yields empty/wrong candidates, so
    * they are persisted alongside the data and asserted at query time.
    */
  private def manifestPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/lsh_params.json").toString

  private def writeLshManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, numHashes: Int, numBands: Int, shingleSize: Int): Unit =
    graft.io.Fs.writeString(spark, manifestPath(path),
      s"""{"numHashes":$numHashes,"numBands":$numBands,"shingleSize":$shingleSize}""")

  private def assertLshManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, numHashes: Int, numBands: Int, shingleSize: Int): Unit = {
    val p = manifestPath(path)
    val stored = graft.io.Fs.readString(spark, p)
    require(stored.isDefined, s"no LSH params manifest at $p — index not written by writeLshIndex?")
    val expected =
      s"""{"numHashes":$numHashes,"numBands":$numBands,"shingleSize":$shingleSize}"""
    require(stored.contains(expected),
      s"LSH index at $path was written with ${stored.get} but queried with $expected")
  }

  /** Near-dup pairs of NEW documents against a corpus indexed by
    * [[writeLshIndex]] (same parameters): band-bucket equi-join of the new
    * batch's signatures against the stored bands, exact-Jaccard verify
    * against the stored + fresh shingle tables. Both sides carry the
    * [[capBuckets]] guard — a degenerate bucket on EITHER side (boilerplate
    * flood in the index, or in today's batch) is dropped before the join,
    * bounding the candidate product at maxBucket². Only the new batch is
    * signed per run; index-side work is a scan of ids+bands.
    *
    * Id namespaces of the index and the new batch must be DISJOINT (a
    * re-ingested id would pair a document with itself and ambiguate the
    * id_a/id_b side contract) — run [[incrementalExactDedup]] first, which
    * is the ingest order a real pipeline uses anyway. The precondition is
    * ENFORCED: an ids-only semi-join (early-out at the first clash) runs
    * before candidate generation unless `assertDisjointIds = false`.
    *
    * @return (id_a = indexed id, id_b = new id, jaccard)
    */
  def lshPairsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 32, numBands: Int = 8, shingleSize: Int = 5,
      threshold: Double = 0.5, maxBucket: Int = 10000,
      assertDisjointIds: Boolean = true): DataFrame = {
    assertLshManifest(spark, path, numHashes, numBands, shingleSize)
    if (assertDisjointIds) {
      val clash = spark.read.parquet(s"$path/shingles").select(col("id"))
        .join(newDocs.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"lshPairsAgainstIndex: id namespaces of the index at $path and the " +
          "new batch overlap — run incrementalExactDedup first or remap ids")
    }
    val freshSig = bandSignatures(newDocs, idCol, textCol, numHashes, numBands,
      shingleSize)
    // explicit read schema: the writer's sidecar when present (the STORED
    // id type — an index built over long ids stays readable from a batch
    // with int ids), else derived from the fresh signature shape
    // (pre-sidecar indexes). Explicit either way: a partitionBy write of
    // an EMPTY corpus emits no data files and inference would fail the
    // read — empty-in → empty-out.
    val bkT = freshSig.schema("bk").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val bandsSchema = graft.io.IndexSchema.read(spark, s"$path/bands")
      .getOrElse(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", freshSig.schema("id").dataType),
        org.apache.spark.sql.types.StructField("key", bkT("key").dataType),
        org.apache.spark.sql.types.StructField("band", bkT("band").dataType))))
    val idx = spark.read.schema(bandsSchema).parquet(s"$path/bands")
      .select(struct(col("band").cast("int").as("band"), col("key")).as("bk"),
        col("id").as("id_a"))
    val fresh = freshSig.select(col("bk"), col("id").as("id_b"))
    val candidates = capBuckets(idx, "bk", maxBucket)
      .join(capBuckets(fresh, "bk", maxBucket), "bk")
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // id_a is always an INDEX id and id_b a NEW id (disjoint namespaces),
    // so each verify side reads only its own shingle source
    verifyJaccardSides(candidates,
      spark.read.parquet(s"$path/shingles"),
      newDocs.select(col(idCol).as("id"),
        graft.functions.KernelExpressions.charShingleHashes(col(textCol), shingleSize).as("shingles")),
      threshold)
  }

  /** Shared-passage candidate pairs via MOSS-style winnowing: each doc
    * contributes its distinct winnowed fingerprints (min k-gram hash per
    * w-window — guaranteed to include a fingerprint from ANY shared passage
    * of length ≥ k + w - 1, regardless of where it sits in either doc), and
    * docs sharing ≥ `minShared` fingerprints pair up. The positional
    * robustness LSH-over-whole-docs lacks: a paragraph copied into an
    * otherwise unrelated document still collides.
    *
    * Scale shape: ids-only inverted index on the fingerprint, df-capped
    * like the n-gram index (a fingerprint present in more than
    * `maxFingerprintDf` docs is boilerplate and leaves candidate
    * generation) — the pair count per fingerprint is bounded, and `shared`
    * counts replay exactly in the oracle because the cap is part of the
    * declared semantics.
    *
    * @return (id_a, id_b, shared) with id_a < id_b, shared ≥ minShared
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 2,
      maxFingerprintDf: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(graft.functions.KernelExpressions.winnowedFingerprints(
        col(textCol), k, w)).as("fp"))
    // between(2, cap): a df=1 fingerprint can never form a pair — in a
    // large corpus singletons DOMINATE the key population, so indexing them
    // only ships dead shuffle volume (same rationale as ngramJaccardPairs)
    val under = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxFingerprintDf))
      .drop("__df")
    val indexed = fps.join(under, "fp")
    val a = indexed.select(col("fp"), col("id").as("id_a"))
    val b = indexed.select(col("fp").as("fp2"), col("id").as("id_b"))
    a.join(b, a("fp") === b("fp2") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // -------------------------------------------------------------- simhash

  /** Bit width of the simhash signature. 60 = two stacked 30-bit polynomial
    * hashes — chosen so the token hash is reproducible in any engine with
    * 64-bit integer arithmetic (the DuckDB oracle recomputes it exactly).
    */
  val SimhashBits = 60
  private val Base1 = 31L
  private val Mod1 = 1000000007L
  private val Base2 = 131L
  private val Mod2 = 998244353L

  /** Polynomial rolling hash acc = (acc * base + codepoint) mod `mod` —
    * pure integer expression, bit-identical across engines.
    */
  def polyHash(s: Column, base: Long, mod: Long): Column =
    aggregate(split(s, ""), lit(0L),
      (acc, ch) => pmod(acc * base + ascii(ch), lit(mod)))

  /** 60-bit cross-engine token hash: two independent 30-bit poly hashes
    * stacked as h1 * 2^30 + h2 (max ≈ 2^60, safely inside a signed 64-bit).
    */
  def tokenHash60(t: Column): Column =
    polyHash(t, Base1, Mod1) * lit(1L << 30) + polyHash(t, Base2, Mod2)

  /** 60-bit SimHash over word tokens: bit j of the result is set when the
    * sum over tokens of ±1 (per bit j of tokenHash60(token)) is positive.
    * The token array is hashed once (narrow transform), then one aggregate
    * carries a 60-long count buffer; `finish` folds it to the signature.
    */
  def simhash(text: Column): Column = {
    val toks = graft.functions.TextAnalysis.tokens(lower(text))
    val hashes = transform(toks, t => tokenHash60(t))
    def bitsOf(h: Column): Column =
      array((0 until SimhashBits).map { j =>
        when(shiftright(h, j).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))
      }: _*)
    aggregate(
      hashes,
      typedLit(Seq.fill(SimhashBits)(0L)),
      (acc, h) => zip_with(acc, bitsOf(h), (a, bit) => a + bit),
      counts => (0 until SimhashBits).map { j =>
        when(element_at(counts, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _))
  }

  /** Hamming distance between two signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 15-bit chunks (any pair within
    * hamming distance ≤ 3 shares at least one of 4 chunks — pigeonhole, so
    * recall is EXACTLY 1.0 by construction when no chunk bucket exceeds
    * `maxBucket`), then verify hamming ≤ maxDistance. Shuffle carries
    * (id, chunkIdx, chunkValue, sig) — the sig rides along (16 bytes) so
    * verification needs no second join. Zero-signature (token-free) docs are
    * excluded and over-cap chunk buckets dropped (see [[capBuckets]]).
    *
    * @param maxBucket same recall semantics and 10000→4000 default change
    *             as [[hammingPairs60]]: buckets between the caps now skip
    *             dedup (all their rows kept) where they were verified.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBucket: Int = 4000): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      graft.functions.KernelExpressions.simhash60(col(textCol)).as("sig"))
      // sig == 0 is the token-free signature (empty docs — exact-dup
      // territory) and the worst degenerate bucket: exclude before chunking.
      .filter(col("sig") =!= 0L)
    hammingPairs60(sigs, maxDistance, maxBucket)
  }

  /** Near-duplicate pairs of ANY 60-bit signature column by exact
    * pigeonhole blocking — the signature-agnostic core of
    * [[simhashPairs]], reused for perceptual image hashes
    * ([[graft.functions.Multimodal.dhash60]]) and any other fixed-width
    * fingerprint: block on 15-bit chunks (a pair within hamming ≤ 3
    * shares at least one of 4 chunks, so recall is exactly 1.0 when no
    * chunk bucket exceeds `maxBucket`), verify hamming in the join
    * condition.
    *
    * The verify cost inside a KEPT bucket is quadratic — worst case
    * maxBucket² hamming evaluations per bucket — so `maxBucket` is a WORK
    * bound, not just a recall knob: 4000 caps a bucket's verify at ~8M
    * comparisons (one reasonable task), where the former 10000 default
    * allowed 50M. Measured in the sf1 soak: a low-vocabulary corpus
    * collapses simhash chunks into mega-buckets just under the cap, and
    * d_simhash_pairs went 27.9× for 10× data — quadratic-until-cap, the
    * designed failure mode, but with a cap sized for recall rather than
    * per-task work. Real-text chunk buckets stay far smaller; a bucket
    * this degenerate is boilerplate worth dropping. (At cluster scale AQE
    * skew-split also divides an oversized chunk key across tasks once the
    * partition passes the skew threshold — invisible locally.)
    *
    * @param sigs (id, sig) — sig a 60-bit long; callers drop degenerate
    *             signatures (e.g. the empty-payload 0) first
    * @param maxBucket RECALL CHANGE in the 10000→4000 default drop: chunk
    *             buckets of 4001–10000 rows, previously verified, now skip
    *             entirely (none of their pairs are emitted). Callers that
    *             relied on the old recall on degenerate corpora must pass
    *             the old cap explicitly and price the quadratic verify.
    * @return (id_a, id_b, hamming) with id_a < id_b
    */
  def hammingPairs60(sigs: DataFrame,
      maxDistance: Int = 3, maxBucket: Int = 4000): DataFrame = {
    require(maxDistance <= 3, "pigeonhole blocking over 4 chunks is exact only for distance <= 3")
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("idx"),
          shiftright(col("sig"), i * 15).bitwiseAND(0x7FFFL).as("value"))): _*)).as("chunk"))
    val capped = capBuckets(chunked, "chunk", maxBucket)
    // Hamming is part of the JOIN condition: random chunk collisions are
    // filtered before the distinct (deduping the small verified set, not
    // the large candidate multiset).
    val a = capped.select(col("chunk").as("c"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("chunk").as("c2"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, a("c") === b("c2") && col("id_a") < col("id_b") &&
        hamming(col("sig_a"), col("sig_b")) <= maxDistance)
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")).cast("long"))
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  // --------------------------------------------------- line-level dedup

  /** C4-style corpus-frequent line removal: drop every sentence/line that
    * occurs in more than `maxDf` distinct documents (navigation chrome,
    * legal footers, cookie banners). Scale shape: sentences are COUNTED by
    * fixed-width digest (the text never keys a shuffle); the per-doc
    * reassembly groups by id and restores original order via the carried
    * position.
    *
    * @return (id, clean_text, n_kept) — documents whose every line is
    *         boilerplate come back with an empty clean_text.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      separator: String = "\\. ", joiner: String = ". ",
      maxDf: Int = 5): DataFrame = {
    val sent = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), separator)).as(Seq("pos", "sentence")))
      .withColumn("digest", contentDigest(col("sentence")))
    // distinct (digest, id) first so df counts documents, not occurrences
    val hot = sent.select(col("digest"), col("id")).distinct()
      .groupBy(col("digest")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("digest")
    val kept = sent.join(hot, Seq("digest"), "left_anti")
    val reassembled = kept.groupBy(col("id")).agg(
      concat_ws(joiner, transform(array_sort(collect_list(
        struct(col("pos"), col("sentence")))), s => s.getField("sentence"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id")).join(reassembled, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact-substring duplication coverage (the Lee-et-al.-style
    * "Deduplicating Training Data" contamination metric, reference-free):
    * per document, how many of its `w`-token windows also occur in at
    * least one OTHER document, and how many token positions those
    * duplicated windows cover.
    *
    * Scale shape: windows ride a position-preserving n-gram kernel and
    * shuffle as fixed-width poly hashes (text never keys a shuffle); the
    * duplicated-hash table is the distinct cross-document survivors only;
    * coverage explodes positions ONLY for duplicated windows (bounded by
    * w x dup_windows, not corpus tokens). Documents with fewer than `w`
    * tokens report zeros.
    *
    * @return (id, total_windows, dup_windows, dup_tokens)
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      w: Int = 5): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
        posexplode(graft.functions.KernelExpressions.wordNgramStrings(col(textCol), w))
          .as(Seq("pos", "g")))
      .select(col("id"), col("pos"), tokenHash60(col("g")).as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val flagged = grams.join(dup, Seq("h"), "left_semi")
    val total = grams.groupBy(col("id")).agg(count(lit(1)).as("total_windows"))
    val dups = flagged.groupBy(col("id")).agg(count(lit(1)).as("dup_windows"))
    val cover = flagged
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tp"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("dup_tokens"))
    df.select(col(idCol).as("id"))
      .join(total, Seq("id"), "left")
      .join(dups, Seq("id"), "left")
      .join(cover, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("total_windows"), lit(0L)).as("total_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Exact-substring REMOVAL (the scrub dual of [[dupSpanStats]]): rebuild
    * each document keeping only token positions NOT covered by a
    * cross-document duplicated `w`-token window — the Lee-et-al. "dedup the
    * span, not the document" treatment for boilerplate that exact/near
    * whole-doc dedup leaves behind.
    *
    * Same scale shape as the stats pass (hash-keyed windows, dup-only
    * position explode); the rebuild groups tokens by id and restores order
    * via the carried position, exactly like [[lineDedup]]'s reassembly.
    *
    * @return (id, clean_text, n_kept) — fully-duplicated documents come
    *         back with an empty clean_text.
    */
  def dupSpanScrub(df: DataFrame, idCol: String, textCol: String,
      w: Int = 5): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(graft.functions.KernelExpressions.wordNgramStrings(col(textCol), 1))
        .as(Seq("pos", "tok")))
    val grams = df.select(col(idCol).as("id"),
        posexplode(graft.functions.KernelExpressions.wordNgramStrings(col(textCol), w))
          .as(Seq("pos", "g")))
      .select(col("id"), col("pos"), tokenHash60(col("g")).as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val covered = grams.join(dup, Seq("h"), "left_semi")
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("id")).agg(
      concat_ws(" ", transform(array_sort(collect_list(
        struct(col("pos"), col("tok")))), s => s.getField("tok"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // ------------------------------------------------- cluster resolution

  /** Connected components over an undirected pair list by iterative
    * min-label propagation with POINTER JUMPING — the scalable post-pass
    * that turns near-dup PAIRS into dedup CLUSTERS (keep comp == id, drop
    * the rest). Each round propagates labels one hop over the edges, then
    * shortcuts through the previous round's label table (comp :=
    * labels(comp)) — the label reaches 2^r hops after r rounds, so rounds
    * are O(log diameter) instead of O(diameter) (chain-shaped near-dup
    * clusters — page series, versioned boilerplate — are exactly the deep
    * case). Convergence is read from the same aggregation (did any label
    * decrease?), so a round costs one propagation job plus the cheap
    * shortcut join against the already-materialized previous labels.
    * Labels/edges carry only ids: the shuffle never sees document payloads.
    *
    * Lineage control: edges and the initial labels are `localCheckpoint`ed
    * (the upstream pair pipeline materializes once), and labels re-
    * checkpoint EVERY round — not optionally. Each round references the
    * previous labels THREE times (self-union, propagation join, jump
    * lookup), so an un-truncated plan grows 3^k between checkpoints and the
    * OPTIMIZER — not the data — becomes the bottleneck within a few rounds;
    * with O(log d) rounds and ids-only label frames, a per-round checkpoint
    * is the cheap side of that trade at every scale.
    *
    * Small-graph fast path: the edge list is ids-only and, after LSH +
    * threshold verification, usually a tiny fraction of the corpus — when
    * it fits comfortably on the driver (`localEdgeLimit` pairs, integral
    * ids), a single collect + union-find replaces O(log d) rounds of
    * (join + checkpoint + aggregate) jobs, whose per-round FIXED cost
    * dominates wall-clock on all but huge graphs. Same gate philosophy as
    * the broadcast hints: metadata-scale data may visit the driver, and
    * past the gate the distributed iteration takes over unchanged. Labels
    * are identical by construction (comp = min reachable id).
    *
    * @return (id, comp) for every node; comp = min id reachable.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, localEdgeLimit: Long = 2000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .pinned()
    // LongType only: the collect below reads getLong, and widening an
    // IntegerType id here would change the output comp type between the
    // two paths — int-keyed graphs take the distributed iteration
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // the checkpoint above already materialized the pair pipeline, so this
    // count is a metadata read, not a recompute
    if (longIds && edges.count() <= 2 * localEdgeLimit) {
      val arr = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val labels = unionFindLabels(nodes.sparkSession, arr)
      val all = nodes.select(col(idCol).as("id"))
      return all.join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }
    // Only edge-touched nodes can change labels; singletons — the vast
    // majority of a deduped corpus — never enter the iteration.
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .pinned()
    var materialized = labels
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"), lit(null).cast("long").as("own"))
      // `own` tags each node's previous label (exactly one per id — every
      // propagation target is an edge endpoint and thus already labeled);
      // min(comp) is the new label, min(own) the old one, so the
      // convergence check folds into this one aggregation.
      val agg = labels.select(col("id"), col("comp"), col("comp").as("own"))
        .union(prop)
        .groupBy("id")
        .agg(min(col("comp")).as("comp"), min(col("own")).as("old"))
      // Pointer jump: comp := previous-labels(comp). Every label value is a
      // node id inside the same component (it entered as some node's min),
      // so the lookup composes reachability — after r rounds a label has
      // traveled 2^r hops. `least` keeps monotonicity explicit; the lookup
      // side is the persisted previous round, so this join is cheap.
      val jumped = agg.join(
          labels.select(col("id").as("__jid"), col("comp").as("__jcomp")),
          agg("comp") === col("__jid"), "left")
        .select(agg("id"),
          least(col("comp"), coalesce(col("__jcomp"), col("comp"))).as("comp"),
          col("old"))
      val next = jumped.pinned()
      changed = next.filter(col("comp") < col("old")).count()
      materialized.unpersist()
      materialized = next
      labels = next.select("id", "comp")
    }
    // The edge table and every intermediate label round are dead once the
    // loop converges — free their blocks eagerly (the final round's
    // checkpoint stays: the returned frame reads it). Leaked iteration
    // caches are exactly what turns a 63-query job into a memory-pressure
    // cascade downstream.
    edges.unpersist()
    // singletons keep their own id as component
    val all = nodes.select(col(idCol).as("id"))
    all.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Driver-side union-find over a collected (src, dst) edge array:
    * path-halving finds, union by attachment, then one pass assigning each
    * root's MINIMUM member id as the component label — exactly the fixpoint
    * the distributed min-label propagation converges to.
    */
  private def unionFindLabels(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      if (!parent.containsKey(x)) { parent.put(x, x); return x }
      while (parent.get(x) != x) {
        val p = parent.get(x)
        parent.put(x, parent.get(p)) // path halving
        x = parent.get(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOfRoot = new java.util.HashMap[Long, Long]()
    val ids = parent.keySet().toArray(new Array[java.lang.Long](0))
    ids.foreach { id =>
      val r = find(id)
      val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
      if (id < cur) minOfRoot.put(r, id.toLong)
    }
    ids.map(id => (id.toLong, minOfRoot.get(find(id)).toLong)).toSeq
      .toDF("id", "comp")
  }

  // ------------------------------------------------------ semantic dedup

  /** SemDeDup-style semantic dedup (the embedding-cluster variant of
    * near-dup removal): every vector is coarse-quantized to its nearest
    * trained centroid cell (same frozen k-means artifact the IVF search
    * uses), candidate pairs are generated ONLY within a cell — the
    * cell-keyed equi self-join keeps the quadratic work per-cell, and k
    * grows with the corpus so cells stay bounded — verified with exact
    * cosine ≥ threshold, resolved to clusters (pointer-jumping connected
    * components), and ONE representative (min id) per cluster is kept.
    * Cross-cell near-dups survive by design — the standard trade of
    * cluster-scoped dedup, replayed identically by the oracle. Candidates
    * shuffle ids only (vectors are fetched once for verification);
    * degenerate cells are capped like every other LSH bucket.
    *
    * `maxCell` is a WORK bound (per-cell verify ≤ maxCell²/2 cosine
    * evaluations, 4000 → ≤8M): an over-cap cell SKIPS dedup entirely —
    * its rows form singleton components and are all kept, the safe
    * failure (no data loss, no O(cell²) join). The executable scale
    * contract is k ∝ corpus size so the EXPECTED cell (corpus / k) stays
    * inside the cap; the sf1 soak measured 19.6× wall for 10× data when k
    * was held fixed and cells grew 10× — quadratic-in-cell by design,
    * which the cap now prices.
    *
    * @param maxCell RECALL CHANGE in the 100000→4000 default drop: cells
    *             of 4001–100000 rows, previously deduped, now keep ALL
    *             their rows. Callers sizing k to the old default must
    *             either grow k with the corpus or pass the old cap and
    *             price the quadratic verify.
    * @return kept rows (id, cell).
    */
  def semDedupKeep(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double = 0.45,
      maxCell: Int = 4000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        element_at(Similarity.nearestCells(col("vec"), centroids, 1), 1))
    val keyed = capBuckets(base.select(col("id"), col("cell")), "cell", maxCell)
    val a = keyed.select(col("cell").as("cell"), col("id").as("id_a"))
    val b = keyed.select(col("cell").as("cell2"), col("id").as("id_b"))
    val candidates = a.join(b, col("cell") === col("cell2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val va = base.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = base.select(col("id").as("id_b"), col("vec").as("vec_b"))
    val pairs = candidates.join(va, "id_a").join(vb, "id_b")
      .filter(graft.functions.KernelExpressions.vecCosine(col("vec_a"), col("vec_b")) >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(base, "id", pairs)
    base.select(col("id"), col("cell").cast("long").as("cell"))
      .join(comps.filter(col("comp") === col("id")).select("id"), "id")
  }

  // ---------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs via multi-table SRP-LSH: each of
    * `numTables` hash tables buckets rows on `bitsPerTable` sign-random-
    * projection bits; rows sharing a (table, bucket) cell become candidates;
    * candidates are verified with exact cosine ≥ threshold.
    *
    * Output ⊆ exact pairs always. Recall = 1 - Π_t (1 - p^b) with
    * p = 1 - θ/π; more tables buy recall, more bits cut candidate volume —
    * the standard OR-of-ANDs trade (tune per corpus/threshold).
    *
    * Plan shape: signatures narrow; the table/bucket explode shuffles ONLY
    * (id, table, bucket); vectors are fetched once per verified candidate.
    *
    * numTables <= 0 selects the all-pairs brute-force path (verifier /
    * oracle baseline only — quadratic).
    *
    * @param maxBucket RECALL CHANGE in the 10000→1000 default drop: LSH
    *             cells of 1001–10000 rows, previously verified, now skip
    *             (their pairs are not emitted). The sf1 soak motivated the
    *             work bound (a 480M-row candidate multiset thrashed the
    *             shuffle); pass the old cap to restore the old recall.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numTables: Int = 8, bitsPerTable: Int = 8,
      dim: Int = 64, maxBucket: Int = 1000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val candidates =
      if (numTables <= 0) {
        val a = base.select(col("id").as("id_a"))
        val b = base.select(col("id").as("id_b"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
      } else {
        val planes = VectorOps.rademacherPlanes(numTables * bitsPerTable, dim)
        // One kernel call emits all per-table keys (t*2^bits | bucket):
        // a flat LONG join key — hash-joinable, 8 bytes on the shuffle.
        val keyed = base.select(col("id"),
          explode(graft.functions.KernelExpressions.srpBucketKeys(
            col("vec"), planes, numTables, bitsPerTable)).as("tb"))
        // Near-constant embedding clusters (zero/padding vectors, but also
        // any true duplicate cluster comparable to the corpus) share every
        // table bucket, and the candidate MULTISET is quadratic in bucket
        // size × numTables — the sf1 soak measured a 480M-row candidate
        // shuffle (4 GiB single-page allocations, thrash) from 10 planted
        // 2000-vector clusters under the old 10000 cap. maxBucket is
        // therefore a WORK bound: per bucket ≤ maxBucket²/2 candidate rows
        // (1000 → ≤500k per table). A cluster too big for the cap is
        // degenerate-duplicate territory where pair ENUMERATION itself is
        // the mistake — route those through the keep-one operators
        // (semDeDupKeep / clusterBestKeep), which output representatives,
        // not O(cluster²) pairs.
        val capped = capBuckets(keyed, "tb", maxBucket)
        val a = capped.select(col("tb").as("tb"), col("id").as("id_a"))
        val b = capped.select(col("tb").as("tb2"), col("id").as("id_b"))
        a.join(b, a("tb") === b("tb2") && col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .dropDuplicates("id_a", "id_b")
      }
    val va = base.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = base.select(col("id").as("id_b"), col("vec").as("vec_b"))
    candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine",
        graft.functions.KernelExpressions.vecCosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }
}
