package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextAnalysis
import graft.operators.Dedup

/** Helpers used by two or more registry families: the table reader,
  * the shared scratch root and landing cache, and the DuckDB SQL
  * builders several oracles splice in. */
private[graft] object Shared {

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts has shipped as both TIMESTAMP(NANOS)→ns-long and plain µs
    // TIMESTAMP across testdata regenerations; normalize to the internal
    // ns-epoch-long convention here so no query sees the difference.
    if (name == "events") graft.io.EventTs.toNsLong(raw) else raw
  }

  /** events.ts is normalized to an ns-epoch long at read time whatever
    * the parquet encoding ([[graft.io.EventTs]]); all ts logic truncates
    * to µs — DuckDB's native timestamp resolution — for EXACT integer
    * parity with the oracle.
    */
  def tsUs: Column = expr("ts div 1000")

  /** ANSI-safe denominator: 0 → NULL, the Column mirror of SQL
    * `NULLIF(x, 0)`. Spark 4 runs with ANSI semantics, where even
    * double division by zero is a runtime DIVIDE_BY_ZERO error — a
    * degenerate corpus (constant series, single-row group, one-class
    * label) must degrade to NULL statistics, not crash the job. Every
    * oracle mirrors the guard with NULLIF so parity is unchanged.
    */
  def nz(c: Column): Column = when(c === 0.0, lit(null)).otherwise(c)

  /** All query scratch (streaming landing dirs, checkpoints, sink
    * outputs, and the batch queries' planted fixture dirs — versioned
    * stores, index layouts, round-trip files) lives under ONE per-JVM
    * root on tmpfs when available (/dev/shm): the
    * availableNow drains write dozens of small checkpoint/commit files per
    * query, and on the bench host's disk those writes land inside
    * multi-minute I/O-stall windows (SCALING.md) — tmpfs takes both the fixed cost and
    * the noise out. Deleted recursively on JVM exit, so repeated bench /
    * verify invocations no longer leak one fixture dir per run (nor
    * accumulate in shared memory).
    */
  lazy val streamScratchRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Paths, Path}
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
    }
    // tmpfs is shared memory: only use it when there is comfortable
    // headroom for the per-sf fixture copies + checkpoints (a larger-sf
    // run must degrade to disk, not exhaust /dev/shm for the whole host);
    // GRAFT_SCRATCH_DIR overrides the choice entirely.
    val MinUsableBytes = 4L << 30
    val shm = Paths.get("/dev/shm")
    def usable(p: Path): Long =
      try Files.getFileStore(p).getUsableSpace catch { case _: Exception => 0L }
    val base = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_)).getOrElse {
      if (Files.isDirectory(shm) && Files.isWritable(shm) &&
          usable(shm) >= MinUsableBytes) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    }
    // sweep roots leaked by prior JVMs that died without running their
    // shutdown hook (SIGKILL) — the PID in the dir name says whose it was
    val pid = ProcessHandle.current().pid()
    try {
      val stream = Files.list(base)
      try stream.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.startsWith("graft_scratch_p")) {
          val owner = name.stripPrefix("graft_scratch_p").takeWhile(_.isDigit)
          val alive = owner.nonEmpty &&
            ProcessHandle.of(owner.toLong).map[Boolean](_.isAlive).orElse(false)
          if (!alive) rm(p.toFile)
        } else if (name.startsWith("graft_stream_scratch")) {
          // pre-PID-naming leak from older builds (no liveness check
          // possible — those JVMs predate this code, so they are gone)
          rm(p.toFile)
        }
      } finally stream.close()
    } catch { case _: Exception => () } // sweep is best-effort
    val root = Files.createTempDirectory(base, s"graft_scratch_p${pid}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root.toFile)))
    root
  }
  def scratch(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(streamScratchRoot, prefix)

  /** Assembled READ-ONLY landing dirs (multi-file copies, sentinel files
    * with pinned mtimes) built once per (query kind, sf dir) per JVM:
    * landing assembly is test-fixture prep, not part of the drain being
    * measured, and the sentinel builds used to cost the heavy streams an
    * extra ~1s every invocation. Dirs that a query MUTATES (ingest-dedup's
    * digest log, sink output dirs) stay per-invocation fresh.
    */
  private val builtLandingCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def assembledLanding(key: String)(build: java.nio.file.Path => Unit): String =
    builtLandingCache.computeIfAbsent(key, { _ =>
      val d = scratch(key.replaceAll("[^A-Za-z0-9]", "_"))
      build(d)
      d.toString
    })

  /** Shared CUSUM scoring over an (event_type, hour_id, c) feed — the
    * plant + window arithmetic of q_cusum_shift, also fed by the
    * streaming drain in s_cusum_stream so both paths prove the same
    * detection arithmetic against one oracle form.
    */
  def cusumScore(hourlyCounts: DataFrame): DataFrame = {
    val hourly = hourlyCounts
      .withColumn("rh", col("hour_id") -
        min(col("hour_id")).over(Window.partitionBy()))
      .withColumn("c2",
        col("c") + when(col("event_type") === "purchase" && col("rh") >= 500, 37L)
          .otherwise(0L))
    val byType = Window.partitionBy(col("event_type"))
    val seq = byType.orderBy(col("hour_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val scored = hourly
      .withColumn("mean", avg(col("c2")).over(byType))
      .withColumn("sd", stddev_pop(col("c2")).over(byType))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("cum", sum(col("c2")).over(seq))
      .withColumn("rn", row_number().over(byType.orderBy(col("hour_id"))))
      .withColumn("abs_s", abs(col("cum") - col("rn") * col("mean")))
    scored.groupBy(col("event_type"))
      .agg(max(struct(col("abs_s"), (-col("rh")).as("nrh"), col("sd"), col("n"))).as("m"))
      // sd=0 (a constant series, where abs_s is exactly 0 too) divides by 1
      // instead: stat 0 / not shifted — Spark's NULL-on-zero-divide and
      // DuckDB's inf would otherwise disagree at the gate
      .withColumn("sd1", when(col("m.sd") === 0.0, lit(1.0)).otherwise(col("m.sd")))
      .select(col("event_type"),
        col("m.n").as("n_hours"),
        (-col("m.nrh")).as("shift_rh"),
        round(col("m.abs_s") / (col("sd1") * sqrt(col("m.n"))), 6).as("stat"),
        (col("m.abs_s") / (col("sd1") * sqrt(col("m.n"))) > 3.0).as("shifted"))
  }

  /** Shared dyadic-EWMA scoring of a day-grain (day_id, rev_e2) frame —
    * the arithmetic of [[QueryRows.qEwmaAnomaly]], reused verbatim by the streaming
    * dual so one oracle form proves both paths (the [[StreamRows.sCusumStream]]
    * precedent).
    */
  def ewmaScore(daily: DataFrame): DataFrame = {
    val span = daily.agg(min(col("day_id")).as("min_day"),
      max(col("day_id")).as("max_day"))
    daily
      .select(col("day_id").as("src_day"), col("rev_e2"),
        explode(sequence(lit(0L), lit(13L))).as("k"))
      .select((col("src_day") + col("k")).as("day_id"),
        expr("rev_e2 * shiftleft(1L, cast(13 - k AS INT))").as("num_part"),
        when(col("k") === 0L, col("rev_e2")).otherwise(0L).as("rev_part"))
      .groupBy(col("day_id"))
      .agg(sum(col("num_part")).as("num"), sum(col("rev_part")).as("rev_e2"))
      .crossJoin(span)
      .filter(col("day_id") <= col("max_day"))
      .withColumn("m", least(lit(13L), col("day_id") - col("min_day")))
      .withColumn("wsum", expr("16384L - shiftleft(1L, cast(13 - m AS INT))"))
      .select(col("day_id"),
        (col("rev_e2").cast("double") / 100.0).as("revenue"),
        round(col("num").cast("double") / col("wsum").cast("double") / 100.0, 6)
          .as("ewma"),
        when(col("rev_e2") * 2L * col("wsum") > col("num") * 3L, 1L)
          .otherwise(0L).as("spike"))
  }

  /** Exact 1e-4-scaled revenue term (see q10: integer money makes sums
    * order-independent, so cross-engine hash compares can't drift on
    * summation order or a round(sum(double)) tie).
    */
  def revE4: Column =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000.0, 0)
      .cast("long")

  val stopwordsSql = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB replay of [[graft.functions.Kernels.bpeTokenCount]] over `src`
    * (must have doc_id, text): recursive-CTE word states `(syms, mi)` where
    * each step merges the LEFTMOST occurrence of rank `mi`'s pair, advancing
    * rank when none remains. Repeated-leftmost equals the kernel's single
    * left-to-right non-overlapping scan per rank (a merge cannot create a
    * new occurrence of its own pair at or before its position — see
    * [[graft.functions.Bpe]]). Yields `bpe_counts(doc_id, n_bpe)` with
    * zero-word docs absent (LEFT JOIN + coalesce at the use site). Splice
    * directly after `WITH RECURSIVE`.
    *
    * The recursion runs over DISTINCT words (BPE of a word is
    * doc-independent; per-doc counts come back via a join on the word) and
    * the rank-`mi` pair arrives by JOINING a merge VALUES table instead of
    * indexing two list literals inside the lambda — DuckDB rebuilt those
    * 40-element literals per list ELEMENT, which made this helper's
    * consumers ~50 s each at sf0.01; same arithmetic, now sub-second.
    */
  def sqlBpeCtes(src: String): String = {
    val m = graft.functions.TrainedBpeMerges.merges.size
    val mergeRows = graft.functions.TrainedBpeMerges.merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, ${sqlStr(l)}, ${sqlStr(r)})" }
      .mkString(", ")
    s"""bpe_m(mi, ml, mr) AS (VALUES $mergeRows),
       bpe_words AS MATERIALIZED (
         SELECT doc_id, unnest(ws) AS word
         FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM $src)
       ),
       bpe_st AS (
         SELECT word, string_split(word, '') AS syms, 1 AS mi
         FROM (SELECT DISTINCT word FROM bpe_words WHERE word <> '')
         UNION ALL
         SELECT word,
           CASE WHEN j IS NULL THEN syms
                ELSE syms[1:j-1] || [syms[j] || syms[j+1]] || syms[j+2:] END,
           CASE WHEN j IS NULL THEN mi + 1 ELSE mi END
         FROM (
           SELECT st.word, st.syms, st.mi,
             list_filter(range(1, len(st.syms)), i ->
               st.syms[i] = mm.ml AND st.syms[i+1] = mm.mr)[1] AS j
           FROM bpe_st st JOIN bpe_m mm ON mm.mi = st.mi
           WHERE st.mi <= $m
         )
       ),
       bpe_wlen AS MATERIALIZED (
         SELECT word, len(syms) AS n FROM bpe_st WHERE mi = ${m + 1}
       ),
       bpe_counts AS (
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bpe
         FROM bpe_words JOIN bpe_wlen USING (word) GROUP BY doc_id
       )"""
  }

  // ---- DuckDB fragments replicating the cross-engine hash/LSH primitives.
  // Every constant below mirrors the Scala side exactly (Dedup / VectorOps);
  // all arithmetic is 64-bit integer or order-identical double folds, so the
  // oracle recomputes signatures bit-for-bit.

  /** Polynomial rolling hash over characters, init 0 (prepended). */
  def sqlPh(v: String, base: Long, mod: Long): String =
    s"list_reduce([0::BIGINT] || list_transform(string_split($v, ''), ch -> ascii(ch)::BIGINT), " +
      s"(hacc, hx) -> (hacc * $base + hx) % $mod)"

  /** 60-bit token hash: two stacked 30-bit poly hashes (Dedup.tokenHash60). */
  def sqlTokenHash60(v: String): String =
    s"(${sqlPh(v, 31L, 1000000007L)} * 1073741824 + ${sqlPh(v, 131L, 998244353L)})"

  /** Order-exact cosine between two DOUBLE[] exprs (VectorOps.cosineU). */
  def sqlCos(a: String, b: String): String = {
    def dotRf(x: String, y: String) =
      s"list_reduce([0.0] || list_transform(list_zip($x, $y), zz -> zz[1] * zz[2]), (cacc, cx) -> cacc + cx)"
    // zero-norm convention: cosine against a zero vector is 0.0, matching
    // Kernels.cosine — NULLIF+coalesce (not a CASE re-computing the
    // norms) so the guard adds no extra folds; the fuzz corpus's planted
    // zero vector caught the bare division emitting NaN here
    s"coalesce(${dotRf(a, b)} / NULLIF(sqrt(${dotRf(a, a)}) * sqrt(${dotRf(b, b)}), 0), 0.0)"
  }

  /** Squared L2 distance, matching [[graft.operators.Pq]]'s left-fold
    * order exactly (init 0.0, add per dimension).
    */
  def sqlL2sq(a: String, b: String): String =
    s"list_reduce([0.0] || list_transform(list_zip($a, $b), " +
      s"zz -> (zz[1] - zz[2]) * (zz[1] - zz[2])), (lacc, lx) -> lacc + lx)"

  /** Centroid `ci` (a SQL int expr) of the flat `sg` list of 8 centroids
    * of `dim` doubles each (the `sgt(sg)` CTE of the trained-cell oracles).
    */
  def sqlCentroid(ci: String, dim: Int = 64): String =
    s"sg[($ci) * $dim + 1 : ($ci) * $dim + $dim]"

  /** Every `sg` centroid of DOUBLE[] `v` as {negCos, cell}, sorted
    * ascending by negCos = descending by cosine, ties by cell — the order
    * of `Similarity.cellsByCosine`. `[1]` is the own cell, `[2]` the
    * nearest other.
    */
  def sqlCellsByCosine(v: String, dim: Int = 64): String =
    "list_sort(list_transform(range(0, 8), ci -> " +
      s"{'negCos': -${sqlCos(v, sqlCentroid("ci", dim))}, 'cell': ci}))"

  // subspace `m` of a 64-dim vector, and code `j` of subspace `m` in the
  // flat `pq` list (the `pqt(pq)` CTE): 4 subspaces × 8 codes × 16 dims,
  // the TrainedPq shape
  private def sqlPqSub(v: String, m: String) = s"$v[($m) * 16 + 1 : ($m) * 16 + 16]"
  private def sqlPqCode(m: String, j: String) =
    s"pq[(($m) * 8 + ($j)) * 16 + 1 : (($m) * 8 + ($j)) * 16 + 16]"

  /** PQ codes (INT[4]) of DOUBLE[] `v`: per subspace, the nearest code by
    * (squared L2, index) — `Pq.encodeExpr`.
    */
  def sqlPqEncode(v: String): String =
    "list_transform(range(0, 4), m -> (list_sort(list_transform(range(0, 8), j -> " +
      s"{'d': ${sqlL2sq(sqlPqSub(v, "m"), sqlPqCode("m", "j"))}, 'j': j})))[1].j)"

  /** ADC distance of query DOUBLE[] `q` to the row's `codes`, summed in
    * subspace order — `Pq.adcDistanceExpr`.
    */
  def sqlPqAdc(q: String): String = (0 until 4).map(m =>
    sqlL2sq(sqlPqSub(q, m.toString), sqlPqCode(m.toString, s"codes[$m + 1]")))
    .mkString(" + ")

  /** Shared by the batch query and its streaming dual — the stream's output
    * is hash-checked against the SAME DuckDB result.
    */
  lazy val sqlSessionize: String =
    """WITH g AS (
         SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         FROM events),
       m AS (
         SELECT user_id,
           CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
         FROM g)
       SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
              count(*) AS n_events
       FROM m GROUP BY user_id"""

  lazy val sqlHourlyRollup: String =
    """SELECT epoch_us(ts) // 3600000000 AS hour_id,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2"""

  /** The HLL oracle: replays [[graft.operators.Sketches.hllDistinct]] —
    * distinct 30-bit hashes, two affine permutations for register/rank,
    * integer bit-length ranks via `bin()`, the EXACT integer harmonic sum
    * in 2^-31 units, the register-max '__all__' merge, and the shared
    * Scala-side scale literal ([[graft.operators.Sketches.hllScaleNum]])
    * so the single floating division is identical on both engines.
    */
  /** Independent EWMA oracle (trailing weighted range self-join per day,
    * NOT the engine's forward-explode rewrite) — shared by the batch
    * query and its streaming dual.
    */
  lazy val sqlEwmaAnomaly: String =
    """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day_id,
             sum(round(value * 100.0, 0)::BIGINT)::BIGINT AS rev_e2
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         span AS (SELECT min(day_id) AS min_day, max(day_id) AS max_day
                  FROM daily),
         dom AS (SELECT DISTINCT day_id + o AS day
                 FROM daily, range(0, 14) t(o), span
                 WHERE day_id + o <= max_day),
         acc AS (
           SELECT day,
             sum(rev_e2 * (1::BIGINT << (13 - (day - day_id))::INT))::BIGINT
               AS num,
             sum(CASE WHEN day_id = day THEN rev_e2 ELSE 0 END)::BIGINT
               AS rev_e2
           FROM dom JOIN daily ON day_id BETWEEN day - 13 AND day
           GROUP BY 1)
         SELECT day AS day_id, rev_e2::DOUBLE / 100.0 AS revenue,
           round(num::DOUBLE /
             (16384 - (1::BIGINT << (13 - least(13, day - min_day))::INT))
             / 100.0, 6) AS ewma,
           CASE WHEN rev_e2 * 2 *
             (16384 - (1::BIGINT << (13 - least(13, day - min_day))::INT))
             > num * 3 THEN 1 ELSE 0 END::BIGINT AS spike
         FROM acc, span"""

  /** Word n-gram occurrence hashes (NOT distinct) over a `tk` token-array
    * column — mirrors `Kernels.wordNgramStats` hashing (space-joined window,
    * 30-bit poly hash). `range(1, len(tk) - ${n-2})` yields len-n+1 windows.
    */
  def sqlWordNgramHashes(n: Int): String = {
    val upper = if (n == 2) "len(tk)" else s"len(tk) - ${n - 2}"
    s"CASE WHEN len(tk) < $n THEN []::BIGINT[] ELSE " +
      s"list_transform(range(1, $upper), i -> " +
      s"${sqlPh(s"array_to_string(tk[i:i+${n - 1}], ' ')", 31L, 1000000007L)}) END"
  }

  /** The minhash signature chain over `table(doc_id, text)`, ending in
    * `ph(doc_id, phs)` + `bands(doc_id, bd, bsig)` — shared by the pairs
    * oracle, the connected-components closure, and the skew-guard oracle.
    *
    * Signature arithmetic is UNNESTED (shingle rows × a 32-row coefficient
    * VALUES table, grouped back per (doc, k)) instead of nested
    * list-lambdas: DuckDB evaluates a list-literal index inside a lambda
    * per ELEMENT, which made the original form ~50 s per query at sf0.01 —
    * the parity gate's whole budget. Same arithmetic, vectorized, <2 s.
    * Band keys come out pre-stringified so candidate generation is a HASH
    * equi-join on (bd, bsig), not an O(n²) theta join with a per-pair
    * lambda.
    */
  def sqlMinhashSigCtes(table: String): String = {
    val coefRows = Dedup.minhashCoeffs(32).zipWithIndex
      .map { case ((a, b), k) => s"($k, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""sh AS (
           SELECT doc_id,
             CASE WHEN length(lower(text)) < 5 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, length(lower(text)) - 3),
                         i -> lower(text)[i:i+4])) END AS g
           FROM $table),
         ph AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(g, s -> ${sqlPh("s", 31L, 1000000007L)})) AS phs
                FROM sh),
         mh_pu AS (SELECT doc_id, unnest(phs) AS p FROM ph),
         mh_coef(k, a, b) AS (VALUES $coefRows),
         mh_sigk AS (
           SELECT ph.doc_id, c.k,
             coalesce(min((c.a * mh_pu.p + c.b) % 1000000007), 1000000007) AS mh
           FROM ph CROSS JOIN mh_coef c LEFT JOIN mh_pu ON mh_pu.doc_id = ph.doc_id
           GROUP BY ph.doc_id, c.k),
         bands AS MATERIALIZED (
           SELECT doc_id, k // 4 AS bd, string_agg(mh, ',' ORDER BY k) AS bsig
           FROM mh_sigk GROUP BY doc_id, k // 4)"""
  }

  /** LSH candidate pairs as a hash equi-join on the stringified band key —
    * `candName(id_a, id_b, ga, gb)` with the pair's shingle-hash lists
    * attached, `pairCond` constraining (x, y) doc ids.
    */
  def sqlBandCand(candName: String,
      pairCond: String = "x.doc_id < y.doc_id"): String =
    s"""${candName}0 AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y
             ON x.bd = y.bd AND x.bsig = y.bsig AND $pairCond),
         $candName AS (
           SELECT c.id_a, c.id_b, pa.phs AS ga, pb.phs AS gb
           FROM ${candName}0 c
             JOIN ph pa ON pa.doc_id = c.id_a
             JOIN ph pb ON pb.doc_id = c.id_b)"""

  /** The minhash-LSH pair pipeline as a reusable CTE chain ending in
    * `j(id_a, id_b, jac)` — shared by the pairs oracle and the
    * connected-components closure.
    */
  lazy val sqlMinhashCtes: String =
    s"""${sqlMinhashSigCtes("documents")},
         ${sqlBandCand("cand")},
         j AS (SELECT id_a, id_b,
             CASE WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0
                  ELSE len(list_intersect(ga, gb))::DOUBLE / len(list_distinct(ga || gb)) END AS jac
           FROM cand)"""

  /** Shared by q_cusum_shift and s_cusum_stream: the streaming drain's
    * hourly counts feed the same scoring, so one batch replay proves both.
    */
  lazy val sqlCusumShift: String =
    """WITH h AS MATERIALIZED (SELECT event_type,
           epoch_us(ts) // 3600000000 AS hour_id, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       mn AS (SELECT min(hour_id) AS m FROM h),
       h2 AS (SELECT event_type, hour_id,
           hour_id - (SELECT m FROM mn) AS rh,
           c + CASE WHEN event_type = 'purchase'
                     AND hour_id - (SELECT m FROM mn) >= 500
               THEN 37 ELSE 0 END AS c2
         FROM h),
       sc AS (SELECT event_type, rh,
           avg(c2) OVER (PARTITION BY event_type) AS mean,
           stddev_pop(c2) OVER (PARTITION BY event_type) AS sd,
           count(*) OVER (PARTITION BY event_type) AS n,
           sum(c2) OVER (PARTITION BY event_type ORDER BY hour_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (PARTITION BY event_type ORDER BY hour_id) AS rn
         FROM h2),
       s2 AS (SELECT event_type, rh, n, sd,
           abs(cum - rn * mean) AS abs_s FROM sc),
       pick AS (SELECT event_type, n,
           CASE WHEN sd = 0 THEN 1.0 ELSE sd END AS sd, rh, abs_s,
           row_number() OVER (PARTITION BY event_type
             ORDER BY abs_s DESC, rh ASC) AS rnk
         FROM s2)
       SELECT event_type, CAST(n AS BIGINT) AS n_hours,
         CAST(rh AS BIGINT) AS shift_rh,
         round(abs_s / (sd * sqrt(n)), 6) AS stat,
         abs_s / (sd * sqrt(n)) > 3.0 AS shifted
       FROM pick WHERE rnk = 1"""
}
