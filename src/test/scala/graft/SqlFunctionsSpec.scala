package graft

import org.apache.spark.sql.functions._

/** The injected `graft_*` SQL functions (GraftExtensions) must resolve from
  * pure SQL and agree exactly with the Column-API kernels.
  */
class SqlFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_* functions resolve in SQL and match the Column API") {
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT doc_id,
           graft_simhash(text) AS sh,
           graft_bpe_count(text) AS bpe,
           size(graft_char_shingles(text, 5)) AS n_sh,
           graft_quality_stats(text)[0] AS n_tok
         FROM sql_docs""")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toMap
    val viaApi = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"),
        graft.functions.KernelExpressions.simhash60(col("text")).as("sh"),
        graft.functions.TextAnalysis.bpeTokenCount(col("text")).as("bpe"),
        size(graft.functions.KernelExpressions.charShingleHashes(col("text"), 5)).as("n_sh"),
        element_at(graft.functions.KernelExpressions.textQualityStats(col("text")), 1).as("n_tok"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toMap
    assert(viaSql == viaApi)
    val winnowSql = spark.sql(
      "SELECT graft_winnow(text, 16, 8) FROM sql_docs ORDER BY doc_id")
      .as[Seq[Long]].collect().toSeq
    val winnowApi = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .orderBy("doc_id")
      .select(graft.functions.KernelExpressions.winnowedFingerprints(col("text"), 16, 8))
      .as[Seq[Long]].collect().toSeq
    assert(winnowSql == winnowApi)
  }

  test("vector SQL functions: cosine, quantization, dot, SRP buckets") {
    val row = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                graft_int8_quantize(array(0.5D, -1.0D)) AS q,
                graft_dot_long(array(2L, 3L), array(4L, 5L)) AS d,
                size(graft_srp_buckets(array(1.0D, 0.0D), 2, 4, 2)) AS nb,
                graft_zvalue(3, 1, 6) AS z""").head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getSeq[Long](1) == Seq(64L, -127L))
    assert(row.getLong(2) == 23L)
    assert(row.getInt(3) == 2)
    assert(row.getLong(4) == 7L)
    // mismatched dimensions fail loudly instead of truncating
    val e = intercept[Exception](
      spark.sql("SELECT graft_dot_long(array(1L), array(1L, 2L))").collect())
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause.getMessage.contains("dimension mismatch"))
  }

  test("graft_sign_bits / graft_hamming: packing and popcount pins") {
    val row = spark.sql(
      """SELECT graft_sign_bits(array(0.5D, -1.0D, 0.0D, 2.0D)) AS sb,
                graft_hamming(array(5L, 1L), array(3L, 1L)) AS hd,
                graft_hamming(graft_sign_bits(array(1.0D, -1.0D)),
                              graft_sign_bits(array(-1.0D, 1.0D))) AS flip""").head()
    // bits: dim0 (+) set, dim1 (-) clear, dim2 (0, strictly-positive test)
    // clear, dim3 (+) set -> 0b1001 = 9, one word for <= 64 dims
    assert(row.getSeq[Long](0) == Seq(9L))
    assert(row.getLong(1) == 2L) // 5^3 = 6 -> two bits
    assert(row.getLong(2) == 2L) // both sign bits flip
    // 65 dims -> two words; dim 64 lands in word 1 bit 0
    val wide = spark.sql(
      "SELECT graft_sign_bits(transform(sequence(0, 64), " +
        "i -> CASE WHEN i = 64 THEN 1.0D ELSE -1.0D END)) AS sb").head()
    assert(wide.getSeq[Long](0) == Seq(0L, 1L))
    // mismatched word counts fail loudly instead of truncating
    val e = intercept[Exception](
      spark.sql("SELECT graft_hamming(array(1L), array(1L, 2L))").collect())
    assert(e.getMessage.contains("length mismatch") ||
      e.getCause.getMessage.contains("length mismatch"))
  }

  test("parameter arguments must be literals, arity is enforced") {
    spark.range(1).createOrReplaceTempView("sql_one")
    val e1 = intercept[Exception](
      spark.sql("SELECT graft_char_shingles('ab', id) FROM sql_one").collect())
    assert(e1.getMessage.contains("integer literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_cosine(array(1.0D)) AS x").collect())
    assert(e2.getMessage.contains("expects 2 arguments"))
  }

  test("graft_topk aggregate matches the window-rank formulation, SQL and API") {
    val events = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select($"user_id", $"event_id", $"value")
    events.createOrReplaceTempView("sql_events")
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaWindow = norm(spark.sql(
      """SELECT user_id, rank, event_id, value FROM (
           SELECT user_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
           FROM sql_events) WHERE rank <= 5""").collect())
    val viaSqlAgg = norm(spark.sql(
      """SELECT user_id, CAST(pos + 1 AS BIGINT) AS rank, e.id AS event_id, e.score AS value
         FROM (SELECT user_id, graft_topk(value, event_id, 5) AS top
               FROM sql_events GROUP BY user_id)
         LATERAL VIEW posexplode(top) AS pos, e""").collect())
    val viaApi = norm(events.groupBy($"user_id")
      .agg(graft.functions.TopKAggregate.topKByScore($"value", $"event_id", 5).as("top"))
      .select($"user_id", posexplode($"top").as(Seq("pos", "e")))
      .select($"user_id", ($"pos" + 1).cast("long"), $"e.id", $"e.score")
      .collect())
    assert(viaSqlAgg == viaWindow)
    assert(viaApi == viaWindow)
  }

  test("media SQL functions parse planted headers") {
    // PNG 3x2: signature + IHDR length/tag + width/height big-endian
    val png = "89504E470D0A1A0A0000000D49484452" + "00000003" + "00000002"
    val out = spark.sql(
      s"SELECT graft_image_dims(unhex('$png')) AS d").head().getLong(0)
    assert(out == ((3L << 32) | 2L))
    // minimal BMFF: ftyp(16) + moov(36) { mvhd(28) v0 ts=1000 dur=7 }
    val mp4 = "000000106674797069736F6D00000000" +
      "00000024" + "6D6F6F76" +
      "0000001C" + "6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00000007"
    val m = spark.sql(
      s"SELECT graft_mp4_meta(unhex('$mp4')) AS m").head().getLong(0)
    assert(m == ((1000L << 24) | 7L))
    // minimal AVI: RIFF/AVI + LIST hdrl { avih: us=40000 frames=7 320x240 }
    val avi = "52494646" + "50000000" + "41564920" +
      "4C495354" + "44000000" + "6864726C" +
      "61766968" + "38000000" +
      "409C0000" + "00000000" + "00000000" + "00000000" +
      "07000000" + "00000000" + "01000000" + "00000000" +
      "40010000" + "F0000000" + "00000000" * 4
    val a = spark.sql(
      s"SELECT graft_avi_meta(unhex('$avi')) AS a").head().getLong(0)
    assert(a == ((320L << 48) | (240L << 32) | (7L << 16) | 40000L))
  }

  test("graft_jaro_winkler matches the published vectors and DuckDB's variant") {
    def jw(a: String, b: String): Double =
      spark.sql(s"SELECT graft_jaro_winkler('$a', '$b') AS j").head().getDouble(0)
    // classic Winkler vectors
    assert(math.abs(jw("martha", "marhta") - 0.9611111111) < 1e-9)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-9)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333) < 1e-9)
    // boost gate: jaro <= 0.7 gets NO prefix bonus (DuckDB semantics)
    assert(math.abs(jw("abcdef", "abzzzz") - 5.0 / 9.0) < 1e-9)
    assert(math.abs(jw("ax", "ay") - 2.0 / 3.0) < 1e-9)
    // identity / empty / no-match edges
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("a", "b") == 0.0)
    assert(jw("xy", "yx") == 0.0) // window 0: adjacent swaps don't match
  }

  test("graft_dhash60: kernel matches the fold definition; short input is -1") {
    val inc = (0 until 61).map(i => f"$i%02x").mkString // ascending bytes
    val dec = (0 until 61).map(i => f"${100 - i}%02x").mkString
    val out = spark.sql(
      s"""SELECT graft_dhash60(unhex('$inc')) AS a,
                 graft_dhash60(unhex('$dec')) AS b,
                 graft_dhash60(unhex('${inc.take(120)}')) AS c""").head()
    assert(out.getLong(0) == 0L)
    assert(out.getLong(1) == (1L << 60) - 1)
    assert(out.getLong(2) == -1L)
  }
  test("EVERY registered graft_* function executes through spark.sql (drift sweep)") {
    // Auto-enumerated from the registration list: registering a new SQL
    // function without adding a literal-args vector here FAILS this test,
    // and an arity/signature drift in GraftExtensions fails the execution
    // below — the front door can't drift silently either way.
    val hex61 = (0 until 61).map(i => f"$i%02x").mkString
    val png = "89504E470D0A1A0A0000000D494844520000000300000002"
    val jpeg = "FFD8" + "FFC0" + "0011" + "08" + "0002" + "0003" + "03" // SOI+SOF0 h=2 w=3
    val wav = "52494646" + "24000000" + "57415645" + // RIFF size WAVE
      "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" + // fmt, pcm, 2ch, 44100
      "10B10200" + "0400" + "1000" // byterate, align, 16 bits
    val mp4 = "000000106674797069736F6D00000000" + "000000246D6F6F76" +
      "0000001C6D766864" + "00000000" + "00000000" + "00000000" +
      "000003E8" + "00000007"
    val avi = "52494646" + "50000000" + "41564920" +
      "4C495354" + "44000000" + "6864726C" + "61766968" + "38000000" +
      "409C0000" + "00000000" * 3 + "07000000" + "00000000" + "01000000" +
      "00000000" + "40010000" + "F0000000" + "00000000" * 4
    val argsFor = Map(
      "graft_cosine" -> "array(1.0D, 2.0D), array(2.0D, 1.0D)",
      "graft_int8_quantize" -> "array(0.5D, -1.0D)",
      "graft_vec_dot" -> "array(1.0D, 2.0D), array(3.0D, 4.0D)",
      "graft_dhash60" -> s"unhex('$hex61')",
      "graft_jaro_winkler" -> "'martha', 'marhta'",
      "graft_dot_long" -> "array(2L, 3L), array(4L, 5L)",
      "graft_sign_bits" -> "array(0.5D, -1.0D, 0.0D, 2.0D)",
      "graft_hamming" -> "array(5L), array(3L)",
      "graft_minhash_sig" -> "'the quick brown fox jumps', 5, 16",
      "graft_simhash" -> "'the quick brown fox'",
      "graft_char_shingles" -> "'abcdefgh', 5",
      "graft_word_shingles" -> "'a b c d e', 3",
      "graft_char_ngram_hashes" -> "'abcdef', 3",
      "graft_sorted_intersect" -> "array(1L, 2L, 5L), array(2L, 3L, 5L)",
      "graft_quality_stats" -> "'the quick brown fox.'",
      "graft_ngram_stats" -> "'a b a b a', 2",
      "graft_bpe_count" -> "'the quick brown fox'",
      "graft_image_dims" -> s"unhex('$png')",
      "graft_jpeg_dims" -> s"unhex('$jpeg')",
      "graft_wav_format" -> s"unhex('$wav')",
      "graft_mp4_meta" -> s"unhex('$mp4')",
      "graft_avi_meta" -> s"unhex('$avi')",
      "graft_zvalue" -> "3, 1, 6",
      "graft_winnow" -> "'the quick brown fox jumps over the lazy dog', 8, 4",
      "graft_topk" -> "1.5D, 7L, 3",
      "graft_srp_buckets" -> "array(1.0D, 0.0D), 2, 4, 2")
    val registered = GraftFunctions.all.map(_._1.funcName)
    val missing = registered.filterNot(argsFor.contains)
    assert(missing.isEmpty,
      s"no sweep vector for: ${missing.mkString(", ")} — add literal args " +
        "to SqlFunctionsSpec's drift sweep when registering a SQL function")
    assert((argsFor.keySet -- registered).isEmpty,
      s"sweep vectors for unregistered functions: ${argsFor.keySet -- registered}")
    for (name <- registered) {
      // executes and returns a value on a well-formed vector...
      val row = spark.sql(s"SELECT $name(${argsFor(name)}) AS r").head()
      assert(!row.isNullAt(0), s"$name returned NULL on its sweep vector")
      // ...and the arity contract is enforced (zero args is never valid)
      val e = intercept[Exception](spark.sql(s"SELECT $name()").collect())
      assert(e.getMessage.contains("argument"),
        s"$name arity error lost its actionable message: ${e.getMessage.take(200)}")
    }
  }

  test("vector kernels reject arrays of other element types at analysis") {
    val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val viaColumn = intercept[org.apache.spark.sql.AnalysisException](
      ints.select(graft.functions.KernelExpressions.vecCosine(col("a"), col("b"))))
    assert(viaColumn.getMessage.contains("must be array<float|double>"), viaColumn.getMessage)
    val viaSql = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_vec_dot(array(1, 2), array(3, 4))"))
    assert(viaSql.getMessage.contains("must be array<float|double>"), viaSql.getMessage)
  }

  test("every public Kernels method is named by exactly one kernel row, with its arity") {
    import graft.functions.{KernelExpressions, Kernels}
    val methods = Kernels.getClass.getDeclaredMethods.toSeq.filter(m =>
      java.lang.reflect.Modifier.isPublic(m.getModifiers) && m.getParameterCount > 0 &&
        !m.getName.contains("$"))
    val rows = KernelExpressions.all
    assert(rows.map(_.method).sorted == methods.map(_.getName).sorted,
      s"methods without a row: ${methods.map(_.getName).diff(rows.map(_.method))}; " +
        s"rows without a method: ${rows.map(_.method).diff(methods.map(_.getName))}")
    for (r <- rows)
      assert(methods.find(_.getName == r.method).get.getParameterCount == r.arity,
        s"${r.name}: row arity ${r.arity} differs from Kernels.${r.method}")
    assert(rows.map(_.name).distinct.size == rows.size)
    val sqlNames = rows.flatMap(_.sql.map(_.name))
    assert(sqlNames.distinct.size == sqlNames.size, sqlNames.diff(sqlNames.distinct))
    assert(GraftFunctions.all.map(_._1.funcName).sorted == (sqlNames :+ "graft_topk").sorted)
  }

  test("tokenCount pins the empty-filtered whitespace definition on adversarial text") {
    // The oracle-side canonical form is
    //   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
    // (see tools/parity_check.py self-test); these vectors are the inputs
    // where the old trim()-based oracle diverged (trailing \n/\t, empty
    // text, 0x20 padding). Both engines must agree on every one.
    val vectors = Seq(
      ("a b\nc\n", 3L), ("", 0L), (" x ", 1L), ("\t\n", 0L), ("a  b", 2L),
      ("\nleading", 1L), ("mixed \t ws\n\n tokens", 3L))
    val df = vectors.toDF("text", "want")
    val got = df.select(col("want"),
      graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("got"))
      .collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(0), r.toString))
  }

  test("kernel tokenization matches TextAnalysis.tokens on adversarial whitespace") {
    // Java split keeps a leading "" for text starting with \t/\n; the
    // kernels drop it (Kernels.tokenize), so shingle/ngram/simhash counts
    // agree with the empty-filtered oracle form on any whitespace shape
    val df = Seq("\nfoo bar baz", "a b\nc\n", "\t\n", " x ").toDF("text")
    val out = df.select(
      graft.functions.TextAnalysis.tokenCount(col("text")).as("n_expr"),
      size(graft.functions.KernelExpressions.wordShingleHashes(col("text"), 3)).as("n_sh3"),
      element_at(graft.functions.KernelExpressions.wordNgramStats(col("text"), 1), 1).as("n_win1"),
      graft.functions.KernelExpressions.simhash60(col("text")).as("sh"))
      .collect()
    // 1-gram window count == canonical token count, always
    out.foreach(r => assert(r.getLong(2) == r.getInt(0).toLong, r.toString))
    // "\nfoo bar baz": 3 tokens -> exactly 1 distinct trigram (no phantom
    // "" token creating a second window)
    assert(out(0).getInt(0) == 3 && out(0).getInt(1) == 1, out(0).toString)
    // whitespace-only text: zero tokens, zero windows, zero signature
    assert(out(2).getInt(0) == 0 && out(2).getLong(3) == 0L, out(2).toString)
  }
}
