package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Scalar kernels behind the rows of [[KernelExpressions]], one row per
  * public method. Each is a tight JIT-compilable loop invoked once
  * per row from generated code — replacing thousand-term unrolled expression
  * trees (which blow janino's 64 KB method limit and fall back to
  * interpreted eval) and interpreted higher-order-function folds.
  *
  * CROSS-ENGINE CONTRACT: every kernel reproduces, bit for bit, the result
  * of the pure-expression formulation that the DuckDB oracles replicate:
  *  - integer hashing is 64-bit arithmetic with all intermediates < 2^63;
  *  - double folds run in ascending element order with a 0.0 init (equal to
  *    a first-element-init fold, which DuckDB's list_reduce uses);
  *  - text semantics match Spark built-ins: lower = UTF8String.toLowerCase,
  *    tokens = trim + java-regex split on \s+, characters = code points.
  */
object Kernels {

  // ------------------------------------------------------------- vectors

  private def getD(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine similarity; 0.0 when either norm is zero. Fold order matches
    * VectorOps.cosine / the oracle's list_reduce.
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_cosine: dimension mismatch ($n vs ${b.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getD(a, i, aFloat); val y = getD(b, i, bFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val sna = math.sqrt(na); val snb = math.sqrt(nb)
    if (sna == 0.0 || snb == 0.0) 0.0 else dot / (sna * snb)
  }

  /** Per-table SRP bucket keys: element t = t * 2^bits + bucket_t, where
    * bucket_t bit b = [dot(v, plane_{t*bits+b}) >= 0]. `planes` is the flat
    * (numTables*bits) × dim ±1 matrix. One pass per plane, ascending-d fold.
    */
  def srpBucketKeys(v: ArrayData, planes: Array[Double], numTables: Int,
      bits: Int, vFloat: Boolean): ArrayData = {
    val dim = planes.length / (numTables * bits)
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val p = t * bits + b
        var dot = 0.0
        var d = 0
        while (d < n) { dot += getD(v, d, vFloat) * planes(p * dim + d); d += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = (t.toLong << bits) | bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Symmetric per-vector int8 quantization: scale = 127 / max|x_i|,
    * q_i = floor(x_i * scale + 0.5) ∈ [-127, 127]; an all-zero vector
    * quantizes to zeros. floor(x + 0.5) (not rint) so the oracle's
    * `floor(x * scale + 0.5)` replays it bit for bit; float inputs widen
    * to double exactly, so both engines run identical double arithmetic.
    */
  def int8Quantize(v: ArrayData, vFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(getD(v, i, vFloat)); if (a > maxAbs) maxAbs = a
      i += 1
    }
    if (maxAbs > 0.0) {
      val scale = 127.0 / maxAbs
      i = 0
      while (i < n) {
        out(i) = math.floor(getD(v, i, vFloat) * scale + 0.5).toLong
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** 1-bit sign quantization: bit (i mod 64) of word (i div 64) is set iff
    * x_i > 0 (zero and negatives are 0 bits). ceil(n/64) words, so a 64-dim
    * embedding packs to exactly one long — a 256× byte reduction vs float64
    * for the coarse scan. Strictly-positive test (not >= 0) so the oracle's
    * per-position `x > 0` comparison replays the packing decision exactly.
    */
  def signBits(v: ArrayData, vFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      if (getD(v, i, vFloat) > 0.0) out(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hamming distance of two packed bit arrays: Σ popcount(a_i xor b_i).
    * Exact integer arithmetic — no cross-engine rounding concerns.
    * Mismatched lengths are an error, matching [[dotLong]]'s strictness —
    * but note the guard is WORD-granular: the original dimensionality is
    * unrecoverable from ceil(n/64) packed words, so two vectors of
    * different true dims that pack to the same word count (65 vs 128 dims
    * → 2 words each) compare without error. [[signBits]] zero-fills the
    * tail bits, so such a comparison is still a well-defined distance
    * over the padded 64·words-bit space; callers needing strict dim
    * equality must compare like-built indexes (the ANN operators do —
    * both sides pack from the same embedding column).
    */
  def hammingLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_hamming: length mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1 }
    acc
  }

  /** Language-ID pick over a pre-tokenized array: score_i = #tokens that
    * are members of profile i's marker set; the winner is the max
    * (score, lang) pair with ties resolving to the lexicographically LATER
    * language code — exactly array_max over (score, lang) structs, which
    * is what the DuckDB oracle's list_sort[-1] replays. Marker sets arrive
    * as a flat array with per-profile offsets (codegen reference objects).
    */
  def langIdPick(toks: ArrayData, markers: Array[UTF8String],
      offsets: Array[Int], langs: Array[UTF8String]): UTF8String = {
    val nLang = langs.length
    var bestScore = -1
    var best: UTF8String = null
    var l = 0
    while (l < nLang) {
      val from = offsets(l); val until = offsets(l + 1)
      var score = 0
      var i = 0
      val n = toks.numElements()
      while (i < n) {
        val t = toks.getUTF8String(i)
        if (t != null) {
          var m = from
          var hit = false
          while (m < until && !hit) { if (markers(m).equals(t)) hit = true; m += 1 }
          if (hit) score += 1
        }
        i += 1
      }
      if (score > bestScore ||
          (score == bestScore && (best == null || langs(l).compareTo(best) > 0))) {
        bestScore = score; best = langs(l)
      }
      l += 1
    }
    best
  }

  /** Double dot product of two numeric arrays (ascending-index fold, so
    * doubles are bit-identical to a sequential list_sum/zip formulation in
    * the oracle engine). Mismatched dimensions are an error, matching
    * [[dotLong]]'s strictness.
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_vec_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += getD(a, i, aFloat) * getD(b, i, bFloat); i += 1 }
    acc
  }

  /** Integer dot product of two long arrays (quantized similarity scoring —
    * exact 64-bit arithmetic, no rounding concerns cross-engine). Mismatched
    * dimensions are an error, not a truncation: a plausible-but-partial
    * score is worse than a failure.
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot_long: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** PQ encode: per contiguous subspace, the index of the L2-nearest
    * centroid of that subspace's codebook (ties -> lowest index — the same
    * argmin order as the sorted-struct formulation the DuckDB oracle
    * replays). `books` is the flat numSub x ksub x dsub centroid array;
    * per-centroid distance is a left fold of squared diffs from 0.0, so
    * the doubles are bit-identical to the expression-tree version.
    */
  def pqEncode(v: ArrayData, books: Array[Double], numSub: Int, ksub: Int,
      vFloat: Boolean): ArrayData = {
    val dsub = v.numElements() / numSub
    val out = new Array[Int](numSub)
    var m = 0
    while (m < numSub) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < ksub) {
        val base = (m * ksub + j) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = getD(v, m * dsub + i, vFloat) - books(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(m) = best
      m += 1
    }
    new GenericArrayData(out)
  }

  /** ADC: sum over subspaces, in subspace order, of the squared L2 from the
    * query subvector to the centroid its code names. 0.0 + t == t for the
    * non-negative per-subspace terms, so the result is bit-identical to the
    * explicit t0 + t1 + ... column sum the oracle replays.
    */
  def pqAdc(codes: ArrayData, q: ArrayData, books: Array[Double], numSub: Int,
      ksub: Int, qFloat: Boolean): Double = {
    val dsub = q.numElements() / numSub
    if (codes.numElements() < numSub)
      throw new IllegalArgumentException(
        s"graft_pq_adc: ${codes.numElements()} codes for $numSub subspaces")
    var acc = 0.0
    var m = 0
    while (m < numSub) {
      val code = codes.getInt(m)
      // a code outside the codebook means codes/books come from DIFFERENT
      // trainings — reading a neighboring subspace's centroid would return
      // a plausible-but-wrong distance
      if (code < 0 || code >= ksub)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $code out of [0, $ksub) — codes/codebooks from different trainings?")
      val base = (m * ksub + code) * dsub
      var d = 0.0
      var i = 0
      while (i < dsub) {
        val diff = getD(q, m * dsub + i, qFloat) - books(base + i)
        d += diff * diff
        i += 1
      }
      acc += d
      m += 1
    }
    acc
  }

  // ------------------------------------------------------------- hashing

  /** Polynomial rolling hash of a code-point range: fold of
    * acc = (acc*base + cp) mod m, init 0. Matches Dedup.polyHash /
    * ascii()-based oracle SQL (ascii = code point of the char).
    */
  private def polyHashRange(cps: Array[Int], from: Int, until: Int,
      base: Long, mod: Long): Long = {
    var acc = 0L
    var i = from
    while (i < until) { acc = (acc * base + cps(i)) % mod; i += 1 }
    acc
  }

  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = cp; j += 1; i += Character.charCount(cp)
    }
    out
  }

  val MinhashP = 1000000007L
  private val Base1 = 31L
  private val Mod1 = 1000000007L
  private val Base2 = 131L
  private val Mod2 = 998244353L

  /** MinHash signature over char `n`-gram shingles of lower(text): element k
    * = min over windows of (a_k * ph(window) + b_k) mod P, sentinel P for
    * texts shorter than n. Duplicate windows cannot change a min, so no
    * distinct step is needed to match the distinct-shingle formulation.
    */
  def minhashSignature(text: UTF8String, n: Int, coeffA: Array[Long],
      coeffB: Array[Long]): ArrayData = {
    val numHashes = coeffA.length
    val sig = Array.fill(numHashes)(MinhashP)
    val cps = codePoints(text.toLowerCase.toString)
    val windows = cps.length - (n - 1)
    var w = 0
    while (w < windows) {
      val ph = polyHashRange(cps, w, w + n, Base1, Mod1)
      var k = 0
      while (k < numHashes) {
        val h = (coeffA(k) * ph + coeffB(k)) % MinhashP
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      w += 1
    }
    new GenericArrayData(sig)
  }

  /** Sort + dedup in place; returns the distinct prefix length. */
  private def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, n)
    var w = 0
    var i = 0
    while (i < n) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(a, 0, w)
  }

  /** Distinct poly-hashes of the char n-gram shingles of lower(text) —
    * the long-typed replacement for string shingle arrays: identical set
    * semantics (same shingle → same hash; the 2^-30 collision term merges
    * a pair of shingles identically in every engine), ~10× smaller on the
    * shuffle and ~10× cheaper to intersect.
    */
  def charShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val cps = codePoints(text.toLowerCase.toString)
    val windows = math.max(cps.length - (n - 1), 0)
    val hs = new Array[Long](windows)
    var w = 0
    while (w < windows) { hs(w) = polyHashRange(cps, w, w + n, Base1, Mod1); w += 1 }
    new GenericArrayData(sortedDistinct(hs, windows))
  }

  /** Distinct poly-hashes of word n-gram shingles (tokens of trim(text),
    * NOT lowered — mirrors Dedup.wordShingles; shingle string = tokens
    * joined with a single space before hashing).
    */
  def wordShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val trimmed = sparkTrim(text.toString)
    if (trimmed.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val toks = tokenize(trimmed)
    val windows = math.max(toks.length - (n - 1), 0)
    val hs = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val sb = new java.lang.StringBuilder(toks(w))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(w + j)); j += 1 }
      val cps = codePoints(sb.toString)
      hs(w) = polyHashRange(cps, 0, cps.length, Base1, Mod1)
      w += 1
    }
    new GenericArrayData(sortedDistinct(hs, windows))
  }

  private lazy val StopwordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.functions.TextAnalysis.defaultStopwords.foreach(s.add)
    s
  }

  /** [nTokens, nStopwords, nPunctChars, nChars] of text in ONE pass — the
    * quality-gate basis. The expression formulation re-splits the text for
    * the token count and again for the stopword ratio, plus a regex pass
    * for punctuation; every count here matches those expressions exactly
    * (sparkTrim + \\s+ tokens, the fixed punctuation class, numChars as
    * Spark's length()).
    */
  def textQualityStats(text: UTF8String): ArrayData = {
    val s = text.toString
    val nChars = text.numChars().toLong
    var punct = 0L
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '.' || ch == ',' || ch == '!' || ch == '?' || ch == ';' ||
          ch == ':' || ch == '\'' || ch == '"' || ch == '(' || ch == ')' ||
          ch == '[' || ch == ']' || ch == '{' || ch == '}' || ch == '-') punct += 1
      i += 1
    }
    var nTok = 0L
    var nStop = 0L
    val trimmed = sparkTrim(s)
    if (trimmed.nonEmpty) {
      // count NON-EMPTY tokens only: Java split keeps a leading empty for
      // leading non-space whitespace — same clean definition as
      // TextAnalysis.tokens (non-empty runs of non-whitespace)
      val toks = tokenize(trimmed)
      var t = 0
      while (t < toks.length) {
        if (toks(t).nonEmpty) {
          nTok += 1
          if (StopwordSet.contains(toks(t))) nStop += 1
        }
        t += 1
      }
    }
    new GenericArrayData(Array(nTok, nStop, punct, nChars))
  }

  /** Word n-gram STRINGS (every occurrence, in order) of trim(text): one
    * split + one StringBuilder pass. The pure-expression formulation
    * (transform over sequence with slice/concat_ws) re-evaluates the token
    * split per window inside the lambda — O(tokens²) per document; this is
    * the vocabulary-mining dual of [[wordShingleHashes]] for consumers that
    * need the surface form, not the hash.
    */
  def wordNgramStrings(text: UTF8String, n: Int): ArrayData = {
    val trimmed = sparkTrim(text.toString)
    if (trimmed.isEmpty) return new GenericArrayData(Array.empty[UTF8String])
    val toks = tokenize(trimmed)
    val windows = math.max(toks.length - (n - 1), 0)
    val out = new Array[AnyRef](windows)
    var w = 0
    while (w < windows) {
      val sb = new java.lang.StringBuilder(toks(w))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(w + j)); j += 1 }
      out(w) = UTF8String.fromString(sb.toString)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection size of two SORTED distinct long arrays (the shape
    * char/wordShingleHashes emit): one merge scan, no allocation — the
    * per-candidate-pair verification kernel.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Canonical whitespace tokens of a sparkTrim'd string: the NON-EMPTY
    * maximal runs of non-whitespace — the single token definition
    * [[graft.functions.TextAnalysis.tokens]], every kernel, and every
    * oracle's `list_filter(string_split_regex(text,'\s+'), x -> x <> '')`
    * share. Java's split keeps a leading "" when the text starts with
    * \t/\n (sparkTrim strips 0x20 only); dropping empties here keeps the
    * kernel-backed operators identical to the expression-backed ones on
    * adversarial whitespace instead of growing a phantom token.
    */
  private def tokenize(trimmed: String): Array[String] = {
    val raw = trimmed.split("\\s+")
    var n = 0; var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) n += 1; i += 1 }
    if (n == raw.length) raw
    else {
      val out = new Array[String](n); var j = 0; i = 0
      while (i < raw.length) { if (!raw(i).isEmpty) { out(j) = raw(i); j += 1 }; i += 1 }
      out
    }
  }

  /** Spark's trim() strips only ASCII space (0x20), unlike Java's
    * String.trim (≤ 0x20) — replicated exactly for oracle parity.
    */
  private def sparkTrim(s: String): String = {
    var from = 0; var until = s.length
    while (from < until && s.charAt(from) == ' ') from += 1
    while (until > from && s.charAt(until - 1) == ' ') until -= 1
    s.substring(from, until)
  }

  /** Occurrence statistics of word n-grams of trim(text) (occurrences, NOT
    * distinct): [total windows, distinct n-grams, max occurrences of any one
    * n-gram]. The Gopher-style repetition quality signals — top-n-gram
    * fraction and duplicate-n-gram fraction — are ratios of these three
    * integers, so the cross-engine contract stays all-integer. Tokenization
    * and hashing identical to [[wordShingleHashes]] (trim + \s+ split, space
    * join, 30-bit poly hash).
    */
  def wordNgramStats(text: UTF8String, n: Int): ArrayData = {
    val trimmed = sparkTrim(text.toString)
    if (trimmed.isEmpty) return new GenericArrayData(Array(0L, 0L, 0L))
    val toks = tokenize(trimmed)
    val windows = math.max(toks.length - (n - 1), 0)
    val hs = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val sb = new java.lang.StringBuilder(toks(w))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(w + j)); j += 1 }
      val cps = codePoints(sb.toString)
      hs(w) = polyHashRange(cps, 0, cps.length, Base1, Mod1)
      w += 1
    }
    java.util.Arrays.sort(hs)
    var distinct = 0L; var maxRun = 0L; var run = 0L
    var i = 0
    while (i < windows) {
      if (i == 0 || hs(i) != hs(i - 1)) { distinct += 1; run = 1L } else run += 1
      if (run > maxRun) maxRun = run
      i += 1
    }
    new GenericArrayData(Array(windows.toLong, distinct, maxRun))
  }

  /** BPE token count of the whole text: words are trim + `\s+` split (same
    * as [[wordShingleHashes]], empty words skipped); a word starts as its
    * code-point symbols and each merge rank runs ONE left-to-right
    * non-overlapping scan over the symbol array (true BPE application —
    * [[Bpe]] documents the contract and the DuckDB recursive-CTE replay).
    * The word's count is its final symbol count; empty text counts 0.
    */
  def bpeTokenCount(text: UTF8String, lefts: Array[String], rights: Array[String]): Long = {
    val trimmed = sparkTrim(text.toString)
    if (trimmed.isEmpty) return 0L
    val words = trimmed.split("\\s+")
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (!w.isEmpty) {
        val syms = new Array[String](w.length)
        var n = 0
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          syms(n) = new String(Character.toChars(cp))
          n += 1
          i += Character.charCount(cp)
        }
        var m = 0
        while (m < lefts.length && n > 1) {
          val a = lefts(m); val b = rights(m)
          var in = 0; var out = 0
          while (in < n) {
            if (in + 1 < n && syms(in) == a && syms(in + 1) == b) {
              syms(out) = a + b; in += 2
            } else { syms(out) = syms(in); in += 1 }
            out += 1
          }
          n = out
          m += 1
        }
        total += n
      }
      wi += 1
    }
    total
  }

  // ----------------------------------------------------------- multimodal

  /** WAV `fmt ` metadata via the RIFF chunk walk: a 12-byte RIFF/WAVE
    * header, then (4-byte id, LE32 size, body) chunks with word alignment.
    * The fmt body carries [audioFormat u16][channels u16][sampleRate u32]
    * [byteRate u32][blockAlign u16][bitsPerSample u16], all little-endian.
    * Returns `(sampleRate << 16) | (channels << 8) | bitsPerSample`, or -1
    * when the buffer is not RIFF/WAVE, a chunk size is implausible, or no
    * fmt chunk appears. Bounded: hops chunk headers only, never scans
    * audio samples.
    */
  def wavFormat(bytes: Array[Byte]): Long = {
    val n = bytes.length
    @inline def u8(i: Int): Int = bytes(i) & 0xFF
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (n < 12) return -1L
    if (u8(0) != 'R' || u8(1) != 'I' || u8(2) != 'F' || u8(3) != 'F') return -1L
    if (u8(8) != 'W' || u8(9) != 'A' || u8(10) != 'V' || u8(11) != 'E') return -1L
    // Long cursor: for ~2 GB payloads p + 8 + size can exceed Int range; Int
    // arithmetic would wrap negative while the loop guard still passes.
    var p = 12L
    while (p + 8 <= n) {
      val pi = p.toInt
      val size = le32(pi + 4)
      if (size < 0L || size > n.toLong) return -1L
      if (u8(pi) == 'f' && u8(pi + 1) == 'm' && u8(pi + 2) == 't' && u8(pi + 3) == ' ') {
        if (size < 16L || p + 24 > n) return -1L
        val channels = le16(pi + 10)
        val sampleRate = le32(pi + 12)
        val bits = le16(pi + 22)
        // channels/bits occupy 8-bit slots of the packed long; a malformed
        // fmt body with values > 255 must yield the -1 sentinel, not bleed
        // into neighboring fields.
        if (channels > 0xFF || bits > 0xFF) return -1L
        return (sampleRate << 16) | (channels.toLong << 8) | bits.toLong
      }
      p += 8L + size + (size & 1L) // chunks are word-aligned
    }
    -1L
  }

  /** MP4/ISO-BMFF movie-header metadata via the box walk (ISO 14496-12
    * §4.2): top-level boxes are (u32 BE size, 4-byte type, body); the file
    * must open with `ftyp`, and `moov`'s children include `mvhd` whose v0
    * body is [version u8][flags u24][ctime u32][mtime u32][timescale u32]
    * [duration u32]. Returns `(timescale << 24) | duration`, or -1 when
    * the buffer is not BMFF, a box size is implausible, mvhd is missing /
    * not v0, or duration overflows its 24-bit slot. Bounded: hops box
    * headers only, never scans media samples.
    */
  def mp4Meta(bytes: Array[Byte]): Long = {
    val n = bytes.length
    @inline def u8(i: Int): Int = bytes(i) & 0xFF
    @inline def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    @inline def typ(i: Int): Long = be32(i + 4)
    val FTYP = 0x66747970L; val MOOV = 0x6D6F6F76L; val MVHD = 0x6D766864L
    if (n < 8 || typ(0) != FTYP) return -1L
    var p = 0L // Long cursor — see wavFormat's 2 GB note
    while (p + 8 <= n) {
      val pi = p.toInt
      val size = be32(pi)
      if (size < 8L || p + size > n) return -1L
      if (typ(pi) == MOOV) {
        var q = p + 8
        while (q + 8 <= p + size) {
          val qi = q.toInt
          val s2 = be32(qi)
          if (s2 < 8L || q + s2 > p + size) return -1L
          if (typ(qi) == MVHD) {
            if (s2 < 28L || u8(qi + 8) != 0) return -1L
            val timescale = be32(qi + 20)
            val duration = be32(qi + 24)
            if (duration >= (1L << 24)) return -1L
            return (timescale << 24) | duration
          }
          q += s2
        }
        return -1L
      }
      p += size
    }
    -1L
  }

  /** AVI main-header metadata via the RIFF list walk (OpenDML / VfW AVI
    * layout): a 12-byte RIFF/AVI header, then word-aligned (4-byte id,
    * LE32 size, body) chunks; the `LIST` chunk whose list-type is `hdrl`
    * contains the `avih` chunk, whose MainAVIHeader body carries
    * [µsPerFrame u32 @0][maxBytesPerSec @4][padding @8][flags @12]
    * [totalFrames @16][initialFrames @20][streams @24][suggestedBuf @28]
    * [width @32][height @36], all little-endian. Returns
    * `(width << 48) | (height << 32) | (totalFrames << 16) | µsPerFrame`,
    * or -1 when the buffer is not RIFF/AVI, a chunk size is implausible,
    * no avih appears, or a field overflows its 16-bit slot (width
    * additionally capped at 0x7FFF so the packed long stays non-negative
    * — the shared `packed >= 0` null convention). Bounded: hops chunk
    * headers only, never scans frame data; tolerates the JUNK padding
    * chunks real muxers emit before `hdrl`.
    */
  def aviMeta(bytes: Array[Byte]): Long = {
    val n = bytes.length
    @inline def u8(i: Int): Int = bytes(i) & 0xFF
    @inline def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    @inline def is4(i: Int, a: Char, b: Char, c: Char, d: Char): Boolean =
      u8(i) == a && u8(i + 1) == b && u8(i + 2) == c && u8(i + 3) == d
    if (n < 12) return -1L
    if (!is4(0, 'R', 'I', 'F', 'F') || !is4(8, 'A', 'V', 'I', ' ')) return -1L
    var p = 12L // Long cursor — see wavFormat's 2 GB note
    while (p + 8 <= n) {
      val pi = p.toInt
      val size = le32(pi + 4)
      if (size < 0L || p + 8 + size > n) return -1L
      if (is4(pi, 'L', 'I', 'S', 'T') && size >= 4 && is4(pi + 8, 'h', 'd', 'r', 'l')) {
        var q = p + 12
        val end = p + 8 + size
        while (q + 8 <= end) {
          val qi = q.toInt
          val s2 = le32(qi + 4)
          if (s2 < 0L || q + 8 + s2 > end) return -1L
          if (is4(qi, 'a', 'v', 'i', 'h')) {
            if (s2 < 40L) return -1L // body must reach dwHeight @36..39
            val usPerFrame = le32(qi + 8)
            val frames = le32(qi + 24)
            val width = le32(qi + 40)
            val height = le32(qi + 44)
            if (width > 0x7FFFL || height > 0xFFFFL ||
              frames > 0xFFFFL || usPerFrame > 0xFFFFL) return -1L
            return (width << 48) | (height << 32) | (frames << 16) | usPerFrame
          }
          q += 8L + s2 + (s2 & 1L)
        }
        return -1L
      }
      p += 8L + size + (size & 1L)
    }
    -1L
  }

  /** JPEG frame dimensions via the marker-segment walk (ITU T.81 §B): after
    * the FFD8 SOI, each segment is 0xFF, a type byte, then a 2-byte
    * big-endian length (counting itself) — except standalone markers
    * (TEM 0x01, RST0-7 0xD0-D7) and fill bytes (any run of 0xFF pads a
    * marker). The first frame header (SOF0-SOF15 minus DHT 0xC4, JPG 0xC8,
    * DAC 0xCC) carries [precision u8][height u16][width u16]. Returns
    * `(width << 16) | height` (both are u16 by spec), or -1 when no SOF
    * appears before SOS/EOI/end-of-buffer or the stream desyncs. Bounded:
    * walks header segments only, never the entropy-coded body.
    */
  def jpegDims(bytes: Array[Byte]): Long = {
    val n = bytes.length.toLong
    @inline def u8(i: Long): Int = bytes(i.toInt) & 0xFF
    if (n < 4 || u8(0) != 0xFF || u8(1) != 0xD8) return -1L
    // Long cursor: p + 2 + len on a ~2 GB payload can exceed Int range
    // (same hazard wavFormat/mp4Meta guard against) — an Int wrap would
    // pass the bounds check and crash instead of returning the sentinel
    var p = 2L // byte offset of the next marker's 0xFF
    while (p + 1 < n) {
      if (u8(p) != 0xFF) return -1L // desync: expected a marker
      // fill bytes: skip extra 0xFF padding before the marker type
      while (p + 1 < n && u8(p + 1) == 0xFF) p += 1
      if (p + 1 >= n) return -1L
      val m = u8(p + 1)
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        p += 2 // standalone marker: no length field
      } else if (m == 0xD9 || m == 0xDA) {
        return -1L // EOI or SOS reached without a frame header
      } else {
        if (p + 3 >= n) return -1L
        val len = (u8(p + 2) << 8) | u8(p + 3)
        if (len < 2) return -1L
        if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          if (p + 8 >= n || len < 7) return -1L
          val h = (u8(p + 5) << 8) | u8(p + 6)
          val w = (u8(p + 7) << 8) | u8(p + 8)
          return (w.toLong << 16) | h.toLong
        }
        p += 2 + len
      }
    }
    -1L
  }

  /** Poly hashes of EVERY char n-gram occurrence of lower(text), in order
    * (NOT distinct — the language-model dual of [[charShingleHashes]], whose
    * distinct/sorted output serves set similarity).
    */
  def charNgramOccHashes(text: UTF8String, n: Int): ArrayData = {
    val cps = codePoints(text.toLowerCase.toString)
    val windows = math.max(cps.length - (n - 1), 0)
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      out(w) = polyHashRange(cps, w, w + n, Base1, Mod1)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** MOSS-style winnowed fingerprints of lower(text): the minimum k-gram
    * hash of every w-window of consecutive k-gram occurrence hashes,
    * distinct + sorted. Texts with fewer than w k-grams (but at least one)
    * contribute one whole-sequence window; shorter than k chars → empty.
    * Window MINIMA are position-free values, so the distinct SET is
    * insensitive to the winnowing tie-position rule — the property that
    * lets the oracle replay it with plain slice-min list ops.
    */
  def winnowedFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = codePoints(text.toLowerCase.toString)
    val n = cps.length - (k - 1)
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](n)
    // rolling update: h' = ((h - cp_out * B^(k-1)) * B + cp_in) mod M — O(1)
    // per slide instead of O(k), and VALUE-identical to the windowed fold
    // (so the oracle's per-window replay matches bit for bit)
    var bk = 1L // B^(k-1) mod M
    var e = 0
    while (e < k - 1) { bk = bk * Base1 % Mod1; e += 1 }
    var h = polyHashRange(cps, 0, k, Base1, Mod1)
    hs(0) = h
    var i = 1
    while (i < n) {
      val drop = (cps(i - 1) % Mod1) * bk % Mod1
      h = (((h - drop + Mod1) % Mod1) * Base1 + cps(i + k - 1)) % Mod1
      hs(i) = h
      i += 1
    }
    val windows = math.max(n - w + 1, 1)
    val mins = new Array[Long](windows)
    var p = 0
    while (p < windows) {
      var m = hs(p)
      var j = p + 1
      val until = math.min(p + w, n)
      while (j < until) { if (hs(j) < m) m = hs(j); j += 1 }
      mins(p) = m
      p += 1
    }
    new GenericArrayData(sortedDistinct(mins, windows))
  }

  /** Packed image dimensions `(width << 32) | height` across the three
    * sniffable image containers — PNG IHDR (big-endian uint32 at 16/20),
    * GIF logical screen (little-endian uint16 at 6/8), JPEG SOF walk
    * ([[jpegDims]]) — or -1 for non-images/truncated headers. One kernel
    * call replaces a when-chain over repeated hex/substring/conv subtrees
    * whose generated `processNext()` blew janino's method limit and dropped
    * the whole stage to interpreted eval. Width gets the high 32 bits: PNG
    * dimensions are 32-bit, so a 16-bit pack would truncate.
    */
  def imageDims(bytes: Array[Byte]): Long = {
    val n = bytes.length
    @inline def u8(i: Int): Int = bytes(i) & 0xFF
    if (n >= 3 && u8(0) == 0xFF && u8(1) == 0xD8 && u8(2) == 0xFF) {
      val p = jpegDims(bytes)
      if (p < 0) -1L else ((p >>> 16) << 32) | (p & 0xFFFFL)
    } else if (n >= 24 && u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E &&
        u8(3) == 0x47 && u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A &&
        u8(7) == 0x0A) {
      val w = (u8(16).toLong << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19)
      val h = (u8(20).toLong << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)
      (w << 32) | h
    } else if (n >= 10 && u8(0) == 0x47 && u8(1) == 0x49 && u8(2) == 0x46) {
      val w = (u8(6) | (u8(7) << 8)).toLong
      val h = (u8(8) | (u8(9) << 8)).toLong
      (w << 32) | h
    } else -1L
  }

  /** Deterministic RESIZE SEAM for image payloads: patches the container's
    * header dimensions to floor(d/factor) and keeps every factor-th body
    * byte (ceil(n/factor) bytes). NOT a pixel resample — this container has
    * no codecs; it is the honest shape of the decode→resize→encode hop
    * (header metadata transforms exactly, payload shrinks by the factor,
    * everything downstream — dims, sizes, fingerprints — keeps working).
    * Covers all three sniffable image containers: PNG/GIF patch fixed
    * header offsets; JPEG walks its marker segments to the SOF and
    * subsamples only the post-SOS entropy body. Non-images and malformed
    * JPEG streams pass through unchanged.
    */
  def resizeStub(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val n = bytes.length
    @inline def u8(i: Int): Int = bytes(i) & 0xFF
    def subsampled(hdr: Int): Array[Byte] = {
      val body = n - hdr
      val kept = if (body <= 0) 0 else (body + factor - 1) / factor
      val out = new Array[Byte](hdr + kept)
      System.arraycopy(bytes, 0, out, 0, hdr)
      var i = 0
      while (i < kept) { out(hdr + i) = bytes(hdr + i * factor); i += 1 }
      out
    }
    if (n >= 3 && u8(0) == 0xFF && u8(1) == 0xD8 && u8(2) == 0xFF) {
      // JPEG: the same marker walk as [[jpegDims]], locating the SOF (dims
      // to patch) and the SOS header end (segments stay intact; only the
      // entropy body after SOS subsamples). Malformed streams pass through.
      // Long cursor + FIRST valid SOF only (len >= 7 with dims in range),
      // matching jpegDims exactly: a short or trailing SOF must not make
      // the patch write into a NEIGHBORING segment's bytes
      var p = 2L
      var sof = -1L
      var bodyAt = -1L
      var ok = true
      while (bodyAt < 0 && ok && p + 1 < n) {
        if (u8(p.toInt) != 0xFF) ok = false
        else {
          while (p + 1 < n && u8((p + 1).toInt) == 0xFF) p += 1
          if (p + 1 >= n) ok = false
          else {
            val m = u8((p + 1).toInt)
            if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) p += 2
            else if (m == 0xD9) ok = false
            else if (p + 3 >= n) ok = false
            else {
              val len = (u8((p + 2).toInt) << 8) | u8((p + 3).toInt)
              if (len < 2) ok = false
              else {
                if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
                  if (len < 7 || p + 8 >= n) ok = false
                  else if (sof < 0) sof = p
                }
                if (ok) {
                  if (m == 0xDA) bodyAt = p + 2 + len
                  else p += 2 + len
                }
              }
            }
          }
        }
      }
      if (!ok || sof < 0 || bodyAt < 0 || sof + 8 >= n || bodyAt > n) bytes
      else {
        val out = subsampled(bodyAt.toInt)
        val so = sof.toInt
        val h = ((u8(so + 5) << 8) | u8(so + 6)) / factor
        val w = ((u8(so + 7) << 8) | u8(so + 8)) / factor
        out(so + 5) = (h >>> 8).toByte; out(so + 6) = h.toByte
        out(so + 7) = (w >>> 8).toByte; out(so + 8) = w.toByte
        out
      }
    } else if (n >= 24 && u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E &&
        u8(3) == 0x47 && u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A &&
        u8(7) == 0x0A) {
      val w = ((u8(16).toLong << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19)) / factor
      val h = ((u8(20).toLong << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)) / factor
      val out = subsampled(24)
      out(16) = (w >>> 24).toByte; out(17) = (w >>> 16).toByte
      out(18) = (w >>> 8).toByte; out(19) = w.toByte
      out(20) = (h >>> 24).toByte; out(21) = (h >>> 16).toByte
      out(22) = (h >>> 8).toByte; out(23) = h.toByte
      out
    } else if (n >= 10 && u8(0) == 0x47 && u8(1) == 0x49 && u8(2) == 0x46) {
      val w = ((u8(6) | (u8(7) << 8)) / factor).toLong
      val h = ((u8(8) | (u8(9) << 8)) / factor).toLong
      val out = subsampled(10)
      out(6) = w.toByte; out(7) = (w >>> 8).toByte
      out(8) = h.toByte; out(9) = (h >>> 8).toByte
      out
    } else bytes
  }

  /** Morton z-value: interleave the low `bits` bits of two non-negative
    * coordinates (x takes even bit positions, y odd) — the space-filling-
    * curve clustering key for two-dimensional data layout. Values beyond
    * `bits` bits are masked (the z-value is a LAYOUT key, not an identity;
    * callers quantize coordinates into the bit budget first). Negative
    * inputs are an error — they would silently interleave sign bits.
    */
  def zValue2(x: Long, y: Long, bits: Int): Long = {
    if (x < 0 || y < 0)
      throw new IllegalArgumentException(s"graft_zvalue: negative coordinate ($x, $y)")
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Bloom-filter membership probe of one long key. */
  def bloomMightContain(h: Long, bloom: BloomFilter): Boolean = bloom.mightContainLong(h)

  /** 60-bit SimHash over whitespace tokens of lower(text): token hash =
    * ph1*2^30 + ph2 (Dedup.tokenHash60); bit j of the signature set when
    * the ±1 count over tokens at bit j is positive.
    */
  def simhash60(text: UTF8String): Long = {
    val trimmed = sparkTrim(text.toLowerCase.toString)
    if (trimmed.isEmpty) return 0L
    val counts = new Array[Int](60)
    val toks = tokenize(trimmed)
    var ti = 0
    while (ti < toks.length) {
      val cps = codePoints(toks(ti))
      val h = polyHashRange(cps, 0, cps.length, Base1, Mod1) * (1L << 30) +
        polyHashRange(cps, 0, cps.length, Base2, Mod2)
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      ti += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** 60-bit dHash over the first 61 unsigned bytes, MSB-first
    * (bit for position i set iff byte_i > byte_{i+1}); -1 for payloads
    * shorter than 61 bytes. One static call per row — the expression-tree
    * formulation re-evaluated its hex-parsed byte array at every one of
    * the 120 lambda references per row.
    */
  def dhash60(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.length < 61) return -1L
    var acc = 0L
    var i = 0
    while (i < 60) {
      acc = acc * 2 + (if ((bytes(i) & 0xFF) > (bytes(i + 1) & 0xFF)) 1L else 0L)
      i += 1
    }
    acc
  }

  /** Jaro-Winkler similarity (the record-linkage scorer), matching the
    * standard variant DuckDB's `jaro_winkler_similarity` implements
    * (probed empirically, incl. the m=0 and window-0 edges): match window
    * `max(|a|,|b|)/2 - 1`, transpositions counted over matched sequences
    * halved, and the Winkler prefix boost (up to 4 chars, p = 0.1) applied
    * ONLY when jaro > 0.7. Identical strings score 1, either side empty
    * scores 0. Char-level (UTF-16 units) — identical to code points for
    * the BMP text this engine processes.
    */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val la = a.length; val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var hit = false
      while (j < hi && !hit) {
        if (!mb(j) && b.charAt(j) == a.charAt(i)) {
          ma(i) = true; mb(j) = true; m += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxP = math.min(4, math.min(la, lb))
    while (l < maxP && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}
