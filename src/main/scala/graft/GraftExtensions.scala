package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{Bpe, KernelExpressions => K, TrainedBpeMerges, VectorOps}

/** SQL surface for the kernel library: `spark.sql.extensions=graft.GraftExtensions`
  * (wired into Main/Bench/Verify and available to any `spark-submit`) injects
  * every codegen'd kernel as a `graft_*` SQL function, so pure-SQL users get
  * the same single-static-call generated code as the Column API — cosine over
  * embedding arrays, minhash/simhash signatures, shingle and n-gram hashes,
  * quality stats, int8 quantization, media header parsing, and the frozen
  * merge-table BPE token count. Parameter arguments (n-gram sizes, hash
  * counts) must be integer LITERALS — they parameterize code generation, not
  * per-row values.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // the one broadcast-size policy: strips oversized explicit broadcast() hints
    ext.injectOptimizerRule(graft.plans.BroadcastGuard)
    // whole-operator plans: native sort-merge as-of join
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofStrategy)
  }
}

object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  private def litInt(args: Seq[Expression], i: Int, fn: String): Int = args(i) match {
    case Literal(v, IntegerType) if v != null => v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be a non-null integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$fn expects $n arguments, got ${args.length}")

  /** Cast an array argument to the element type the kernel reads (float →
    * double is exact, int → long is exact), so SQL integer-array literals
    * neither crash nor silently reinterpret bytes.
    */
  private def castArr(e: Expression,
      elem: org.apache.spark.sql.types.DataType): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(elem))

  private val D = org.apache.spark.sql.types.DoubleType
  private val L = org.apache.spark.sql.types.LongType

  private def fd(name: String, usage: String, builder: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.KernelExpressions", null, name, usage, ""),
      builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fd("graft_cosine", "graft_cosine(a, b) - cosine similarity of two numeric arrays",
      args => { arity("graft_cosine", args, 2)
        K.VecCosine(castArr(args(0), D), castArr(args(1), D)) }),
    fd("graft_int8_quantize",
      "graft_int8_quantize(v) - symmetric per-vector int8 quantization",
      args => { arity("graft_int8_quantize", args, 1)
        K.Int8Quantize(castArr(args(0), D)) }),
    fd("graft_vec_dot", "graft_vec_dot(a, b) - dot product of two numeric arrays",
      args => { arity("graft_vec_dot", args, 2); K.VecDot(args(0), args(1)) }),
    fd("graft_dhash60",
      "graft_dhash60(bin) - 60-bit dHash of the first 61 bytes (-1 if too short)",
      args => { arity("graft_dhash60", args, 1); K.Dhash60(args(0)) }),
    fd("graft_jaro_winkler",
      "graft_jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-compatible variant)",
      args => { arity("graft_jaro_winkler", args, 2)
        K.JaroWinkler(args(0), args(1)) }),
    fd("graft_sign_bits",
      "graft_sign_bits(v) - 1-bit sign quantization packed into longs (64 dims/word)",
      args => { arity("graft_sign_bits", args, 1); K.SignBits(castArr(args(0), D)) }),
    fd("graft_hamming",
      "graft_hamming(a, b) - Hamming distance of two packed bit arrays (xor + popcount)",
      args => { arity("graft_hamming", args, 2)
        K.HammingLong(castArr(args(0), L), castArr(args(1), L)) }),
    fd("graft_dot_long", "graft_dot_long(a, b) - integer dot product of long arrays",
      args => { arity("graft_dot_long", args, 2)
        K.DotLong(castArr(args(0), L), castArr(args(1), L)) }),
    fd("graft_minhash_sig",
      "graft_minhash_sig(text, shingleSize, numHashes) - minhash signature over char shingles",
      args => { arity("graft_minhash_sig", args, 3)
        K.MinhashSig(args(0), litInt(args, 1, "graft_minhash_sig"),
          litInt(args, 2, "graft_minhash_sig")) }),
    fd("graft_simhash", "graft_simhash(text) - 60-bit simhash over whitespace tokens",
      args => { arity("graft_simhash", args, 1); K.Simhash60(args(0)) }),
    fd("graft_char_shingles",
      "graft_char_shingles(text, n) - sorted distinct poly-hashed char n-grams of lower(text)",
      args => { arity("graft_char_shingles", args, 2)
        K.CharShingleHashes(args(0), litInt(args, 1, "graft_char_shingles")) }),
    fd("graft_word_shingles",
      "graft_word_shingles(text, n) - sorted distinct poly-hashed word n-grams of trim(text)",
      args => { arity("graft_word_shingles", args, 2)
        K.WordShingleHashes(args(0), litInt(args, 1, "graft_word_shingles")) }),
    fd("graft_char_ngram_hashes",
      "graft_char_ngram_hashes(text, n) - poly hashes of every char n-gram occurrence",
      args => { arity("graft_char_ngram_hashes", args, 2)
        K.CharNgramOccHashes(args(0), litInt(args, 1, "graft_char_ngram_hashes")) }),
    fd("graft_sorted_intersect",
      "graft_sorted_intersect(a, b) - intersection size of two sorted long arrays",
      args => { arity("graft_sorted_intersect", args, 2)
        K.SortedIntersectCount(castArr(args(0), L), castArr(args(1), L)) }),
    fd("graft_quality_stats",
      "graft_quality_stats(text) - [tokens, stopwords, punct chars, chars]",
      args => { arity("graft_quality_stats", args, 1); K.TextQualityStats(args(0)) }),
    fd("graft_ngram_stats",
      "graft_ngram_stats(text, n) - [total, distinct, maxRun] word n-gram occurrence stats",
      args => { arity("graft_ngram_stats", args, 2)
        K.WordNgramStats(args(0), litInt(args, 1, "graft_ngram_stats")) }),
    fd("graft_bpe_count",
      "graft_bpe_count(text) - BPE token count under the frozen trained merge table",
      args => { arity("graft_bpe_count", args, 1)
        val (lefts, rights) = Bpe.compiled(TrainedBpeMerges.merges)
        K.BpeTokenCount(args(0), lefts.toSeq, rights.toSeq) }),
    fd("graft_image_dims",
      "graft_image_dims(bin) - packed (width << 32) | height for PNG/GIF/JPEG, -1 otherwise",
      args => { arity("graft_image_dims", args, 1); K.ImageDims(args(0)) }),
    fd("graft_jpeg_dims",
      "graft_jpeg_dims(bin) - packed (width << 16) | height from the JPEG SOF walk",
      args => { arity("graft_jpeg_dims", args, 1); K.JpegDims(args(0)) }),
    fd("graft_wav_format",
      "graft_wav_format(bin) - packed (rate << 16) | (channels << 8) | bits from the fmt chunk",
      args => { arity("graft_wav_format", args, 1); K.WavFormat(args(0)) }),
    fd("graft_mp4_meta",
      "graft_mp4_meta(bin) - packed (timescale << 24) | duration from the ISO-BMFF mvhd walk",
      args => { arity("graft_mp4_meta", args, 1); K.Mp4Meta(args(0)) }),
    fd("graft_avi_meta",
      "graft_avi_meta(bin) - packed (width << 48) | (height << 32) | (frames << 16) | usPerFrame from the AVI avih walk",
      args => { arity("graft_avi_meta", args, 1); K.AviMeta(args(0)) }),
    fd("graft_zvalue",
      "graft_zvalue(x, y, bits) - Morton z-value interleaving the low `bits` bits of two non-negative coords",
      args => { arity("graft_zvalue", args, 3)
        K.ZValue2(Cast(args(0), LongType), Cast(args(1), LongType),
          litInt(args, 2, "graft_zvalue")) }),
    fd("graft_winnow",
      "graft_winnow(text, k, w) - distinct winnowed (min per w-window) k-gram fingerprints",
      args => { arity("graft_winnow", args, 3)
        K.WinnowedFingerprints(args(0), litInt(args, 1, "graft_winnow"),
          litInt(args, 2, "graft_winnow")) }),
    fd("graft_topk",
      "graft_topk(score, id, k) - AGGREGATE: k best (score, id) pairs per group, score DESC id ASC",
      args => { arity("graft_topk", args, 3)
        // cast-tolerant: any numeric score / integral id works from SQL
        graft.functions.TopKByScore(
          org.apache.spark.sql.catalyst.expressions.Cast(args(0),
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(args(1),
            org.apache.spark.sql.types.LongType),
          litInt(args, 2, "graft_topk")) }),
    fd("graft_srp_buckets",
      "graft_srp_buckets(v, numTables, bits, dim) - per-table SRP LSH bucket keys",
      args => { arity("graft_srp_buckets", args, 4)
        val tables = litInt(args, 1, "graft_srp_buckets")
        val bits = litInt(args, 2, "graft_srp_buckets")
        val dim = litInt(args, 3, "graft_srp_buckets")
        K.SrpBucketKeys(castArr(args(0), D),
          VectorOps.rademacherPlanes(tables * bits, dim).flatten, tables, bits) })
  )
}
