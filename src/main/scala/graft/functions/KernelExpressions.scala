package graft.functions

import java.util.Locale

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The hot scalar kernels, one row each.
  *
  * Why kernels (brief §custom-operators tier (b)): the built-in
  * formulations are either thousand-term unrolled trees (janino 64 KB
  * limit → repeated failed compiles + interpreted fallback) or
  * higher-order-function folds (never codegen'd). Each row names one
  * static method of [[Kernels]] and yields both ways to call it: the
  * Column function (`KernelExpressions.minhashSig(text, 5, 32)`) and, when
  * the row has one, its `graft_*` SQL function ([[graft.GraftFunctions]]).
  * Either builds a [[KernelCall]], which analysis type-checks and the
  * optimizer replaces by Spark's own `StaticInvoke`: one static call into
  * [[Kernels]] inside whole-stage codegen, with the loop JIT-compiled.
  *
  * Results are bit-identical to the expression formulations (see the
  * cross-engine contract note in [[Kernels]]), so the DuckDB oracles are
  * unaffected.
  */
object KernelExpressions {

  /** How a kernel takes one column argument. */
  sealed abstract class Arg(val sqlCast: Option[DataType], val elems: Seq[DataType])
  /** Any column of the type the method reads; not checked. */
  case object In extends Arg(None, Nil)
  /** An integral column; the SQL function casts it to bigint. */
  case object Integral extends Arg(Some(LongType), Nil)
  /** `array<bigint>`, checked at analysis; the SQL function casts to it. */
  case object Longs extends Arg(Some(ArrayType(LongType)), Seq(LongType))
  /** `array<float>` or `array<double>`, checked at analysis: an array of
    * another element type would be reinterpreted bytewise by the unsafe
    * accessors (silent garbage, not an error). The method takes a trailing
    * isFloat flag per such argument; the SQL function casts to
    * `array<double>` (exact for float and int elements).
    */
  case object Floats extends Arg(Some(ArrayType(DoubleType)), Seq(FloatType, DoubleType))

  /** A kernel's `graft_*` SQL function: the row's column arguments, then
    * `ints` integer literals that `params` turns into the Column function's
    * parameters (by default they are those parameters). `cast = false`
    * passes the columns uncast, so the analysis check sees their types.
    */
  final case class Sql(name: String, usage: String, ints: Int = 0, cast: Boolean = true,
      params: Seq[Int] => Seq[Any] = identity)

  /** One kernel: the Column function `name`, calling the [[Kernels]] method
    * `method` with the column arguments `args`, the `params` constants that
    * `prep` makes of the Column function's parameters, and one isFloat flag
    * per [[Floats]] argument, in that order.
    */
  final class Kernel private[KernelExpressions] (val name: String, val method: String,
      val dataType: DataType, val args: Seq[Arg], val params: Int,
      prep: PartialFunction[Seq[Any], Seq[Any]], val sql: Option[Sql]) extends Serializable {

    /** Parameter count of the [[Kernels]] method this row calls. */
    def arity: Int = args.size + params + args.count(_ == Floats)

    /** The Column function: the column arguments, then the parameters. */
    def apply(in: Any*): Column = {
      val (cols, ps) = in.splitAt(args.size)
      GraftExpressionBridge.column(call(cols.map {
        case c: Column => GraftExpressionBridge.expression(c)
        case other => throw new IllegalArgumentException(
          s"$name: argument $other is not a Column; the first ${args.size} arguments are")
      }, ps))
    }

    /** The SQL function's builder. */
    private[graft] def fromSql(s: Sql)(in: Seq[Expression]): Expression = {
      requireArity(s.name, in, args.size + s.ints)
      val cols = in.take(args.size).zip(args).map { case (e, a) =>
        a.sqlCast.filter(_ => s.cast).fold(e)(Cast(e, _))
      }
      call(cols, s.params(args.size.until(in.size).map(litInt(in, _, s.name))))
    }

    private def call(children: Seq[Expression], ps: Seq[Any]): Expression = {
      val consts = prep.applyOrElse(ps, (bad: Seq[Any]) => throw new IllegalArgumentException(
        s"$name: unexpected parameters (${bad.mkString(", ")})"))
      if (consts.size != params) throw new IllegalArgumentException(
        s"$name expects $params parameters, got ${consts.size}")
      KernelCall(this, children, consts.map {
        case l: Literal => l
        case i: Int => Literal(i)
        case o => Literal.fromObject(o)
      })
    }

    private[functions] def check(children: Seq[Expression]): TypeCheckResult =
      children.zip(args).zipWithIndex.collectFirst {
        case ((c, a), i) if a.elems.nonEmpty && !(c.dataType match {
            case ArrayType(et, _) => a.elems.contains(et)
            case _ => false
          }) =>
          TypeCheckResult.TypeCheckFailure(s"${Seq("first", "second")(i)} argument must be " +
            s"array<${a.elems.map(_.simpleString).mkString("|")}>, got ${c.dataType.simpleString}")
      }.getOrElse(TypeCheckResult.TypeCheckSuccess)

    private[functions] def floatFlags(children: Seq[Expression]): Seq[Literal] =
      children.zip(args).collect { case (c, Floats) =>
        Literal(c.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
      }

    override def toString: String = name
  }

  /** A call of one kernel row on its column arguments (`children`) and its
    * constants. The optimizer replaces it by one `StaticInvoke` of the
    * row's [[Kernels]] method; null in any column gives null out.
    */
  case class KernelCall(kernel: Kernel, children: Seq[Expression], consts: Seq[Literal])
      extends Expression with RuntimeReplaceable {
    override lazy val replacement: Expression = StaticInvoke(Kernels.getClass,
      kernel.dataType, kernel.method, children ++ consts ++ kernel.floatFlags(children),
      returnNullable = false)
    override def dataType: DataType = kernel.dataType
    override def prettyName: String = kernel.name.toLowerCase(Locale.ROOT)
    override def checkInputDataTypes(): TypeCheckResult = kernel.check(children)
    override protected def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
  }

  private[graft] def litInt(args: Seq[Expression], i: Int, fn: String): Int = args(i) match {
    case Literal(v, IntegerType) if v != null => v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be a non-null integer literal, got $other")
  }

  private[graft] def requireArity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$fn expects $n arguments, got ${args.length}")

  // ------------------------------------------------------------- the rows

  private val declared = ListBuffer.empty[Kernel]

  private def row(name: String, dataType: DataType, args: Arg*)(method: String = name,
      params: Int = 0, prep: PartialFunction[Seq[Any], Seq[Any]] = { case ps => ps },
      sql: Sql = null): Kernel = {
    val k = new Kernel(name, method, dataType, args, params, prep, Option(sql))
    declared += k
    k
  }

  /** Every row, in declaration order. */
  lazy val all: List[Kernel] = declared.toList

  private val LongArr = ArrayType(LongType, containsNull = false)

  /** Flat codebooks plus (numSub, ksub) of a `numSub × ksub × dsub` PQ book. */
  private val pqBooks: PartialFunction[Seq[Any], Seq[Any]] = {
    case Seq(books: Seq[Seq[Seq[Double]]] @unchecked) =>
      Seq(books.flatten.flatten.toArray, books.size, books.head.size)
  }

  /** Cosine similarity of two numeric array columns (float or double). */
  val vecCosine: Kernel = row("vecCosine", DoubleType, Floats, Floats)(method = "cosine",
    sql = Sql("graft_cosine", "graft_cosine(a, b) - cosine similarity of two numeric arrays"))

  /** Dot product of two numeric array columns (strict on dimensions). */
  val vecDot: Kernel = row("vecDot", DoubleType, Floats, Floats)(method = "dot",
    sql = Sql("graft_vec_dot", "graft_vec_dot(a, b) - dot product of two numeric arrays",
      cast = false))

  /** Language-ID winner over a tokenized array per static marker profiles:
    * `langIdPick(toks, langs, markers)`. */
  val langIdPick: Kernel = row("langIdPick", StringType, In)(params = 3, prep = {
    case Seq(langs: Seq[String] @unchecked, markers: Seq[Seq[String]] @unchecked) =>
      Seq(markers.flatten.map(UTF8String.fromString).toArray,
        markers.scanLeft(0)(_ + _.size).toArray, langs.map(UTF8String.fromString).toArray)
  })

  /** Per-table SRP bucket keys (t*2^bits | bucket) over a ±1 plane matrix:
    * `srpBucketKeys(v, planes, numTables, bits)`. */
  val srpBucketKeys: Kernel = row("srpBucketKeys", LongArr, Floats)(params = 3, prep = {
    case Seq(planes: Seq[Seq[Double]] @unchecked, numTables: Int, bits: Int) =>
      require(numTables > 0 && bits > 0 && bits <= 62,
        s"srpBucketKeys: numTables=$numTables bits=$bits out of range (1..62 bits)")
      Seq(planes.flatten.toArray, numTables, bits)
  }, sql = Sql("graft_srp_buckets",
    "graft_srp_buckets(v, numTables, bits, dim) - per-table SRP LSH bucket keys", ints = 3,
    params = { case Seq(tables, bits, dim) =>
      Seq(VectorOps.rademacherPlanes(tables * bits, dim), tables, bits) }))

  /** MinHash signature over char n-gram shingles of lower(text):
    * `minhashSig(text, n, numHashes)`. */
  val minhashSig: Kernel = row("minhashSig", LongArr, In)(method = "minhashSignature",
    params = 3, prep = { case Seq(n: Int, numHashes: Int) =>
      val cs = graft.operators.Dedup.minhashCoeffs(numHashes)
      Seq(n, cs.map(_._1).toArray, cs.map(_._2).toArray)
    }, sql = Sql("graft_minhash_sig",
      "graft_minhash_sig(text, shingleSize, numHashes) - minhash signature over char shingles",
      ints = 2))

  /** Symmetric per-vector int8 quantization of a numeric array column. */
  val int8Quantize: Kernel = row("int8Quantize", LongArr, Floats)(sql = Sql("graft_int8_quantize",
    "graft_int8_quantize(v) - symmetric per-vector int8 quantization"))

  /** 1-bit sign quantization to packed longs ([[Kernels.signBits]]) — the
    * binary-quantized ANN coarse representation (64 dims per word). */
  val signBits: Kernel = row("signBits", LongArr, Floats)(sql = Sql("graft_sign_bits",
    "graft_sign_bits(v) - 1-bit sign quantization packed into longs (64 dims/word)"))

  /** Hamming distance of two packed bit arrays ([[Kernels.hammingLong]]) —
    * xor + popcount per word, the binary-ANN scan kernel. */
  val hammingLong: Kernel = row("hammingLong", LongType, Longs, Longs)(sql = Sql("graft_hamming",
    "graft_hamming(a, b) - Hamming distance of two packed bit arrays (xor + popcount)"))

  /** 60-bit dHash of a binary column's first 61 bytes ([[Kernels.dhash60]];
    * -1 = payload too short). */
  val dhash60: Kernel = row("dhash60", LongType, In)(sql = Sql("graft_dhash60",
    "graft_dhash60(bin) - 60-bit dHash of the first 61 bytes (-1 if too short)"))

  /** Jaro-Winkler similarity of two string columns ([[Kernels.jaroWinkler]]
    * — DuckDB-compatible variant, boost only above jaro 0.7). */
  val jaroWinkler: Kernel = row("jaroWinkler", DoubleType, In, In)(sql = Sql("graft_jaro_winkler",
    "graft_jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-compatible variant)"))

  /** Integer dot product of two long-array columns. */
  val dotLong: Kernel = row("dotLong", LongType, Longs, Longs)(sql = Sql("graft_dot_long",
    "graft_dot_long(a, b) - integer dot product of long arrays"))

  /** PQ code array of a vector against literal codebooks
    * ([[Kernels.pqEncode]]): `pqEncode(vec, books)` — numSub x ksub centroid
    * scans in one static call instead of an interpreted higher-order-function
    * argmin tree. */
  val pqEncode: Kernel = row("pqEncode", ArrayType(IntegerType, containsNull = false), Floats)(
    params = 3, prep = pqBooks)

  /** ADC distance of (codes, query vector) against the same codebooks
    * ([[Kernels.pqAdc]]): `pqAdc(codes, q, books)`. */
  val pqAdc: Kernel = row("pqAdc", DoubleType, In, Floats)(params = 3, prep = pqBooks)

  /** Morton z-value of two non-negative integral coordinates
    * ([[Kernels.zValue2]]): `zValue2(x, y, bits)`. */
  val zValue2: Kernel = row("zValue2", LongType, Integral, Integral)(params = 1, prep = {
    case Seq(bits: Int) =>
      require(bits > 0 && bits <= 31, s"zvalue needs 1..31 bits per dim, got $bits")
      Seq(bits)
  }, sql = Sql("graft_zvalue", "graft_zvalue(x, y, bits) - Morton z-value interleaving the low " +
    "`bits` bits of two non-negative coords", ints = 1))

  /** Merge-scan intersection count of two sorted long arrays. */
  val sortedIntersectCount: Kernel = row("sortedIntersectCount", LongType, Longs, Longs)(
    sql = Sql("graft_sorted_intersect",
      "graft_sorted_intersect(a, b) - intersection size of two sorted long arrays"))

  /** Distinct poly-hashed char n-gram shingles of lower(text):
    * `charShingleHashes(text, n)`. */
  val charShingleHashes: Kernel = row("charShingleHashes", LongArr, In)(params = 1,
    sql = Sql("graft_char_shingles",
      "graft_char_shingles(text, n) - sorted distinct poly-hashed char n-grams of lower(text)",
      ints = 1))

  /** Sorted distinct winnowed (min-of-w-window) k-gram fingerprints:
    * `winnowedFingerprints(text, k, w)`. */
  val winnowedFingerprints: Kernel = row("winnowedFingerprints", LongArr, In)(params = 2, prep = {
    case Seq(k: Int, w: Int) =>
      require(k > 0 && w > 0, s"winnowing needs positive k/w, got k=$k w=$w")
      Seq(k, w)
  }, sql = Sql("graft_winnow",
    "graft_winnow(text, k, w) - distinct winnowed (min per w-window) k-gram fingerprints",
    ints = 2))

  /** Poly hashes of every char n-gram OCCURRENCE of lower(text), in order:
    * `charNgramOccHashes(text, n)`. */
  val charNgramOccHashes: Kernel = row("charNgramOccHashes", LongArr, In)(params = 1,
    sql = Sql("graft_char_ngram_hashes",
      "graft_char_ngram_hashes(text, n) - poly hashes of every char n-gram occurrence", ints = 1))

  /** Distinct poly-hashed word n-gram shingles of trim(text):
    * `wordShingleHashes(text, n)`. */
  val wordShingleHashes: Kernel = row("wordShingleHashes", LongArr, In)(params = 1,
    sql = Sql("graft_word_shingles",
      "graft_word_shingles(text, n) - sorted distinct poly-hashed word n-grams of trim(text)",
      ints = 1))

  /** [tokens, stopwords, punct chars, chars] of text in one pass. */
  val textQualityStats: Kernel = row("textQualityStats", LongArr, In)(
    sql = Sql("graft_quality_stats",
      "graft_quality_stats(text) - [tokens, stopwords, punct chars, chars]"))

  /** Word n-grams of trim(text) as strings, in order: `wordNgramStrings(text, n)`. */
  val wordNgramStrings: Kernel =
    row("wordNgramStrings", ArrayType(StringType, containsNull = false), In)(params = 1)

  /** [total, distinct, maxRun] occurrence stats of word n-grams of
    * trim(text) — basis of the Gopher repetition signals:
    * `wordNgramStats(text, n)`. */
  val wordNgramStats: Kernel = row("wordNgramStats", LongArr, In)(params = 1,
    sql = Sql("graft_ngram_stats",
      "graft_ngram_stats(text, n) - [total, distinct, maxRun] word n-gram occurrence stats",
      ints = 1))

  /** BPE token count of whitespace words under a frozen merge table,
    * precompiled to parallel left/right symbol sequences in rank order:
    * `bpeTokenCount(text, lefts, rights)`. The SQL function uses the
    * trained table ([[TrainedBpeMerges]]). */
  val bpeTokenCount: Kernel = row("bpeTokenCount", LongType, In)(params = 2, prep = {
    case Seq(lefts: Seq[String] @unchecked, rights: Seq[String] @unchecked) =>
      Seq(lefts.toArray, rights.toArray)
  }, sql = Sql("graft_bpe_count",
    "graft_bpe_count(text) - BPE token count under the frozen trained merge table",
    params = _ => {
      val (lefts, rights) = Bpe.compiled(TrainedBpeMerges.merges)
      Seq(lefts.toSeq, rights.toSeq)
    }))

  /** Packed JPEG dimensions `(width << 16) | height` from the SOF segment
    * walk; -1 when the payload has no frame header. */
  val jpegDims: Kernel = row("jpegDims", LongType, In)(sql = Sql("graft_jpeg_dims",
    "graft_jpeg_dims(bin) - packed (width << 16) | height from the JPEG SOF walk"))

  /** Packed PNG/GIF/JPEG dimensions `(width << 32) | height`; -1 when the
    * payload is not an image or its header is truncated. */
  val imageDims: Kernel = row("imageDims", LongType, In)(sql = Sql("graft_image_dims",
    "graft_image_dims(bin) - packed (width << 32) | height for PNG/GIF/JPEG, -1 otherwise"))

  /** Resize seam for image payloads, `resizeStub(bin, factor)`: header dims
    * become floor(d/factor), the body keeps every factor-th byte; non-images
    * pass through. The deterministic stand-in for the
    * decode→resample→encode hop a codec library plugs into. */
  val resizeStub: Kernel = row("resizeStub", BinaryType, In)(params = 1, prep = {
    case Seq(factor: Int) =>
      require(factor > 0, "factor must be positive")
      Seq(factor)
  })

  /** WAV `fmt ` chunk metadata packed long ([[Kernels.wavFormat]]). */
  val wavFormat: Kernel = row("wavFormat", LongType, In)(sql = Sql("graft_wav_format",
    "graft_wav_format(bin) - packed (rate << 16) | (channels << 8) | bits from the fmt chunk"))

  /** MP4/ISO-BMFF mvhd metadata packed long ([[Kernels.mp4Meta]]). */
  val mp4Meta: Kernel = row("mp4Meta", LongType, In)(sql = Sql("graft_mp4_meta",
    "graft_mp4_meta(bin) - packed (timescale << 24) | duration from the ISO-BMFF mvhd walk"))

  /** AVI MainAVIHeader metadata packed long ([[Kernels.aviMeta]]). */
  val aviMeta: Kernel = row("aviMeta", LongType, In)(sql = Sql("graft_avi_meta",
    "graft_avi_meta(bin) - packed (width << 48) | (height << 32) | (frames << 16) | " +
      "usPerFrame from the AVI avih walk"))

  /** Bloom-filter membership probe of a long column against a driver-built
    * filter (`df.stat.bloomFilter` — Spark's public sketch, built
    * distributed via treeAggregate): `bloomMightContain(h, bloom)`. The
    * filter rides to executors as a codegen reference object — one
    * `mightContainLong` per row, no join. False positives only (callers
    * follow with an exact verify join); never false negatives. */
  val bloomMightContain: Kernel = row("bloomMightContain", BooleanType, In)(params = 1, prep = {
    case Seq(bloom: BloomFilter) => Seq(Literal(bloom, ObjectType(classOf[BloomFilter])))
  })

  /** 60-bit SimHash of lower(text) over whitespace tokens. */
  val simhash60: Kernel = row("simhash60", LongType, In)(sql = Sql("graft_simhash",
    "graft_simhash(text) - 60-bit simhash over whitespace tokens"))
}
