package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multimodal column operators: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * Scale design: every operator is a narrow, codegen'd expression over the
  * binary payload — no UDFs, no driver round trips, no image libraries.
  * What a real decoder stack would add (pixel decode, resampling, model
  * inference) hangs off two clearly-marked seams:
  *   - [[frameWindows]]: the frame/chunk extraction plumbing (schema,
  *     batching, explode shape) is real; the bytes-per-frame decode is the
  *     seam a codec plugs into;
  *   - [[fakeEmbedding]]: DETERMINISTIC STUB for a learned encoder — a
  *     poly-hash projection standing in for model output so the
  *     partitioning/similarity plumbing is testable end-to-end.
  *
  * Header METADATA extraction, by contrast, is real: modality sniffing and
  * PNG/GIF dimensions are pure byte arithmetic over documented container
  * layouts (PNG IHDR: bytes 17-24 big-endian; GIF logical screen: bytes
  * 7-10 little-endian).
  */
object Multimodal {

  /** Magic-byte modality sniffing (JPEG / PNG / GIF / RIFF-WAVE / MP4 ftyp /
    * ID3-MP3); 'application/octet-stream' otherwise.
    */
  def sniffModality(bin: Column): Column = {
    def hx(pos: Int, len: Int) = hex(substring(bin, pos, len))
    when(hx(1, 3) === "FFD8FF", "image/jpeg")
      .when(hx(1, 8) === "89504E470D0A1A0A", "image/png")
      .when(hx(1, 3) === "474946", "image/gif")
      .when(hx(1, 4) === "52494646" && hx(9, 4) === "57415645", "audio/wav")
      .when(hx(1, 3) === "494433" || hx(1, 2) === "FFFB", "audio/mpeg")
      .when(hx(5, 4) === "66747970", "video/mp4")
      .otherwise(lit("application/octet-stream"))
  }

  /** Dimensions dispatched by container magic; null for non-images and for
    * images with truncated/absent headers. One packed kernel call
    * ([[Kernels.imageDims]], `width << 32 | height`) — the previous
    * when-chain over per-format hex/substring/conv subtrees generated a
    * `processNext()` past janino's method limit and silently dropped the
    * stage to interpreted eval.
    */
  def imageDims(bin: Column): Column = {
    val packed = KernelExpressions.imageDims(bin)
    when(packed >= 0,
      struct(shiftright(packed, 32).as("width"),
        packed.bitwiseAND(lit(0xFFFFFFFFL)).as("height")))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** WAV `fmt ` chunk metadata (sample rate / channels / bits per sample)
    * via the RIFF chunk walk (kernel expression — chunks are variable-
    * length and ordered freely, so fixed offsets don't work); null when the
    * payload is not RIFF/WAVE or carries no fmt chunk.
    */
  def wavFormat(bin: Column): Column = {
    val packed = KernelExpressions.wavFormat(bin)
    when(packed >= 0,
      struct(shiftright(packed, 16).as("sample_rate"),
        shiftright(packed, 8).bitwiseAND(lit(0xFFL)).as("channels"),
        packed.bitwiseAND(lit(0xFFL)).as("bits")))
      .otherwise(lit(null)
        .cast("struct<sample_rate:bigint,channels:bigint,bits:bigint>"))
  }

  /** MP4/ISO-BMFF movie-header metadata (timescale / duration in
    * timescale units) via the box walk (kernel expression — boxes are
    * variable-length with optional siblings before mvhd, so fixed offsets
    * don't work); null when the payload is not BMFF or carries no v0 mvhd.
    */
  def mp4Meta(bin: Column): Column = {
    val packed = KernelExpressions.mp4Meta(bin)
    when(packed >= 0,
      struct(shiftright(packed, 24).as("timescale"),
        packed.bitwiseAND(lit(0xFFFFFFL)).as("duration")))
      .otherwise(lit(null).cast("struct<timescale:bigint,duration:bigint>"))
  }

  /** AVI main-header metadata (frame width / height / total frames /
    * µs per frame) via the RIFF list walk (kernel expression — real muxers
    * pad with JUNK chunks before `hdrl`, so fixed offsets don't work); null
    * when the payload is not RIFF/AVI or carries no avih. The video-dual of
    * [[wavFormat]]: same container family, the header the frame-rate /
    * duration bookkeeping reads before any codec work.
    */
  def aviMeta(bin: Column): Column = {
    val packed = KernelExpressions.aviMeta(bin)
    when(packed >= 0,
      struct(shiftright(packed, 48).as("width"),
        shiftright(packed, 32).bitwiseAND(lit(0xFFFFL)).as("height"),
        shiftright(packed, 16).bitwiseAND(lit(0xFFFFL)).as("frames"),
        packed.bitwiseAND(lit(0xFFFFL)).as("us_per_frame")))
      .otherwise(lit(null)
        .cast("struct<width:bigint,height:bigint,frames:bigint,us_per_frame:bigint>"))
  }

  /** Content fingerprint: poly-hash over the payload's hex rendering —
    * engine-reproducible (DuckDB mirrors via to_hex + the same fold).
    */
  def mediaFingerprint(bin: Column): Column =
    TextAnalysis.fingerprint(hex(bin))

  /** Fixed-size byte windows every `stride` bytes — the frame-sampling
    * plumbing (a video decoder would map each window to a decoded frame;
    * the explode/batch shape is what matters at 100 TB: one narrow pass,
    * no shuffle).
    */
  def frameWindows(bin: Column, frameSize: Int, stride: Int): Column = {
    val nFrames = floor((length(bin) - 1) / stride) + 1
    // empty payload guard: sequence(0, -1) defaults its step to -1 and
    // yields [0, -1] — two PHANTOM frames per empty blob — instead of the
    // empty array the arithmetic intends
    when(length(bin) < 1, array().cast("array<binary>"))
      .otherwise(transform(sequence(lit(0L), nFrames - 1),
        i => bin.substr((i * stride + 1).cast("int"), lit(frameSize))))
  }

  /** Unsigned byte values of the payload from 1-based byte offset `from` —
    * expression-only (hex-pair parse), mirroring the DuckDB oracle exactly.
    */
  def byteValues(bin: Column, from: Int): Column = {
    val h = substring(hex(bin), (from - 1) * 2 + 1, 1 << 30)
    val n = (length(h) / 2).cast("long")
    when(n < 1, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1L), n),
        i => conv(h.substr(((i - 1L) * 2L + 1L).cast("int"), lit(2)), 16, 10).cast("long")))
  }

  /** 60-bit difference-hash (dHash) perceptual fingerprint of a decoded
    * byte grid: bit_i = 1 iff byte_i > byte_{i+1} over the first 61
    * bytes, folded MSB-first — the gradient-sign hash that survives
    * brightness/scale shifts a content digest doesn't (a real decoder
    * would feed 8×8 downsampled luma here; the seam is the byte array,
    * exactly like [[wavAudioStats]]). Null for payloads shorter than 61
    * bytes. Pairs within small hamming distance are near-identical
    * images — join via [[graft.operators.Dedup.hammingPairs60]].
    */
  def dhash60(bin: Column): Column = {
    val sig = KernelExpressions.dhash60(substring(bin, 1, 61))
    when(sig =!= -1L, sig) // -1 = payload shorter than 61 bytes -> null
  }

  /** RMS level + peak of the WAV body (bytes after the 12-byte RIFF/WAVE
    * header) read as unsigned 8-bit samples — real byte arithmetic over the
    * container, like the image-header parsing; a codec would swap the
    * sample interpretation (bit depth, endianness), not the plumbing.
    */
  def wavAudioStats(bin: Column): Column = {
    val bytes = byteValues(bin, 13)
    val n = size(bytes)
    val sumsq = aggregate(bytes, lit(0L), (acc, b) => acc + b * b)
    struct(
      when(n === 0, lit(0.0)).otherwise(sqrt(sumsq.cast("double") / n)).as("rms"),
      coalesce(array_max(bytes), lit(0L)).as("peak"))
  }

  /** Windowed 8-point DFT power spectrum of the WAV body — REAL frequency-
    * domain feature extraction (the front end of voice-activity / tone /
    * bandwidth detection), kept engine-exact by integerized twiddles:
    * cos/sin(2πm/8) scaled by 1000 (the √2/2 terms become ±707), so every
    * re/im/power value is exact int64 arithmetic the DuckDB oracle replays
    * bit for bit — the same determinism device as the LM score and the HLL
    * registers. Per 8-sample frame f and bin k: re = Σₙ x[8f+n]·C[(k·n)%8],
    * im likewise over S, power = re²+im²; powers sum over all frames.
    * Bins 1-4 only (0 is DC, 5-7 mirror 1-3 for real input). Overflow
    * headroom: |re| ≤ 8·255·1000 ≈ 2×10⁶ → power ≤ 8.3×10¹² per frame →
    * int64 safely holds ~10⁶ frames (8M samples) per payload.
    *
    * Pure array HOFs — in-place per row, no explode, no shuffle; the tail
    * short of a full frame is dropped on both engines. Takes the sample
    * ARRAY as a column (from [[byteValues]]) rather than the raw payload,
    * and callers must materialize that array in its own projection
    * (`withColumn`) first: higher-order lambdas re-evaluate inline
    * subtrees per element, so an un-materialized byteValues (an O(len)
    * parse) inside the folds turns O(len) per row into O(len²·frames) —
    * measured as a multi-minute stall on 166 rows. SPARK-36718's
    * CollapseProject guard keeps the separate projection from being
    * re-inlined (non-cheap, referenced 8×). Same device as the pinned
    * loop invariants: compute once, reference many.
    */
  def audioSpectrum8Powers(bytes: Column): Column = {
    val C = Seq(1000L, 707L, 0L, -707L, -1000L, -707L, 0L, 707L)
    val S = Seq(0L, 707L, 1000L, 707L, 0L, -707L, -1000L, -707L)
    val nf = floor(size(bytes) / 8).cast("long")
    def power(k: Int): Column = {
      def fold(tw: Seq[Long], f: Column): Column =
        aggregate(sequence(lit(0L), lit(7L)), lit(0L), (acc, nn) =>
          acc + element_at(bytes, (f * 8 + nn + 1).cast("int")) *
            element_at(typedLit(tw), ((nn * k) % 8 + 1).cast("int")))
      when(nf < 1, 0L).otherwise(
        aggregate(sequence(lit(0L), nf - 1), lit(0L), (acc, f) => {
          val re = fold(C, f)
          val im = fold(S, f)
          acc + re * re + im * im
        }))
    }
    array((1 to 4).map(power): _*)
  }

  /** Distributed decode plumbing — the Scala analog of a `mapInPandas`
    * batch UDF: one decoder instance per partition (amortizing model/codec
    * init), bytes in → fixed-schema features out, executed inside
    * `mapPartitions` with no driver round trips. The DECODER itself is the
    * injection seam (a real build passes JNI/ONNX codecs; tests pass
    * deterministic fakes) — the partitioning, batching, and schema contract
    * here are the production surface.
    *
    * @param decoder  per-partition factory → (id, payload) → feature vector
    */
  def decodePartitions(df: org.apache.spark.sql.DataFrame, idCol: String,
      binCol: String, dim: Int)(
      decoder: () => (Long, Array[Byte]) => Array[Float]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val decode = decoder() // one per partition: codec/model init amortized
        it.map { case (id, bytes) =>
          val f = decode(id, bytes)
          require(f.length == dim, s"decoder returned ${f.length} dims, expected $dim")
          (id, f)
        }
      }
      .toDF(idCol, "features")
  }

  /** DETERMINISTIC STUB for a learned media encoder: element k of the
    * `dim`-sized output is an affine poly-hash of the payload scaled to
    * [0, 1). Replace with a real model server / ONNX runtime in
    * production; every downstream operator (ANN, dedup, clustering)
    * consumes only the (array<double>, dim) contract.
    */
  def fakeEmbedding(bin: Column, dim: Int): Column = {
    val P = 1000000007L
    val h = mediaFingerprint(bin)
    array((0 until dim).map { k =>
      pmod(h * lit(2654435761L % P) + lit(k * 40503L + 1L), lit(P)).cast("double") / lit(P.toDouble)
    }: _*)
  }
}
