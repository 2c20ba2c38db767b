package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Multimodal
import graft.registry.Shared._

/** Registry rows `m_*`: multimodal columns, binary payloads with typed
  * metadata. */
object MediaRows extends Family {

  /** Synthetic media payloads derived from the documents table (the test
    * corpus has no binary column): doc_id picks the container, the header
    * encodes REAL dimensions (n_chars × doc_id mod 100) in the documented
    * byte layout, the document text is the body. The operators then
    * re-derive everything from the BYTES alone.
    */
  private def mediaPayloads(s: SparkSession, dir: String): DataFrame = {
    def be32(c: Column) = unhex(lpad(hex(c), 8, "0"))
    def le16(c: Column) = unhex(concat(
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 3, 2),
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 1, 2)))
    t(s, dir, "documents").select(
      col("doc_id"), col("n_chars"),
      when(col("doc_id") % 3 === 0,
        // PNG: signature + IHDR length/tag + width/height (big-endian)
        concat(unhex(lit("89504E470D0A1A0A0000000D49484452")),
          be32(col("n_chars")), be32(col("doc_id") % 100), encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 3 === 1,
          // GIF89a: signature + logical screen w/h (little-endian uint16)
          concat(unhex(lit("474946383961")),
            le16(col("n_chars")), le16(col("doc_id") % 100), encode(col("text"), "UTF-8")))
        .otherwise(
          // RIFF/WAVE audio container
          concat(unhex(lit("52494646")), be32(length(encode(col("text"), "UTF-8")) + 36),
            unhex(lit("57415645")), encode(col("text"), "UTF-8")))
        .as("payload"))
  }

  /** Modality sniffing from magic bytes + byte-size stats per modality. */
  private def mModalityStats(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .select(Multimodal.sniffModality(col("payload")).as("modality"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n"), round(avg(col("byte_len")), 4).as("avg_bytes"))
  row("m_modality_stats", mModalityStats)(
    """SELECT modality, count(*) AS n, round(avg(byte_len), 4) AS avg_bytes FROM (
           SELECT CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                  ELSE 'audio/wav' END AS modality,
                  CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 12 END
                       + octet_length(encode(text)) AS BIGINT) AS byte_len
           FROM documents)
         GROUP BY modality""")

  /** Image dimensions parsed from container headers (PNG big-endian IHDR,
    * GIF little-endian screen descriptor) — the oracle states the encoded
    * ground truth independently, so the byte parsing is fully checked.
    */
  private def mImageDims(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .withColumn("dims", Multimodal.imageDims(col("payload")))
      .filter(col("dims").isNotNull)
      .select(col("doc_id"), col("dims.width").as("width"), col("dims.height").as("height"))
  row("m_image_dims", mImageDims)(
    """SELECT doc_id, CAST(n_chars AS BIGINT) AS width,
                CAST(doc_id % 100 AS BIGINT) AS height
         FROM documents WHERE doc_id % 3 IN (0, 1)""")

  /** The resize seam over the planted image payloads: headers transform
    * exactly (dims halve), bodies subsample to ceil(n/2) bytes, and the
    * standard dims operator reads the RESIZED payloads — proving the seam
    * composes with the rest of the multimodal surface.
    */
  private def mResizeStub(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .withColumn("rz", graft.functions.KernelExpressions.resizeStub(col("payload"), 2))
      .withColumn("dims", Multimodal.imageDims(col("rz")))
      .filter(col("dims").isNotNull)
      .select(col("doc_id"), col("dims.width").as("width"),
        col("dims.height").as("height"),
        length(col("rz")).cast("long").as("byte_len"))
  row("m_resize_stub", mResizeStub)(
    """SELECT doc_id,
           CAST(n_chars // 2 AS BIGINT) AS width,
           CAST((doc_id % 100) // 2 AS BIGINT) AS height,
           CAST(CASE doc_id % 3 WHEN 0 THEN 24 ELSE 10 END
                + (octet_length(encode(text)) + 1) // 2 AS BIGINT) AS byte_len
         FROM documents WHERE doc_id % 3 IN (0, 1)""")

  /** Content fingerprint + deterministic stub embedding (the decoder seam):
    * both are engine-reproducible byte folds the oracle replays over the
    * same constructed payloads.
    */
  private def mMediaFingerprint(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .select(col("doc_id"),
        Multimodal.mediaFingerprint(col("payload")).as("fp"),
        round(element_at(Multimodal.fakeEmbedding(col("payload"), 4), 1), 6).as("embed_0"))
  row("m_media_fingerprint", mMediaFingerprint) {
    // the oracle rebuilds the payload's HEX rendering as a string and
    // replays the same fingerprint fold + stub-embedding affine
    val payloadHex =
      """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
    s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents),
         f AS (SELECT doc_id,
             list_reduce([0::BIGINT] || list_transform(string_split(ph, ''), ch -> ascii(ch)::BIGINT),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
           FROM p)
         SELECT doc_id, fp,
           round(((fp * (2654435761 % 1000000007) + 1) % 1000000007)::DOUBLE / 1000000007.0, 6) AS embed_0
         FROM f"""
  }

  /** Perceptual-hash image near-dup: dHash over the first 61 decoded body
    * bytes ([[Multimodal.dhash60]]) on the image payloads, paired by the
    * same exact 15-bit pigeonhole blocking the text SimHash uses
    * ([[graft.operators.Dedup.hammingPairs60]]) — the image half of
    * near-dup removal, sharing the text half's join machinery. The oracle
    * recomputes the gradient-sign hash from the body bytes and verifies
    * the full pair set.
    */
  private def mPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val body = when(col("doc_id") % 3 === 0, substring(col("payload"), 25, 61))
      .otherwise(substring(col("payload"), 11, 61))
    val sigs = mediaPayloads(s, dir)
      .filter(col("doc_id") % 3 =!= 2) // images only; audio has no pixels
      .select(col("doc_id").as("id"), Multimodal.dhash60(body).as("sig"))
      .filter(col("sig").isNotNull)
    graft.operators.Dedup.hammingPairs60(sigs, maxDistance = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
  row("m_phash_neardup", mPhashNeardup)(
    """WITH img AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 3 IN (0, 1) AND octet_length(encode(text)) >= 61),
         cs AS (SELECT doc_id,
             list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS b
           FROM img),
         sig AS (SELECT doc_id, list_reduce(
             [0::BIGINT] || list_transform(range(1, 61),
               i -> CASE WHEN b[i] > b[i + 1] THEN 1::BIGINT ELSE 0::BIGINT END),
             (acc, x) -> acc * 2 + x) AS sig
           FROM cs)
         SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, c.sig)) AS BIGINT) AS hamming
         FROM sig a JOIN sig c
           ON a.doc_id < c.doc_id AND bit_count(xor(a.sig, c.sig)) <= 3""")

  /** Frame-sampling plumbing: 16-byte windows every 64 bytes, exploded with
    * frame indices — the shape a video decoder plugs into.
    */
  private def mFrameSample(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(Multimodal.frameWindows(col("payload"), 16, 64)).as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        hex(col("frame")).as("frame_hex"))
  row("m_frame_sample", mFrameSample) {
    val payloadHex =
      """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
    s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents WHERE doc_id < 50)
         SELECT doc_id, fi AS frame_idx, substr(ph, CAST(fi * 128 + 1 AS BIGINT), 32) AS frame_hex
         FROM p, unnest(range(0, ((length(ph) // 2 - 1) // 64) + 1)) AS u(fi)"""
  }

  /** Scene-cut detection over the sampled frame stream: per-frame dHash
    * signatures, each snapped to its 3-frame group head (the planted
    * "still segment" — a real decoder feeds actual frames; the detector
    * logic is what's under test), then a cut wherever consecutive
    * signatures differ by > 10 bits. One narrow explode + two windows per
    * document — frame-count-scale, the text never shuffles; the oracle
    * replays container bytes, windows, per-frame dHash, the group snap,
    * and the hamming gate.
    */
  private def mSceneCuts(s: SparkSession, dir: String): DataFrame = {
    val frames = mediaPayloads(s, dir)
      .select(col("doc_id"),
        posexplode(Multimodal.frameWindows(col("payload"), 64, 64))
          .as(Seq("fi", "frame")))
      .withColumn("sig", Multimodal.dhash60(col("frame")))
      .filter(col("sig").isNotNull) // trailing sub-61-byte frames carry no hash
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), expr("fi div 3")).orderBy(col("fi"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fi"))
    frames
      .withColumn("gsig", first(col("sig")).over(wg))
      .withColumn("prev", lag(col("gsig"), 1).over(w))
      .withColumn("is_cut", when(col("prev").isNotNull &&
        bit_count(col("gsig").bitwiseXOR(col("prev"))) > 10, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("is_cut")).as("n_cuts"))
  }
  row("m_scene_cuts", mSceneCuts) {
    val payloadHex =
      """(CASE doc_id % 3
            WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || lpad(to_hex(n_chars), 8, '0')
                 || lpad(to_hex(doc_id % 100), 8, '0') || hex(encode(text))
            WHEN 1 THEN '474946383961'
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(n_chars % 65536), 4, '0'), 1, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 3, 2)
                 || substr(lpad(to_hex(doc_id % 100), 4, '0'), 1, 2)
                 || hex(encode(text))
            ELSE '52494646' || lpad(to_hex(octet_length(encode(text)) + 36), 8, '0')
                 || '57415645' || hex(encode(text))
            END)"""
    s"""WITH p AS (SELECT doc_id, $payloadHex AS ph FROM documents),
         fr AS (SELECT doc_id, fi,
             substr(ph, CAST(fi * 128 + 1 AS BIGINT), 128) AS fh
           FROM p, unnest(range(0, ((length(ph) // 2 - 1) // 64) + 1)) AS u(fi)
           ),
         sig AS (SELECT doc_id, fi, list_reduce(
             [0::BIGINT] || list_transform(range(1, 61),
               j -> CASE WHEN ('0x' || substr(fh, (j - 1) * 2 + 1, 2))::BIGINT >
                              ('0x' || substr(fh, j * 2 + 1, 2))::BIGINT
                    THEN 1::BIGINT ELSE 0::BIGINT END),
             (acc, x) -> acc * 2 + x) AS sig
           FROM fr WHERE length(fh) >= 122),
         gs AS (SELECT doc_id, fi, first_value(sig) OVER (
             PARTITION BY doc_id, fi // 3 ORDER BY fi) AS gsig FROM sig),
         cuts AS (SELECT doc_id, gsig, lag(gsig) OVER (
             PARTITION BY doc_id ORDER BY fi) AS prev FROM gs)
         SELECT doc_id, count(*)::BIGINT AS n_frames,
           sum(CASE WHEN prev IS NOT NULL AND bit_count(xor(gsig, prev)) > 10
               THEN 1 ELSE 0 END)::BIGINT AS n_cuts
         FROM cuts GROUP BY 1"""
  }

  /** Audio feature extraction from the WAV payloads: RMS + peak over the
    * PCM body bytes — the oracle recomputes both from the text bytes the
    * container was built from, so the byte-offset arithmetic is fully
    * checked.
    */
  private def mAudioEnergy(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(Multimodal.sniffModality(col("payload")) === "audio/wav")
      .withColumn("st", Multimodal.wavAudioStats(col("payload")))
      .select(col("doc_id"), round(col("st.rms"), 6).as("rms"), col("st.peak").as("peak"))
  row("m_audio_energy", mAudioEnergy)(
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
                    FROM documents WHERE doc_id % 3 = 2),
         b AS (SELECT doc_id, list_transform(range(1, length(hx) // 2 + 1),
                 i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))::BIGINT) AS bytes
               FROM h)
         SELECT doc_id,
           round(CASE WHEN len(bytes) = 0 THEN 0.0 ELSE
             sqrt(list_sum(list_transform(bytes, x -> x * x))::DOUBLE / len(bytes)) END, 6) AS rms,
           CAST(coalesce(list_max(bytes), 0) AS BIGINT) AS peak
         FROM b""")

  /** JPEG dimensions via the SOF marker-segment walk
    * ([[graft.functions.Kernels.jpegDims]]): planted JPEGs are SOI + JFIF
    * APP0 + (even doc_id) a DHT filler segment + SOF0/SOF2 carrying real
    * planted dimensions + SOS + the document text as entropy body. The SOF
    * sits at a VARIABLE offset (extra segment, baseline vs progressive), so
    * unlike PNG/GIF the oracle cannot state fixed offsets — it replays the
    * same segment walk as a recursive byte-walk CTE over the hex rendering.
    */
  private def mJpegDims(s: SparkSession, dir: String): DataFrame = {
    val h16 = lpad(hex(col("doc_id") % 300 + 1), 4, "0")
    val w16 = lpad(hex(col("n_chars") % 1000 + 1), 4, "0")
    val ph = concat(
      lit("FFD8FFE000104A46494600010100000100010000"),
      when(col("doc_id") % 2 === 0, lit("FFC4000500AABB")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("FFC0")).otherwise(lit("FFC2")),
      lit("001108"), h16, w16, lit("03011100021101031101"),
      lit("FFDA000C03010002110311003F00"),
      hex(encode(col("text"), "UTF-8")))
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(ph).as("payload"))
      .withColumn("dims", Multimodal.imageDims(col("payload")))
      .select(col("doc_id"), col("dims.width").as("width"), col("dims.height").as("height"))
  }
  row("m_jpeg_dims", mJpegDims)(
    // Recursive segment walk mirroring Kernels.jpegDims: `pos` is the
    // 1-based byte index of the current marker's 0xFF (byte i lives at hex
    // offset (i-1)*2+1); recurse past non-SOF segments by 2 + BE16 length,
    // stop at SOF (192-207 minus DHT 196 / JPG 200 / DAC 204), SOS 218,
    // EOI 217, or end of buffer; emit height/width from the SOF payload.
    """WITH RECURSIVE p AS (
           SELECT doc_id,
             'FFD8FFE000104A46494600010100000100010000'
             || CASE WHEN doc_id % 2 = 0 THEN 'FFC4000500AABB' ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END
             || '001108' || lpad(to_hex(doc_id % 300 + 1), 4, '0')
             || lpad(to_hex(n_chars % 1000 + 1), 4, '0')
             || '03011100021101031101'
             || 'FFDA000C03010002110311003F00' || hex(encode(text)) AS ph
           FROM documents),
         walk AS (
           SELECT doc_id, ph, 3::BIGINT AS pos FROM p
           UNION ALL
           SELECT doc_id, ph,
             pos + 2 + ('0x' || substr(ph, (pos + 1) * 2 + 1, 2))::BIGINT * 256
                     + ('0x' || substr(ph, (pos + 2) * 2 + 1, 2))::BIGINT
           FROM walk
           WHERE ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (217, 218)
             AND NOT (('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT BETWEEN 192 AND 207
                      AND ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (196, 200, 204))
             AND (pos + 3) * 2 <= length(ph))
         SELECT doc_id,
           ('0x' || substr(ph, (pos + 6) * 2 + 1, 2))::BIGINT * 256
             + ('0x' || substr(ph, (pos + 7) * 2 + 1, 2))::BIGINT AS width,
           ('0x' || substr(ph, (pos + 4) * 2 + 1, 2))::BIGINT * 256
             + ('0x' || substr(ph, (pos + 5) * 2 + 1, 2))::BIGINT AS height
         FROM walk
         WHERE ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT BETWEEN 192 AND 207
           AND ('0x' || substr(ph, pos * 2 + 1, 2))::BIGINT NOT IN (196, 200, 204)""")

  /** WAV metadata extraction over properly-chunked RIFF payloads: every doc
    * becomes a WAV whose fmt chunk carries planted sample rate / channels /
    * bit depth, with (even ids) a LIST/INFO chunk inserted BEFORE fmt — the
    * fmt offset varies, so only the chunk walk
    * ([[graft.functions.Kernels.wavFormat]]) recovers the values the
    * oracle states independently from the planting formulas.
    */
  private def mWavFormat(s: SparkSession, dir: String): DataFrame = {
    def le16(c: Column) = unhex(concat(
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 3, 2),
      substring(lpad(hex(c.bitwiseAND(0xFFFF)), 4, "0"), 1, 2)))
    def le32(c: Column) = {
      val h = lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0")
      unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)))
    }
    val sampleRate = element_at(
      typedLit(Seq(8000L, 16000L, 22050L, 44100L)), (col("doc_id") % 4 + 1).cast("int"))
    val channels = col("doc_id") % 2 + 1
    val bits = (col("doc_id") % 2 + 1) * 8
    val data = encode(col("text"), "UTF-8")
    val listChunk = when(col("doc_id") % 2 === 0,
      concat(unhex(lit("4C495354")), le32(lit(4L)), unhex(lit("494E464F"))))
      .otherwise(lit(Array.empty[Byte]))
    val fmtChunk = concat(unhex(lit("666D7420")), le32(lit(16L)),
      le16(lit(1L)), le16(channels), le32(sampleRate),
      le32(sampleRate * channels * (col("doc_id") % 2 + 1)),
      le16(channels * (col("doc_id") % 2 + 1)), le16(bits))
    val riffSize = lit(4L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) +
      lit(24L) + lit(8L) + length(data)
    val payload = concat(unhex(lit("52494646")), le32(riffSize),
      unhex(lit("57415645")), listChunk, fmtChunk,
      unhex(lit("64617461")), le32(length(data)), data)
    t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      .withColumn("f", Multimodal.wavFormat(col("payload")))
      .select(col("doc_id"), col("f.sample_rate").as("sample_rate"),
        col("f.channels").as("channels"), col("f.bits").as("bits"))
  }
  row("m_wav_format", mWavFormat)(
    // ground truth stated from the planting formulas — the byte walk must
    // recover them through the variable-offset chunk layout
    """SELECT doc_id,
         CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
         CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
         CAST((doc_id % 2 + 1) * 8 AS BIGINT) AS bits
         FROM documents""")

  /** MP4 movie-header recovery through the ISO-BMFF box walk: payloads are
    * planted with a variable layout (an optional `free` sibling before
    * `mvhd` inside `moov`, like m_wav_format's optional LIST chunk) so the
    * kernel must actually hop box headers; the oracle states the planting
    * formulas as ground truth.
    */
  private def mMp4Meta(s: SparkSession, dir: String): DataFrame = {
    def be32(c: Column) = unhex(lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0"))
    val timescale = element_at(
      typedLit(Seq(600L, 1000L, 24000L, 90000L)), (col("doc_id") % 4 + 1).cast("int"))
    val duration = (col("n_chars") % 10000L) * 100L + col("doc_id") % 100L
    val ftyp = concat(be32(lit(16L)), lit("ftyp".getBytes), lit("isom".getBytes),
      be32(lit(0L)))
    val mvhd = concat(be32(lit(28L)), lit("mvhd".getBytes), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0L)), be32(timescale), be32(duration))
    val free = when(col("doc_id") % 2 === 0,
      concat(be32(lit(12L)), lit("free".getBytes), be32(lit(0L))))
      .otherwise(lit(Array.empty[Byte]))
    val moovSize = lit(8L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) + lit(28L)
    val data = encode(col("text"), "UTF-8")
    val mdat = concat(be32(length(data).cast("long") + 8L), lit("mdat".getBytes), data)
    val payload = concat(ftyp, be32(moovSize), lit("moov".getBytes), free, mvhd, mdat)
    t(s, dir, "documents").select(col("doc_id"), col("n_chars"), payload.as("payload"))
      .withColumn("m", Multimodal.mp4Meta(col("payload")))
      .select(col("doc_id"), col("m.timescale").as("timescale"),
        col("m.duration").as("duration"))
  }
  row("m_mp4_meta", mMp4Meta)(
    // ground truth stated from the planting formulas — the box walk must
    // recover them through the variable (optional-free-box) layout
    """SELECT doc_id,
         CAST(CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
              WHEN 2 THEN 24000 ELSE 90000 END AS BIGINT) AS timescale,
         CAST((n_chars % 10000) * 100 + doc_id % 100 AS BIGINT) AS duration
         FROM documents""")

  /** Frequency-domain audio features over the WAV payloads: per-bin power
    * from the windowed integer-twiddle 8-point DFT
    * ([[Multimodal.audioSpectrum8]]) plus the dominant bin — real DSP
    * arithmetic (the voice-activity/tone-detection front end) kept exact
    * int64 on both engines, so the oracle replays every re/im/power fold
    * bit for bit over the same body bytes as `m_audio_energy`.
    */
  private def mAudioSpectrum(s: SparkSession, dir: String): DataFrame =
    mediaPayloads(s, dir)
      .filter(Multimodal.sniffModality(col("payload")) === "audio/wav")
      // each array materialized in its OWN projection — see the
      // audioSpectrum8Powers scaladoc on HOF re-evaluation
      .withColumn("bytes", Multimodal.byteValues(col("payload"), 13))
      .withColumn("ps", Multimodal.audioSpectrum8Powers(col("bytes")))
      .select(col("doc_id"),
        array_position(col("ps"), array_max(col("ps"))).as("dom_bin"),
        element_at(col("ps"), 1).as("p1"), element_at(col("ps"), 2).as("p2"),
        element_at(col("ps"), 3).as("p3"), element_at(col("ps"), 4).as("p4"))
  row("m_audio_spectrum", mAudioSpectrum)(
    // the integer-twiddle DFT replayed exactly: same body bytes as
    // m_audio_energy, nested lambdas re-deriving per-frame re/im/power
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
                    FROM documents WHERE doc_id % 3 = 2),
         b AS (SELECT doc_id, list_transform(range(1, length(hx) // 2 + 1),
                 i -> ('0x' || substr(hx, CAST((i - 1) * 2 + 1 AS BIGINT), 2))::BIGINT) AS bytes
               FROM h),
         pz AS (SELECT doc_id, bytes, len(bytes) // 8 AS nf,
                 [1000,707,0,-707,-1000,-707,0,707] AS c,
                 [0,707,1000,707,0,-707,-1000,-707] AS s
                FROM b),
         pk AS (SELECT doc_id, list_transform([1,2,3,4], k ->
                 CAST(coalesce(list_sum(list_transform(
                   list_transform(range(0, CAST(nf AS BIGINT)), f ->
                     {'re': list_sum(list_transform(range(0, 8), n ->
                        bytes[CAST(f * 8 + n + 1 AS BIGINT)] * c[CAST((n * k) % 8 + 1 AS BIGINT)])),
                      'im': list_sum(list_transform(range(0, 8), n ->
                        bytes[CAST(f * 8 + n + 1 AS BIGINT)] * s[CAST((n * k) % 8 + 1 AS BIGINT)]))}),
                   x -> x.re * x.re + x.im * x.im)), 0) AS BIGINT)) AS ps
                FROM pz)
         SELECT doc_id, CAST(list_position(ps, list_max(ps)) AS BIGINT) AS dom_bin,
           ps[1] AS p1, ps[2] AS p2, ps[3] AS p3, ps[4] AS p4
         FROM pk""")

  /** AVI main-header recovery through the RIFF list walk: payloads are
    * planted with a variable layout (an optional JUNK padding chunk before
    * `LIST hdrl`, as real muxers emit) so the kernel must actually hop
    * chunk headers; the oracle states the planting formulas as ground
    * truth. The REAL pixel path over this container —
    * [[graft.functions.ImageDecode.aviMjpegFrameGrids]] decoding `00dc`
    * MJPEG frame chunks, including table-less frames — is spec-covered
    * (`AviDecodeSpec`), like the GIF/JPEG decoders: a codec round-trip
    * cannot be replayed in the SQL oracle.
    */
  private def mAviMeta(s: SparkSession, dir: String): DataFrame = {
    def le32(c: Column) = {
      val h = lpad(hex(c.bitwiseAND(0xFFFFFFFFL)), 8, "0")
      unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)))
    }
    val usPerFrame = element_at(
      typedLit(Seq(16666L, 33333L, 40000L, 41666L)), (col("doc_id") % 4 + 1).cast("int"))
    val width = col("n_chars") % 1000 + 16
    val height = col("doc_id") % 480 + 16
    val frames = col("doc_id") % 200 + 1
    val avihBody = concat(le32(usPerFrame), le32(lit(0L)), le32(lit(0L)),
      le32(lit(0L)), le32(frames), le32(lit(0L)), le32(lit(1L)), le32(lit(0L)),
      le32(width), le32(height),
      le32(lit(0L)), le32(lit(0L)), le32(lit(0L)), le32(lit(0L))) // dwReserved[4]
    val hdrlList = concat(lit("LIST".getBytes), le32(lit(68L)),
      lit("hdrl".getBytes), lit("avih".getBytes), le32(lit(56L)), avihBody)
    val junk = when(col("doc_id") % 2 === 0,
      concat(lit("JUNK".getBytes), le32(lit(4L)), le32(lit(0L))))
      .otherwise(lit(Array.empty[Byte]))
    val data = encode(col("text"), "UTF-8")
    val moviList = concat(lit("LIST".getBytes), le32(length(data) + 12L),
      lit("movi".getBytes), lit("00dc".getBytes), le32(length(data).cast("long")), data)
    val riffSize = lit(4L) + when(col("doc_id") % 2 === 0, 12L).otherwise(0L) +
      lit(76L) + lit(20L) + length(data)
    val payload = concat(lit("RIFF".getBytes), le32(riffSize),
      lit("AVI ".getBytes), junk, hdrlList, moviList)
    t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      .withColumn("m", Multimodal.aviMeta(col("payload")))
      .select(col("doc_id"), col("m.width").as("width"),
        col("m.height").as("height"), col("m.frames").as("frames"),
        col("m.us_per_frame").as("us_per_frame"))
  }
  row("m_avi_meta", mAviMeta)(
    // ground truth stated from the planting formulas — the RIFF list walk
    // must recover them through the variable (optional-JUNK-chunk) layout
    """SELECT doc_id,
         CAST(n_chars % 1000 + 16 AS BIGINT) AS width,
         CAST(doc_id % 480 + 16 AS BIGINT) AS height,
         CAST(doc_id % 200 + 1 AS BIGINT) AS frames,
         CAST(CASE doc_id % 4 WHEN 0 THEN 16666 WHEN 1 THEN 33333
              WHEN 2 THEN 40000 ELSE 41666 END AS BIGINT) AS us_per_frame
         FROM documents""")
}
