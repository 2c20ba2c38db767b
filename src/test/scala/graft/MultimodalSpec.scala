package graft

import graft.functions.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  // minimal real container headers
  private val pngHex = "89504E470D0A1A0A0000000D49484452" +
    "00000140" + "000000F0" // width 320, height 240
  private val gifHex = "474946383961" + "4001" + "F000" // width 320, height 240 (LE)
  private val wavHex = "52494646" + "24000000" + "57415645"
  private val jpgHex = "FFD8FFE000104A464946"

  private lazy val media = Seq(
    ("png", pngHex), ("gif", gifHex), ("wav", wavHex), ("jpg", jpgHex),
    ("junk", "0011223344556677"))
    .toDF("name", "hx").select(col("name"), unhex(col("hx")).as("bin"))

  test("modality sniffing from magic bytes") {
    val out = media.select(col("name"), Multimodal.sniffModality(col("bin")).as("m"))
      .as[(String, String)].collect().toMap
    assert(out("png") == "image/png")
    assert(out("gif") == "image/gif")
    assert(out("wav") == "audio/wav")
    assert(out("jpg") == "image/jpeg")
    assert(out("junk") == "application/octet-stream")
  }

  test("image dimensions parsed from PNG (BE) and GIF (LE) headers") {
    val rows = media.select(col("name"), Multimodal.imageDims(col("bin")).as("d"))
      .filter(col("d").isNotNull)
      .select(col("name"), col("d.width"), col("d.height"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == Set(("png", 320L, 240L), ("gif", 320L, 240L)))
  }

  test("jpeg dimensions from the SOF segment walk, incl. fill bytes and edge cases") {
    val app0 = "FFE000104A46494600010100000100010000"
    val sof0 = "FFC00011" + "08" + "0129" + "0307" + "03011100021101031101" // 297x775
    val sof2 = "FFC20011" + "08" + "00F0" + "0140" + "03011100021101031101" // 240x320
    val dht = "FFC4000500AABB"
    val cases = Seq(
      // baseline: SOI + APP0 + SOF0
      ("base", "FFD8" + app0 + sof0, Some((775L, 297L))),
      // progressive SOF2 after a skipped DHT segment
      ("prog", "FFD8" + app0 + dht + sof2, Some((320L, 240L))),
      // fill bytes (extra 0xFF) and a standalone RST before the SOF
      ("fill", "FFD8" + "FFFFFF" + app0.drop(2) + "FFD0" + sof0, Some((775L, 297L))),
      // EOI before any SOF → no dims
      ("eoi", "FFD8" + app0 + "FFD9", None),
      // SOS before any SOF → no dims
      ("sos", "FFD8" + app0 + "FFDA000C03010002110311003F00" + "AB" * 8, None),
      // truncated mid-segment → no dims
      ("trunc", "FFD8" + "FFE00010" + "4A46", None),
      // desync: segment length points into garbage that is not a marker
      ("junk", "FFD8" + "FFE00004" + "0000" + "1122334455", None))
    val df = cases.map { case (n, hx, _) => (n, hx) }.toDF("name", "hx")
      .select(col("name"), unhex(col("hx")).as("bin"))
    val out = df.select(col("name"), Multimodal.imageDims(col("bin")).as("d"))
      .collect().map { r =>
        val d = r.getStruct(1)
        r.getString(0) -> Option(d).map(s => (s.getLong(0), s.getLong(1)))
      }.toMap
    cases.foreach { case (n, _, expect) =>
      assert(out(n) == expect, s"case $n: got ${out(n)}, expected $expect")
    }
  }

  test("wav fmt metadata from the RIFF chunk walk, incl. preceding chunks and edge cases") {
    // LE helpers over hex strings
    def le16(v: Int) = f"$v%04X".grouped(2).toSeq.reverse.mkString
    def le32(v: Long) = f"$v%08X".grouped(2).toSeq.reverse.mkString
    val riff = "52494646" + le32(100L) + "57415645"
    // fmt: PCM, 2ch, 44100 Hz, byteRate, blockAlign, 16 bits
    val fmt = "666D7420" + le32(16L) + le16(1) + le16(2) + le32(44100L) +
      le32(176400L) + le16(4) + le16(16)
    val list = "4C495354" + le32(4L) + "494E464F"
    val odd = "4C495354" + le32(5L) + "494E464F" + "AA" // odd size → pad byte
    val data = "64617461" + le32(3L) + "AABBCC"
    val cases = Seq(
      ("plain", riff + fmt + data, Some((44100L, 2L, 16L))),
      ("list_first", riff + list + fmt + data, Some((44100L, 2L, 16L))),
      ("odd_chunk_padded", riff + odd + "00" + fmt + data, Some((44100L, 2L, 16L))),
      ("no_fmt", riff + data, None),
      ("not_riff", "0011223344556677889900", None),
      ("truncated_fmt", riff + "666D7420" + le32(16L) + le16(1), None),
      ("implausible_size", riff + "4C495354" + le32(1L << 30) + fmt, None),
      // channels/bits over 255 can't fit their 8-bit slots of the packed
      // long — must be the -1 sentinel, not field bleed
      ("channels_overflow", riff + "666D7420" + le32(16L) + le16(1) + le16(300) +
        le32(44100L) + le32(176400L) + le16(4) + le16(16) + data, None),
      ("bits_overflow", riff + "666D7420" + le32(16L) + le16(1) + le16(2) +
        le32(44100L) + le32(176400L) + le16(4) + le16(512) + data, None))
    val df = cases.map { case (n, hx, _) => (n, hx) }.toDF("name", "hx")
      .select(col("name"), unhex(col("hx")).as("bin"))
    val out = df.select(col("name"), Multimodal.wavFormat(col("bin")).as("f"))
      .collect().map { r =>
        val f = r.getStruct(1)
        r.getString(0) -> Option(f).map(s => (s.getLong(0), s.getLong(1), s.getLong(2)))
      }.toMap
    cases.foreach { case (n, _, expect) =>
      assert(out(n) == expect, s"case $n: got ${out(n)}, expected $expect")
    }
  }

  test("frame windows: count and content of byte windows") {
    val payload = ("AB" * 100) // 100 bytes
    val df = Seq(payload).toDF("hx").select(unhex(col("hx")).as("bin"))
    val frames = df.select(posexplode(Multimodal.frameWindows(col("bin"), 16, 64)))
      .select(col("pos"), hex(col("col")).as("h"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(frames.length == 2) // ceil((100-1)/64)+... = floor(99/64)+1 = 2
    assert(frames(0)._2 == "AB" * 16)
    assert(frames(1)._2 == "AB" * 16) // bytes 65..80 of 100
  }

  test("decodePartitions: per-partition decoder init, schema contract, distributed") {
    val inits = spark.sparkContext.longAccumulator("decoderInits")
    val df = (1L to 100L).map(i => (i, Array.fill(8)(i.toByte)))
      .toDF("doc_id", "bin").repartition(4)
    val out = Multimodal.decodePartitions(df, "doc_id", "bin", dim = 2) { () =>
      inits.add(1) // once per partition, not per row
      (id, bytes) => Array(bytes.length.toFloat, (id % 7).toFloat)
    }
    val rows = out.collect()
    assert(rows.length == 100)
    assert(inits.value == 4)
    val r = out.filter(col("doc_id") === 10L).select("features").as[Seq[Float]].head()
    assert(r == Seq(8.0f, 3.0f))
  }

  test("resize stub halves header dims, subsamples body, passes non-images through") {
    // PNG 6x4 with a 5-byte body
    val png = "89504E470D0A1A0A0000000D49484452" + "00000006" + "00000004" + "0102030405"
    val gif = "474946383961" + "0600" + "0400" + "AABBCC"
    val wav = "52494646" + "24000000" + "57415645" + "FF"
    // JPEG: SOI + SOF0(precision 8, h=4, w=6, 1 component) + SOS + 5-byte
    // entropy body = 25 header bytes before the body
    val jpg = "FFD8" + "FFC0" + "000B" + "08" + "0004" + "0006" + "01" + "011100" +
      "FFDA" + "0008" + "01" + "0100" + "003F00" + "0102030405"
    val rows = Seq(png, gif, wav, jpg).toDF("hx")
      .select(graft.functions.KernelExpressions.resizeStub(unhex(col("hx")), 2).as("rz"))
      .withColumn("dims", Multimodal.imageDims(col("rz")))
      .select(col("dims.width"), col("dims.height"), length(col("rz")))
      .collect()
    assert(rows(0).getLong(0) == 3L && rows(0).getLong(1) == 2L)
    assert(rows(0).getInt(2) == 24 + 3) // ceil(5/2) body bytes kept
    assert(rows(1).getLong(0) == 3L && rows(1).getLong(1) == 2L)
    assert(rows(1).getInt(2) == 10 + 2) // ceil(3/2)
    assert(rows(2).isNullAt(0) && rows(2).getInt(2) == 13) // WAV untouched
    // JPEG: SOF dims patched through the marker walk, entropy body halved
    assert(rows(3).getLong(0) == 3L && rows(3).getLong(1) == 2L)
    assert(rows(3).getInt(2) == 25 + 3) // headers intact + ceil(5/2) body
  }

  test("mp4Meta walks the box tree and rejects malformed payloads") {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ t.getBytes ++ body
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(90000) ++ be32(1234))
    val good = box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("moov", box("free", be32(0)) ++ mvhd) ++ box("mdat", "xx".getBytes)
    assert(graft.functions.Kernels.mp4Meta(good) == (90000L << 24 | 1234L))
    // no ftyp leader
    assert(graft.functions.Kernels.mp4Meta(box("moov", mvhd)) == -1L)
    // child box overruns its parent
    val bad = box("ftyp", be32(0)) ++
      (be32(24L) ++ "moov".getBytes ++ be32(100L) ++ "mvhd".getBytes ++ be32(0))
    assert(graft.functions.Kernels.mp4Meta(bad) == -1L)
    // v1 mvhd (64-bit times) is out of contract
    val v1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(1))
    assert(graft.functions.Kernels.mp4Meta(
      box("ftyp", be32(0)) ++ box("moov", v1)) == -1L)
  }

  test("dhash60: gradient-sign bits fold MSB-first; short payloads are null") {
    // 61 bytes: strictly increasing -> every b[i] > b[i+1] false -> sig 0;
    // strictly decreasing -> all 60 bits set
    val inc = (0 until 61).map(_.toByte).toArray
    val dec = (0 until 61).map(i => (100 - i).toByte).toArray
    // descending except one ascending step at the FIRST comparison ->
    // the missing bit is the MSB (bit 59)
    val flip = dec.clone(); flip(0) = 0.toByte
    val df = Seq(("inc", inc), ("dec", dec), ("flip", flip),
      ("short", inc.take(60))).toDF("id", "bin")
    val out = df.select(col("id"), Multimodal.dhash60(col("bin")).as("sig"))
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(out("inc") === Some(0L))
    assert(out("dec") === Some((1L << 60) - 1))
    assert(out("flip") === Some((1L << 60) - 1 - (1L << 59)))
    assert(out("short") === None)
  }

  test("fake embedding is deterministic, dim-sized, in [0,1)") {
    val df = Seq("CAFEBABE").toDF("hx").select(unhex(col("hx")).as("bin"))
    val e1 = df.select(Multimodal.fakeEmbedding(col("bin"), 8)).as[Seq[Double]].head()
    val e2 = df.select(Multimodal.fakeEmbedding(col("bin"), 8)).as[Seq[Double]].head()
    assert(e1 == e2)
    assert(e1.size == 8)
    assert(e1.forall(v => v >= 0.0 && v < 1.0))
    assert(e1.distinct.size > 1) // not constant across dimensions
  }
}
