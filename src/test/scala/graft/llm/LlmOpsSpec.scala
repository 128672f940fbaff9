package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic checks for the LLM-pipeline operators (the oracle gate
  * checks cross-engine equality; these check meaning).
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup: identical normalized texts collapse to one row") {
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val groups = fp.groupBy("fp").agg(
      min("doc_id").as("canonical"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(1L) == 2) // docs 1+2 are the same after normalization
    assert(groups(3L) == 1)
  }

  test("minhash: identical docs share all bands; disjoint docs none") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("poly_hash (codegen) == HOF fold == Scala reference") {
    graft.functions.PolyHash.register(spark)
    // includes non-ASCII and supplementary-plane (𝕏 = U+1D54F) input:
    // all three formulations fold CODEPOINTS, so they must agree
    // beyond the BMP too.
    val df = Seq("alpha beta gamma", "x", "the quick brown fox",
        "café 日本語", "emoji 𝕏 mix")
      .toDF("t")
      .select(col("t"), Dedup.tokenHash(col("t")).as("hof"),
        graft.functions.PolyHash.poly_hash(col("t")).as("cg"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2))
      assert(r.getLong(2) == graft.functions.PolyHash.hash(r.getString(0)))
    }
  }

  test("shingle_hashes == poly_hash of the materialized shingle strings") {
    graft.functions.PolyHash.register(spark)
    graft.functions.ShinglePolyHash.register(spark)
    val df = Seq("the quick brown fox jumps", "a b c", "x y")
      .toDF("text")
      .select(
        graft.functions.ShinglePolyHash
          .shingle_hashes(split(lower(col("text")), " "), lit(3))
          .as("fused"),
        transform(Dedup.shingles(col("text")),
          t => graft.functions.PolyHash.poly_hash(t)).as("viaStrings"))
    df.collect().foreach { r =>
      // shingles() dedupes strings; fused keeps all windows — compare sets
      assert(r.getSeq[Long](0).toSet == r.getSeq[Long](1).toSet)
    }
  }

  test("cosine: orthogonal = 0, identical = 1; VecDot == HOF fold") {
    graft.functions.VecDot.register(spark)
    val pairsDf = Seq((Array(1.5, 2.5, -3.0), Array(0.5, -1.0, 2.0)))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("cg"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
    val r = pairsDf.collect().head
    assert(r.getDouble(0) == r.getDouble(1)) // bit-identical fold
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(2.0, 0.0))
    ).toDF("id", "v")
    val pairs = df.alias("a").crossJoin(df.alias("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(pairs((1L, 2L))) < 1e-12)
    assert(math.abs(pairs((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(pairs((1L, 1L)) - 1.0) < 1e-12)
  }

  test("multimodal: feature extraction runs per-partition, stub is deterministic") {
    val items = Multimodal.mediaFromDocuments(spark, sf())
    val feats = Multimodal.extractFeatures(items)
    val f = feats.filter(col("media_id") === 0).collect().head
    val again = Multimodal.extractFeatures(items)
      .filter(col("media_id") === 0).collect().head
    assert(f == again)
    assert(f.n_bytes > 0 && f.checksum > 0)
    // image kind decodes to bounded dimensions
    val img = feats.filter(col("kind") === "image").limit(5).collect()
    assert(img.forall(m => m.width < 1920 && m.height < 1080))
  }

  test("multimodal: real BMP/WAV header parses return true dims/duration") {
    // Craft a minimal 2×3 bottom-up BMP: "BM" magic, 54-byte headers,
    // width=2 at offset 18, height=3 at offset 22 (little-endian).
    def putLe32(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = (v & 0xff).toByte
      a(off + 1) = ((v >> 8) & 0xff).toByte
      a(off + 2) = ((v >> 16) & 0xff).toByte
      a(off + 3) = ((v >> 24) & 0xff).toByte
    }
    val bmp = new Array[Byte](54 + 24)
    bmp(0) = 'B'.toByte; bmp(1) = 'M'.toByte
    putLe32(bmp, 2, bmp.length) // file size
    putLe32(bmp, 10, 54)        // pixel data offset
    putLe32(bmp, 14, 40)        // BITMAPINFOHEADER size
    putLe32(bmp, 18, 2)         // width
    putLe32(bmp, 22, 3)         // height (bottom-up)
    assert(Multimodal.decodeBmp(bmp).contains((2, 3)))
    // top-down DIB: negative height decodes to |height|
    putLe32(bmp, 22, -3)
    assert(Multimodal.decodeBmp(bmp).contains((2, 3)))
    // not a BMP → None (stub path)
    assert(Multimodal.decodeBmp("plain text".getBytes).isEmpty)

    // Canonical 44-byte WAV header, byte rate 8000 B/s, 4000 data bytes
    // → 500 ms.
    val wav = new Array[Byte](44 + 4000)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, wav, 0, 4)
    System.arraycopy("WAVE".getBytes("US-ASCII"), 0, wav, 8, 4)
    putLe32(wav, 28, 8000)
    assert(Multimodal.decodeWav(wav).contains(500L))
    assert(Multimodal.decodeWav("RIFFxxxx".getBytes).isEmpty)

    // End-to-end through the Spark mapPartitions path: real dims/duration
    // come out of extractFeatures for BMP/WAV rows, stub for others.
    import spark.implicits._
    val items = Seq(
      Multimodal.MediaItem(1L, "image", bmp, "t"),
      Multimodal.MediaItem(2L, "audio", wav, "t"),
      Multimodal.MediaItem(3L, "image", "not a bmp".getBytes, "t")
    ).toDS()
    val out = Multimodal.extractFeatures(items).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(1L).width == 2 && out(1L).height == 3)
    assert(out(2L).duration_ms == 500L)
    val (sw, sh, _) = Multimodal.decodeStub("image", "not a bmp".getBytes)
    assert(out(3L).width == sw && out(3L).height == sh)
  }

  test("multimodal: real PNG/JPEG header parses return true dims") {
    def putBe32(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >> 24) & 0xff).toByte
      a(off + 1) = ((v >> 16) & 0xff).toByte
      a(off + 2) = ((v >> 8) & 0xff).toByte
      a(off + 3) = (v & 0xff).toByte
    }
    // Minimal PNG: 8-byte signature, then IHDR (len 13, type, w, h).
    val png = new Array[Byte](8 + 4 + 4 + 13 + 4)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).zipWithIndex
      .foreach { case (b, i) => png(i) = b.toByte }
    putBe32(png, 8, 13)
    System.arraycopy("IHDR".getBytes("US-ASCII"), 0, png, 12, 4)
    putBe32(png, 16, 640) // width
    putBe32(png, 20, 480) // height
    assert(Multimodal.decodePng(png).contains((640, 480)))
    // zero width → implausible → None
    putBe32(png, 16, 0)
    assert(Multimodal.decodePng(png).isEmpty)
    assert(Multimodal.decodePng("plain text".getBytes).isEmpty)

    // Minimal JPEG: SOI, an APP0 segment to skip, then SOF0 with
    // height 33 / width 49 (big-endian INT16 after 1 precision byte).
    def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(6) ++
      Array[Byte](1, 2, 3, 4)
    val sof0 = Array(0xff, 0xc0).map(_.toByte) ++ be16(11) ++
      Array[Byte](8) ++ be16(33) ++ be16(49) ++ Array[Byte](3, 0, 0, 0)
    val jpg = Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ sof0
    assert(Multimodal.decodeJpeg(jpg).contains((49, 33)))
    // progressive (SOF2) carries dims the same way
    val sof2 = sof0.updated(1, 0xc2.toByte)
    val jpg2 = Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ sof2
    assert(Multimodal.decodeJpeg(jpg2).contains((49, 33)))
    // DHT (C4) is NOT a frame marker and must be skipped, not parsed
    val dht = Array(0xff, 0xc4).map(_.toByte) ++ be16(4) ++
      Array[Byte](0, 0)
    val jpg3 = Array(0xff, 0xd8).map(_.toByte) ++ dht ++ sof0
    assert(Multimodal.decodeJpeg(jpg3).contains((49, 33)))
    // no SOF before start-of-scan → None (stub path)
    val sos = Array(0xff, 0xda).map(_.toByte) ++ be16(2)
    val jpgNoSof = Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ sos
    assert(Multimodal.decodeJpeg(jpgNoSof).isEmpty)
    assert(Multimodal.decodeJpeg("not a jpeg".getBytes).isEmpty)

    // Dispatch routes image payloads through the PNG/JPEG parsers.
    putBe32(png, 16, 640)
    assert(Multimodal.decode("image", png) == ((640, 480, 0L)))
    assert(Multimodal.decode("image", jpg) == ((49, 33, 0L)))
  }

  test("multimodal: real GIF/TIFF header parses return true dims") {
    // Minimal GIF89a logical-screen descriptor: LE16 width/height at 6/8.
    val gif = new Array[Byte](13)
    System.arraycopy("GIF89a".getBytes("US-ASCII"), 0, gif, 0, 6)
    gif(6) = 0x40; gif(7) = 0x01 // width 320
    gif(8) = 0xf0.toByte; gif(9) = 0x00 // height 240
    assert(Multimodal.decodeGif(gif).contains((320, 240)))
    assert(Multimodal.decodeGif("GIF10a??????".getBytes).isEmpty)
    assert(Multimodal.decodeGif("plain text".getBytes).isEmpty)

    // Minimal little-endian TIFF: header → IFD at 8 with ImageWidth
    // (tag 256, SHORT) and ImageLength (tag 257, LONG) entries.
    def putLe16(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = (v & 0xff).toByte; a(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putLe32(a: Array[Byte], off: Int, v: Int): Unit = {
      putLe16(a, off, v & 0xffff); putLe16(a, off + 2, (v >> 16) & 0xffff)
    }
    val tif = new Array[Byte](8 + 2 + 2 * 12 + 4)
    tif(0) = 'I'.toByte; tif(1) = 'I'.toByte
    putLe16(tif, 2, 42)
    putLe32(tif, 4, 8) // IFD offset
    putLe16(tif, 8, 2) // entry count
    val e0 = 10
    putLe16(tif, e0, 256); putLe16(tif, e0 + 2, 3) // ImageWidth, SHORT
    putLe32(tif, e0 + 4, 1); putLe16(tif, e0 + 8, 800)
    val e1 = 22
    putLe16(tif, e1, 257); putLe16(tif, e1 + 2, 4) // ImageLength, LONG
    putLe32(tif, e1 + 4, 1); putLe32(tif, e1 + 8, 600)
    assert(Multimodal.decodeTiff(tif).contains((800, 600)))

    // Big-endian flavor of the same IFD.
    def putBe16(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >> 8) & 0xff).toByte; a(off + 1) = (v & 0xff).toByte
    }
    def putBe32b(a: Array[Byte], off: Int, v: Int): Unit = {
      putBe16(a, off, (v >> 16) & 0xffff); putBe16(a, off + 2, v & 0xffff)
    }
    val tifBe = new Array[Byte](8 + 2 + 2 * 12 + 4)
    tifBe(0) = 'M'.toByte; tifBe(1) = 'M'.toByte
    putBe16(tifBe, 2, 42)
    putBe32b(tifBe, 4, 8)
    putBe16(tifBe, 8, 2)
    putBe16(tifBe, 10, 256); putBe16(tifBe, 12, 3)
    putBe32b(tifBe, 14, 1); putBe16(tifBe, 18, 800)
    putBe16(tifBe, 22, 257); putBe16(tifBe, 24, 4)
    putBe32b(tifBe, 26, 1); putBe32b(tifBe, 30, 600)
    assert(Multimodal.decodeTiff(tifBe).contains((800, 600)))

    // bad magic / truncated IFD → None (stub path)
    assert(Multimodal.decodeTiff("II??noimage".getBytes).isEmpty)
    assert(Multimodal.decodeTiff("plain text".getBytes).isEmpty)

    // Dispatch routes image payloads through the GIF/TIFF parsers.
    assert(Multimodal.decode("image", gif) == ((320, 240, 0L)))
    assert(Multimodal.decode("image", tif) == ((800, 600, 0L)))
  }

  test("multimodal: FLAC and AIFF header parses yield true durations") {
    // FLAC: "fLaC" + STREAMINFO (type 0, len 34). 44100 Hz, 88200
    // samples => exactly 2000 ms. Packed at byte 10 of the block:
    // rate<<12 spans bytes 10-12's high nibble.
    val flac = new Array[Byte](8 + 34)
    "fLaC".getBytes("US-ASCII").copyToArray(flac, 0)
    flac(4) = 0; flac(5) = 0; flac(6) = 0; flac(7) = 34
    val b = 8
    val rate = 44100
    flac(b + 10) = ((rate >> 12) & 0xff).toByte
    flac(b + 11) = ((rate >> 4) & 0xff).toByte
    flac(b + 12) = (((rate & 0xf) << 4) | 0x0).toByte
    val samples = 88200L
    flac(b + 13) = ((samples >> 32) & 0x0f).toByte
    flac(b + 14) = ((samples >> 24) & 0xff).toByte
    flac(b + 15) = ((samples >> 16) & 0xff).toByte
    flac(b + 16) = ((samples >> 8) & 0xff).toByte
    flac(b + 17) = (samples & 0xff).toByte
    assert(Multimodal.decodeFlac(flac).contains(2000L))
    // unknown total samples (0) => None, never an invented duration
    val flacNoLen = flac.clone()
    Seq(13, 14, 15, 16, 17).foreach(i => flacNoLen(b + i) = 0)
    assert(Multimodal.decodeFlac(flacNoLen).isEmpty)

    // AIFF: FORM/AIFF + a COMM chunk. 48000 Hz as 80-bit extended:
    // exp = 16383 + 15, mantissa high word = 48000 << (31 - 15).
    val aiff = new Array[Byte](12 + 8 + 18)
    "FORM".getBytes("US-ASCII").copyToArray(aiff, 0)
    "AIFF".getBytes("US-ASCII").copyToArray(aiff, 8)
    "COMM".getBytes("US-ASCII").copyToArray(aiff, 12)
    aiff(16 + 3) = 18 // chunk length
    val c = 20
    aiff(c + 1) = 2 // channels
    val frames = 96000 // 2 s at 48 kHz
    aiff(c + 2) = ((frames >> 24) & 0xff).toByte
    aiff(c + 3) = ((frames >> 16) & 0xff).toByte
    aiff(c + 4) = ((frames >> 8) & 0xff).toByte
    aiff(c + 5) = (frames & 0xff).toByte
    aiff(c + 7) = 16 // sample size
    val exp = 16383 + 15
    aiff(c + 8) = ((exp >> 8) & 0xff).toByte
    aiff(c + 9) = (exp & 0xff).toByte
    val mantHi = 48000L << (31 - 15)
    aiff(c + 10) = ((mantHi >> 24) & 0xff).toByte
    aiff(c + 11) = ((mantHi >> 16) & 0xff).toByte
    aiff(c + 12) = ((mantHi >> 8) & 0xff).toByte
    aiff(c + 13) = (mantHi & 0xff).toByte
    assert(Multimodal.decodeAiff(aiff).contains(2000L))

    // dispatch prefers the real parses; garbage falls to the stub
    assert(Multimodal.decode("audio", flac) == ((0, 0, 2000L)))
    assert(Multimodal.decode("audio", aiff) == ((0, 0, 2000L)))
    assert(Multimodal.decodeFlac("not flac".getBytes).isEmpty)
    assert(Multimodal.decodeAiff("FORMxxxxWAVE".getBytes).isEmpty)

    // malformed chunk length with the high bit set (decodes negative in
    // the signed Int) must return None, not spin the chunk walk forever
    val aiffBad = new Array[Byte](64)
    "FORM".getBytes("US-ASCII").copyToArray(aiffBad, 0)
    "AIFF".getBytes("US-ASCII").copyToArray(aiffBad, 8)
    "JUNK".getBytes("US-ASCII").copyToArray(aiffBad, 12)
    aiffBad(16) = 0xff.toByte; aiffBad(17) = 0xff.toByte
    aiffBad(18) = 0xff.toByte; aiffBad(19) = 0xf8.toByte // len = -8
    assert(Multimodal.decodeAiff(aiffBad).isEmpty)

    // corrupt 80-bit exponent: |shift| > 63 would WRAP through Scala's
    // 6-bit shift-count mask into a garbage nonzero rate — the decoder
    // must return None, never an invented duration. Sweep both sides
    // of the wrap boundary plus the extremes.
    for (badExp <- Seq(16383 + 31 + 64, 16383 + 31 + 70, 0x7fff,
        16383 + 31 - 64, 16383 + 31 - 70, 1)) {
      val aiffWrap = aiff.clone()
      aiffWrap(c + 8) = ((badExp >> 8) & 0xff).toByte
      aiffWrap(c + 9) = (badExp & 0xff).toByte
      assert(Multimodal.decodeAiff(aiffWrap).isEmpty,
        s"exp=$badExp must not decode")
    }
    // the boundary itself is still legal: shift = +63 / -63 flush the
    // mantissa but do not wrap — rate 0 ⇒ None via the rate>0 guard,
    // exercised without tripping the new range check
    for (edgeExp <- Seq(16383 + 31 + 63, 16383 + 31 - 63)) {
      val aiffEdge = aiff.clone()
      aiffEdge(c + 8) = ((edgeExp >> 8) & 0xff).toByte
      aiffEdge(c + 9) = (edgeExp & 0xff).toByte
      // mantHi << 63 and mantHi >> 63 both yield a non-positive rate
      // for the test mantissa; either way: no invented duration
      assert(Multimodal.decodeAiff(aiffEdge).isEmpty)
    }
  }

  test("multimodal: MP3 frame-header + ID3 skip and Ogg granule durations") {
    // MPEG-1 Layer III, 128 kbps (bitrate index 9), 44.1 kHz (sr index 0):
    // header 0xFF 0xFB 0x90 0x00. 16 KiB of audio at 128 kbps = 1024 ms.
    val audioLen = 16384
    val mp3 = new Array[Byte](audioLen)
    mp3(0) = 0xff.toByte; mp3(1) = 0xfb.toByte; mp3(2) = 0x90.toByte
    assert(Multimodal.decodeMp3(mp3).contains(audioLen.toLong * 8 / 128))

    // same frame behind an ID3v2 tag (synchsafe size = 100)
    val id3 = new Array[Byte](10 + 100 + audioLen)
    "ID3".getBytes("US-ASCII").copyToArray(id3, 0)
    id3(9) = 100
    mp3.copyToArray(id3, 110)
    assert(Multimodal.decodeMp3(id3).contains(audioLen.toLong * 8 / 128))

    // free-format bitrate (index 0) must not invent a duration
    val free = mp3.clone(); free(2) = 0x00
    assert(Multimodal.decodeMp3(free).isEmpty)
    assert(Multimodal.decodeMp3("not an mp3 at all".getBytes).isEmpty)

    // Ogg Vorbis: first page id header declares 44100 Hz; last page
    // granule = 88200 samples => 2000 ms.
    def oggPage(buf: Array[Byte], off: Int, granule: Long, nSegs: Int): Unit = {
      "OggS".getBytes("US-ASCII").copyToArray(buf, off)
      var g = granule
      for (i <- 0 until 8) { buf(off + 6 + i) = (g & 0xff).toByte; g >>= 8 }
      buf(off + 26) = nSegs.toByte
    }
    val ogg = new Array[Byte](200)
    oggPage(ogg, 0, 0L, 1)
    val body = 28 // 27-byte header + 1 segment-table byte
    ogg(body) = 0x01
    "vorbis".getBytes("US-ASCII").copyToArray(ogg, body + 1)
    ogg(body + 12) = (44100 & 0xff).toByte
    ogg(body + 13) = ((44100 >> 8) & 0xff).toByte
    oggPage(ogg, 120, 88200L, 0)
    assert(Multimodal.decodeOgg(ogg).contains(2000L))

    // Opus: granules always count 48 kHz samples
    val opus = new Array[Byte](200)
    oggPage(opus, 0, 0L, 1)
    "OpusHead".getBytes("US-ASCII").copyToArray(opus, body)
    oggPage(opus, 120, 96000L, 0)
    assert(Multimodal.decodeOgg(opus).contains(2000L))
    assert(Multimodal.decodeOgg("OggSxxxx".getBytes).isEmpty)

    // false sync: the bytes "OggS" inside page BODY data after the true
    // last page must not be trusted — its "version byte" (here 0x7f)
    // fails the header sanity check and the backward scan continues to
    // the real page at 120
    val falseSync = ogg.clone()
    "OggS".getBytes("US-ASCII").copyToArray(falseSync, 160)
    falseSync(164) = 0x7f // not a valid stream-structure version
    java.util.Arrays.fill(falseSync, 166, 174, 0x5a.toByte) // junk granule
    assert(Multimodal.decodeOgg(falseSync).contains(2000L))

    // a structurally valid trailing page with granule -1 ("no packet
    // completes on this page") must not abort the decode — the scan
    // falls back to the previous page's granule
    val contPage = new Array[Byte](240)
    ogg.copyToArray(contPage, 0)
    oggPage(contPage, 200, -1L, 0)
    contPage(205) = 0x01 // continuation flag — still a sane header
    assert(Multimodal.decodeOgg(contPage).contains(2000L))

    // dispatch routes both through the audio arm
    assert(Multimodal.decode("audio", id3) == ((0, 0, 1024L)))
    assert(Multimodal.decode("audio", ogg) == ((0, 0, 2000L)))
  }

  test("multimodal: MP4 box walk yields mvhd duration and tkhd dims") {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    // mvhd v0: timescale 1000, duration 5000 -> 5000 ms
    val mvhd = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(5000))
    // sound track: tkhd v0 with 0x0 dims (84-byte payload, zeros)
    val sndTkhd = box("tkhd", new Array[Byte](84))
    // video track: tkhd v0, width 640.0 height 360.0 in 16.16 fixed
    val vidPayload = new Array[Byte](84)
    be32(640L << 16).copyToArray(vidPayload, 76)
    be32(360L << 16).copyToArray(vidPayload, 80)
    val vidTkhd = box("tkhd", vidPayload)
    val moov = box("moov",
      mvhd ++ box("trak", sndTkhd) ++ box("trak", vidTkhd))
    val mp4 = ftyp ++ moov
    assert(Multimodal.decodeMp4(mp4).contains((640, 360, 5000L)))
    assert(Multimodal.decode("video", mp4) == ((640, 360, 5000L)))

    // mvhd v1: 64-bit times — timescale at +20, u64 duration at +24
    val mvhd1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++ be32(48000) ++
        be32(0) ++ be32(96000))
    val v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", vidTkhd))
    assert(Multimodal.decodeMp4(v1).contains((640, 360, 2000L)))

    // tkhd v1: 64-bit times push width to +88
    val vid1 = new Array[Byte](96)
    vid1(0) = 1
    be32(1280L << 16).copyToArray(vid1, 88)
    be32(720L << 16).copyToArray(vid1, 92)
    val t1 = ftyp ++ box("moov", mvhd ++ box("trak", box("tkhd", vid1)))
    assert(Multimodal.decodeMp4(t1).contains((1280, 720, 5000L)))

    // audio-only MP4: duration parses, dims stay 0x0
    val audioOnly = ftyp ++ box("moov", mvhd ++ box("trak", sndTkhd))
    assert(Multimodal.decodeMp4(audioOnly).contains((0, 0, 5000L)))

    // largesize (size==1 + BE64) on the moov box
    val inner = mvhd ++ box("trak", vidTkhd)
    val large = ftyp ++ (be32(1) ++ "moov".getBytes("US-ASCII") ++
      be32(0) ++ be32(16L + inner.length) ++ inner)
    assert(Multimodal.decodeMp4(large).contains((640, 360, 5000L)))

    // guards: no leading ftyp; zero timescale; a child box whose
    // declared size overruns its enclosure (the stuck-walk class)
    assert(Multimodal.decodeMp4(moov ++ ftyp).isEmpty)
    val mvhdZero = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(5000))
    assert(Multimodal.decodeMp4(
      ftyp ++ box("moov", mvhdZero)).isEmpty)
    val overrun = ftyp ++ box("moov",
      be32(0xffffffL) ++ "mvhd".getBytes("US-ASCII"))
    assert(Multimodal.decodeMp4(overrun).isEmpty)
    assert(Multimodal.decodeMp4("not an mp4".getBytes).isEmpty)
  }

  test("multimodal: WebP VP8X/VP8L/VP8 header parses yield true dims") {
    def rif(tag: String): Array[Byte] = {
      val a = new Array[Byte](32)
      "RIFF".getBytes("US-ASCII").copyToArray(a, 0)
      "WEBP".getBytes("US-ASCII").copyToArray(a, 8)
      tag.getBytes("US-ASCII").copyToArray(a, 12)
      a
    }
    // VP8X: 3-byte LE canvas width-1 / height-1 after 4 flag bytes
    val x = rif("VP8X")
    val p = 20
    x(p + 4) = ((639 & 0xff)).toByte; x(p + 5) = ((639 >> 8) & 0xff).toByte
    x(p + 7) = ((479 & 0xff)).toByte; x(p + 8) = ((479 >> 8) & 0xff).toByte
    assert(Multimodal.decodeWebp(x).contains((640, 480)))

    // VP8L: 0x2F then 14-bit width-1 / height-1 packed LSB-first
    val l = rif("VP8L")
    val (wm1, hm1) = (799, 599)
    l(p) = 0x2f.toByte
    l(p + 1) = (wm1 & 0xff).toByte
    l(p + 2) = (((wm1 >> 8) & 0x3f) | ((hm1 & 0x3) << 6)).toByte
    l(p + 3) = ((hm1 >> 2) & 0xff).toByte
    l(p + 4) = ((hm1 >> 10) & 0x0f).toByte
    assert(Multimodal.decodeWebp(l).contains((800, 600)))

    // VP8 lossy keyframe: frame tag, 9D 01 2A sync, 14-bit LE dims
    val v = rif("VP8 ")
    v(p + 3) = 0x9d.toByte; v(p + 4) = 0x01.toByte; v(p + 5) = 0x2a.toByte
    v(p + 6) = (320 & 0xff).toByte; v(p + 7) = ((320 >> 8) & 0x3f).toByte
    v(p + 8) = (240 & 0xff).toByte; v(p + 9) = ((240 >> 8) & 0x3f).toByte
    assert(Multimodal.decodeWebp(v).contains((320, 240)))

    assert(Multimodal.decode("image", v) == ((320, 240, 0L)))
    assert(Multimodal.decodeWebp("RIFFxxxxAVI ".getBytes).isEmpty)
  }

  test("multimodal: resize shrinks payload, frame-sample keeps every Nth frame") {
    val items = Multimodal.mediaFromDocuments(spark, sf())
    val one = items.filter(col("media_id") === 1).collect().head

    val resized = Multimodal.resize(items, 64, 64)
      .filter(col("media_id") === 1).collect().head
    assert(resized.width == 64 && resized.height == 64)
    assert(resized.n_bytes > 0 && resized.n_bytes <= one.payload.length)
    // deterministic: same input → same bytes
    assert(resized.payload.toSeq ==
      Multimodal.resizeStub(one.payload, 64, 64).toSeq)

    val frames = Multimodal.frameSample(items, frameBytes = 32, everyNth = 2)
      .filter(col("media_id") === 1).collect().sortBy(_.frame_idx)
    val expected = (one.payload.length + 31) / 32
    assert(frames.length == (expected + 1) / 2) // every 2nd frame kept
    assert(frames.forall(_.frame_idx % 2 == 0))
    assert(frames.init.forall(_.n_bytes == 32)) // all full but maybe last
  }

  test("memoized verified pair table == from-scratch verify") {
    // The fuzzy family reads a per-(session, corpus) memo derived from
    // the r=1 candidate superset by a pair-key join; this pins the
    // nesting property that derivation rests on (cand(ROWS_PER_BAND)
    // ⊆ cand(1), identical jaccard) against the non-memoized path.
    val dir = sf()
    graft.SessionMemo.invalidate(dir)
    val viaMemo = graft.SparkEntry.queries("q_minhash_est")(spark, dir)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val direct = Dedup
      .verifiedPairs(graft.Tables.documents(spark, dir), threshold = 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaMemo.nonEmpty && viaMemo == direct)
  }

  test("fuzzy dedup: near-identical cluster collapses to one canonical") {
    // 1, 2, 3 are copies with one-token edits (shingle Jaccard ≈ 0.9);
    // 4 is unrelated. Identical-ish docs share bands deterministically.
    val base = (1 to 14).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),
      (3L, base.replace("tok12", "tok12x")),
      (4L, (1 to 14).map(i => s"zzz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val canon = Dedup.canonicalMap(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("containment audit: subset scores a_in_b, identical mutual") {
    // Doc 1's shingles are a strict subset of doc 2's (prefix text);
    // docs 3/4 are identical (mutual); sizes make directions explicit.
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val short = (1 to 14).map(i => s"tok$i").mkString(" ")
    val other = (1 to 14).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, short), (2L, base), (3L, other), (4L, other))
      .toDF("doc_id", "text")
    val hs = Dedup.shingleHashSets(docs)
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val m = Dedup.containmentAudit(cand, hs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[String]("relation"), r.getAs[Long]("cont_a_ppm"))).toMap
    assert(m((1L, 2L)) == (("a_in_b", 1000000L)))
    assert(m((3L, 4L))._1 == "mutual")
  }

  test("canonical pick: second pass resolves chains (pointer jumping)") {
    // pairs 1-2, 2-3 but NOT 1-3: one min pass leaves 3 → 2; the
    // unrolled second pass jumps 3 → canonical(2) = 1.
    val ids = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val canon = Dedup.canonicalFromPairs(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("levenshtein blocking skips names shorter than the gram width") {
    // Latent with TPC-H fixtures (names are 7+ chars): an unguarded
    // sequence(0, len-4) goes negative-descending and substr wraps,
    // inventing grams the oracle's empty range() never produces.
    val tmp = java.nio.file.Files.createTempDirectory("lev-short").toString
    Seq((1L, "abc", "T", 1), (2L, "ab", "T", 1),
      (3L, "gold ring", "T", 1), (4L, "bold ring", "T", 1))
      .toDF("p_partkey", "p_name", "p_type", "p_size")
      .write.parquet(s"$tmp/part.parquet")
    val out = graft.SparkEntry.queries("q_levenshtein")(spark, tmp)
      .collect()
    // short names never appear; the two long similar names do pair
    assert(out.forall(r => r.getString(0).length >= 4 &&
      r.getString(1).length >= 4))
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("bold ring", "gold ring")))
  }

  test("quantize emits zero codes for constant vectors (no NaN)") {
    val tmp = java.nio.file.Files.createTempDirectory("quant-const").toString
    Seq((1L, "a", Array(2.5f, 2.5f, 2.5f)),
      (2L, "a", Array(0.0f, 1.0f, 2.0f)))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$tmp/embeddings.parquet")
    val rows = graft.SparkEntry.queries("q_quantize")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(rows(1L) == "0|0|0")     // constant vector → explicit 0 branch
    assert(rows(2L) == "0|127|255") // normal min/max scaling
  }

  test("canonical fixpoint: chains and min-pointing-away stars converge") {
    // chain 1-2-...-8: needs diameter rounds, far beyond the unrolled
    // two passes
    val chainIds = (1L to 8L).toDF("doc_id")
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c1 = Dedup.canonicalFixpoint(chainIds, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1.values.toSet == Set(1L))
    // star with a high-id hub: 9-{3,4}, 1-2, 2-9. Node 3's min neighbor
    // is 9 (greater than itself) — min propagation must flow THROUGH
    // the hub from 1, which pointer jumping alone cannot do.
    val starIds = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val star = Seq((9L, 3L), (9L, 4L), (1L, 2L), (2L, 9L))
      .toDF("doc_a", "doc_b")
    val c2 = Dedup.canonicalFixpoint(starIds, star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2.values.toSet == Set(1L))
  }

  test("topKNeighbors guard: small probe sets brute-exact, large route to IVF") {
    // under the threshold → identical to the exact brute-force query
    val brute = Similarity.topKNeighbors(spark, sf(), col("vec_id") < 10, 5)
    val expectedBrute = graft.SparkEntry.queries("q_ann_brute")(spark, sf())
    assert(brute.collect().toSet == expectedBrute.collect().toSet)
    // over the threshold (forced with 0) → rerouted to the IVF path
    val routed = Similarity.topKNeighbors(spark, sf(),
      col("vec_id") % 97 === 0, 3, maxBroadcastProbes = 0)
    val expectedIvf = graft.SparkEntry.queries("q_ivf_ann")(spark, sf())
    assert(routed.collect().toSet == expectedIvf.collect().toSet)
  }

  test("ann-lsh buckets partition the corpus completely") {
    val total = graft.Tables.embeddings(spark, sf()).count()
    val buckets = SparkEntryHelpers.annLsh(spark, sf())
    assert(buckets.agg(sum("n_vectors")).collect().head.getLong(0) == total)
  }

  test("repetition signals: spam doc flagged, varied doc passes") {
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "spam spam spam spam spam spam", "en", "s", 30L),
      (2L, "one two three four five six seven eight nine ten", "en", "s", 49L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("q_repetition")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("top_tok_frac"), r.getAs[Double]("dup_gram_frac"),
          r.getAs[Boolean]("flagged"))).toMap
    assert(out(1L)._1 == 1.0)          // every token is "spam"
    assert(out(1L)._2 == 0.75)         // 4 grams, 1 distinct
    assert(out(1L)._3)
    assert(out(2L)._1 == 0.1 && out(2L)._2 == 0.0 && !out(2L)._3)
  }

  test("bm25: doc with more query terms outranks; rnk dense from 1") {
    val rows = graft.SparkEntry.queries("q_bm25")(spark, sf()).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val byRnk = rows.sortBy(_.getAs[Int]("rnk"))
    assert(byRnk.map(_.getAs[Int]("rnk")).toSeq == (1 to rows.length))
    // scores non-increasing in rank order
    val scores = byRnk.map(_.getAs[Long]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("inverted index: postings sorted, capped at 20, df consistent") {
    val rows = graft.SparkEntry.queries("q_inverted")(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // postings ride as a CSV string (the harness hashes scalar cells)
      val raw = r.getAs[String]("postings")
      val p = if (raw.isEmpty) Seq.empty[Long]
        else raw.split(",").toSeq.map(_.toLong)
      assert(p == p.sorted && p.size <= 20)
      assert(p.size == math.min(r.getAs[Long]("df"), 20L))
    }
  }

  test("redact: denylist hits masked and counted, clean docs untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("red").toString
    Seq(
      (1L, "the customer met the supplier", "en", "s", 29L),
      (2L, "nothing to see here", "en", "s", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("q_redact")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_redacted"), r.getAs[String]("redacted_md5"),
          r.getAs[Boolean]("clean"))).toMap
    assert(out(1L)._1 == 2L && !out(1L)._3)
    // the masked text hashes like the hand-masked original
    val expect = spark.sql(
      "SELECT md5('the [MASK] met the [MASK]')").collect().head.getString(0)
    assert(out(1L)._2 == expect)
    assert(out(2L)._1 == 0L && out(2L)._3)
  }

  test("bigram novelty: common transitions score 0, vocab overflow goes OOV") {
    val tmp = java.nio.file.Files.createTempDirectory("nov").toString
    // 20 copies of one fluent sentence: its 8 bigrams have count 20 and
    // certainly make the top-1000 vocabulary. 1100 one-off docs each
    // contribute a unique count-1 bigram — more singles than the
    // remaining 992 vocabulary slots, so ≥108 of them MUST fall OOV.
    val fluent = (1L to 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en", "s", 43L))
    val fillers = (100L until 1200L).map(i =>
      (i, s"w${i}a w${i}b", "en", "s", 12L))
    (fluent ++ fillers)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("q_bigram_novelty")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("oov_frac"), r.getAs[Boolean]("high_novelty")))
      .toMap
    assert((1L to 20L).forall(out(_) == (0.0, false)))
    val oov = fillers.map(_._1).count(id => out(id) == (1.0, true))
    assert(oov >= 100, s"expected >=100 OOV filler docs, got $oov")
  }

  test("ann beam: bounded beam, audit arithmetic, nonzero recall") {
    val rows = graft.SparkEntry.queries("q_ann_beam")(spark, sf("sf0.01"))
      .collect()
    assert(rows.length == 10) // one audit row per probe, none dropped
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_beam"); val h = r.getAs[Long]("hits")
      assert(nb >= 0 && nb <= 8, s"beam must stay within NSW_BEAM: $nb")
      assert(h >= 0 && h <= math.min(5L, nb))
      assert(r.getAs[Long]("recall_ppm") == h * 1000000L / 5)
    }
    // the two-bucketing graph must actually navigate: across the 10
    // probes the walk has to surface at least one exact top-5 neighbor
    assert(rows.map(_.getAs[Long]("hits")).sum > 0)
  }

  test("diverse sample: per-cell quota respected, cells cover corpus") {
    val rows = graft.SparkEntry.queries("q_diverse")(spark, sf()).collect()
    val perCell = rows.groupBy(_.getAs[Long]("centroid_id"))
      .view.mapValues(_.length).toMap
    assert(perCell.values.forall(_ <= 10))
    assert(perCell.size > 1)           // more than one cell represented
    // quotas are filled whenever the cell has ≥10 members: every cell
    // short of quota must actually be that small in the full assignment
    val rn = rows.map(_.getAs[Int]("rn"))
    assert(rn.forall(r => r >= 1 && r <= 10))
  }
}

/** Test-only access to private query builders. */
object SparkEntryHelpers {
  def annLsh(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SparkEntry.queries("q_ann_lsh")(s, d)
}
