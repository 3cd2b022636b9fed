package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("H1 assets carry binary payload + typed metadata struct") {
    val a = Multimodal.assets(spark, sfDir)
    val schema = a.schema
    assert(schema("payload").dataType.typeName == "binary")
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "lang", "source", "n_chars"))
    assert(a.count() > 0)
  }

  test("H2 stub decode yields fixed-dim deterministic features per asset") {
    val a = Multimodal.assets(spark, sfDir).limit(20).cache()
    val f1 = Multimodal.stubDecodeFeatures(a).collect().sortBy(_.doc_id)
    val f2 = Multimodal.stubDecodeFeatures(a).collect().sortBy(_.doc_id)
    assert(f1.length == 20)
    assert(f1.forall(r => r.dim == 8 && r.features.length == 8))
    assert(f1.forall(r => r.features.forall(v => v >= 0f && v < 1f)))
    // deterministic across runs
    assert(f1.zip(f2).forall { case (x, y) => x.features.sameElements(y.features) })
    a.unpersist()
  }

  test("H3 frame sampling chunks payload into fixed windows that reassemble") {
    val a = Multimodal.assets(spark, sfDir).limit(5).cache()
    val frames = Multimodal.frameSample(a, frameBytes = 16)
    val re = frames.orderBy("doc_id", "frame_idx")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(length(col("frame"))).as("total_bytes"))
    val orig = a.select(col("doc_id"), length(col("payload")).as("len"))
    val joined = re.join(orig, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (n, total, len) = (r.getAs[Long]("n"), r.getAs[Long]("total_bytes"), r.getAs[Int]("len"))
      assert(total == len, s"frames must cover payload exactly for doc ${r.get(0)}")
      assert(n == math.ceil(len / 16.0).toLong)
    }
    a.unpersist()
  }

  test("H4 pngHeader parses a genuine PNG IHDR and rejects non-PNG bytes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a real 640x480 PNG file prefix: signature + IHDR(len 13)
    val png: Array[Byte] = (Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x02, 0x80, // width 640
      0x00, 0x00, 0x01, 0xe0, // height 480
      0x08, 0x06, 0x00, 0x00, 0x00)).map(_.toByte).toArray
    val notPng = "just some text".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, notPng)).toDF("id", "payload")
    val (sig, w, h) = Multimodal.pngHeader(col("payload"))
    val byId = df.select(col("id"), sig, w, h).collect().map { r =>
      r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    }.toMap
    assert(byId(1L) == ((1, 640L, 480L)))
    // truncated non-PNG bytes: signature invalid, dims null
    assert(byId(2L) == ((0, -1L, -1L)))
  }

  test("H5 jpegSofOffset walks variable-length segments to SOF; no-SOF streams yield 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, unhex}
    // SOI + APP0(JFIF, len 16) + COM(len 7: 5 payload bytes) + SOF0 @ 3+18+9=30
    val withCom = "ffd8" + "ffe000104a46494600010100000100010000" +
      "fffe0007" + "78" * 5 +
      "ffc0001108" + "0014" + "002a" + "03011100021101031101" // h=20 w=42
    // no SOF within the stream: SOI + APP0 + COM only
    val noSof = "ffd8" + "ffe000104a46494600010100000100010000" + "fffe000478" + "78"
    val df = Seq((1L, withCom), (2L, noSof)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val scanned = Multimodal.withJpegSof(df, "payload")
    val (w, h) = Multimodal.jpegDims(col("payload"), col("sof_off"))
    val byId = scanned
      .select(col("id"), col("valid_soi"), col("sof_off"), w, h)
      .collect().map { r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4)))
    }.toMap
    assert(byId(1L) == ((1, 30, 42, 20)))
    assert(byId(2L) == ((1, 0, -1, -1)))
  }

  test("H6 withWavChunks parses a genuine canonical WAV header and hops LIST chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // the textbook 44-byte header: 44.1kHz stereo 16-bit PCM, 1s of audio
    val canonical = "52494646" + "ac580100" + "57415645" +
      "666d7420" + "10000000" + "0100" + "0200" + "44ac0000" +
      "10b10200" + "0400" + "1000" + "64617461" + "88580100"
    // same fmt but a 6-byte LIST/INFO chunk precedes it (fmt at 13+14+8=35)
    val withList = "52494646" + "ba580100" + "57415645" +
      "4c495354" + "06000000" + "494e464f6969" +
      "666d7420" + "10000000" + "0100" + "0200" + "44ac0000" +
      "10b10200" + "0400" + "1000" + "64617461" + "88580100"
    val notWav = "52494646" + "04000000" + "41564920" // RIFF but AVI, no WAVE
    val df = Seq((1L, canonical), (2L, withList), (3L, notWav)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val scanned = Multimodal.withWavChunks(df, "payload")
    val ch = Bytes.le(col("payload"), col("fmt_off") + org.apache.spark.sql.functions.lit(2), 2)
    val rate = Bytes.le(col("payload"), col("fmt_off") + org.apache.spark.sql.functions.lit(4), 4)
    val byId = scanned
      .select(col("id"), col("valid_riff"), col("fmt_off"), col("data_size"), ch, rate)
      .collect().map { r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getLong(5)))
    }.toMap
    assert(byId(1L) == ((1, 21, 88200L, 2, 44100L)))
    assert(byId(2L) == ((1, 35, 88200L, 2, 44100L)))
    assert(byId(3L)._1 == 0)
    // valid RIFF/WAVE but NO fmt chunk within the walk → fmt_off 0
    val noFmt = "52494646" + "12000000" + "57415645" +
      "4c495354" + "06000000" + "494e464f6969"
    val scanned2 = Multimodal.withWavChunks(
      Seq((9L, noFmt)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
    val r = scanned2.select("valid_riff", "fmt_off", "data_size").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 0 && r.getLong(2) == 0L)
  }

  test("H8 withBmpHeader reads signed LE dims; negative height flags top-down; junk rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def hdr(widthLE: String, heightLE: String, bppLE: String) =
      "424d" + "36000000" + "00000000" + "36000000" + // BM, size 54, data @54
        "28000000" + widthLE + heightLE + "0100" + bppLE + ("00" * 24)
    val bottomUp = hdr("80000000", "40000000", "1800") // 128×64, 24bpp
    val topDown  = hdr("20000000", "c0ffffff", "2000") // 32×|-64|, 32bpp
    val junk = "ffd8ffe0" + ("00" * 50)                // JPEG magic, not BM
    val out = Multimodal.withBmpHeader(
      Seq((1L, bottomUp), (2L, topDown), (3L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_bmp", "width", "height", "top_down", "bpp")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1 else r.getInt(5)))
      }.toMap
    assert(out(1L) == ((1, 128L, 64L, 0, 24)), s"bottom-up: ${out(1L)}")
    assert(out(2L) == ((1, 32L, 64L, 1, 32)), s"top-down (0xffffffc0 = -64): ${out(2L)}")
    assert(out(3L)._1 == 0 && out(3L)._2 == -1L, s"junk magic must null out: ${out(3L)}")
  }

  test("H9 withWebpDims decodes all three variant encodings; corrupt sync/signature null out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def riff(chunk: String) = "52494646" +
      f"${4 + chunk.length / 2}%02x000000" + "57454250" + chunk
    // VP8 lossy 640×480: tag + sync 9d012a + LE14 dims
    val lossy = riff("56503820" + "0a000000" + "000000" + "9d012a" + "8002" + "e001")
    // VP8L 1×1: bits = (w-1) | (h-1)<<14 = 0
    val ll1x1 = riff("5650384c" + "05000000" + "2f" + "00000000" + "00")
    // VP8X 100000×20 canvas — beyond the 14-bit lossy limit:
    // 99999 = 0x01869f LE → 9f8601
    val wide = riff("56503858" + "0a000000" + "00" + "000000" + "9f8601" + "130000")
    // lossy with a WRONG sync code: dims must null, not read garbage
    val badSync = riff("56503820" + "0a000000" + "000000" + "9d012b" + "8002" + "e001")
    val junk = "89504e47" + ("00" * 26) // PNG magic
    val out = Multimodal.withWebpDims(
      Seq((1L, lossy), (2L, ll1x1), (3L, wide), (4L, badSync), (5L, junk))
        .toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_webp", "variant", "width", "height")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) "-" else r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))
      }.toMap
    assert(out(1L) == ((1, "VP8 ", 640L, 480L)), s"lossy: ${out(1L)}")
    assert(out(2L) == ((1, "VP8L", 1L, 1L)), s"lossless 1x1: ${out(2L)}")
    assert(out(3L) == ((1, "VP8X", 100000L, 20L)), s"wide canvas: ${out(3L)}")
    assert(out(4L) == ((1, "VP8 ", -1L, -1L)), s"bad sync must null dims: ${out(4L)}")
    assert(out(5L)._1 == 0 && out(5L)._2 == "-", s"junk: ${out(5L)}")
  }

  test("H10 withGifHeader parses both versions' screen descriptor; unknown version rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // GIF89a 320×200, GCT with 8 entries (bits 0b010 → 3)
    val g89 = "474946383961" + "4001" + "c800" + "92" + "00" + "00"
    // GIF87a 16×16, no GCT
    val g87 = "474946383761" + "1000" + "1000" + "70" + "00" + "00"
    val g88 = "474946383861" + "1000" + "1000" + "70" + "00" + "00" // GIF88a: not a version
    val out = Multimodal.withGifHeader(
      Seq((1L, g89), (2L, g87), (3L, g88)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_gif", "version", "width", "height", "has_gct", "gct_bits")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) "-" else r.getString(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1 else r.getInt(5),
          if (r.isNullAt(6)) -1 else r.getInt(6)))
      }.toMap
    assert(out(1L) == ((1, "89a", 320, 200, 1, 3)), s"89a: ${out(1L)}")
    assert(out(2L) == ((1, "87a", 16, 16, 0, 1)), s"87a: ${out(2L)}")
    assert(out(3L) == ((0, "-", -1, -1, -1, -1)), s"GIF88a must reject: ${out(3L)}")
  }

  test("H11 withTiffDims handles both byte orders, SHORT left-justification, any tag order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // II, 1 entry: ImageWidth as SHORT 320 (LE, left-justified)
    val ii = "49492a00" + "08000000" + "0100" +
      "0001" + "0300" + "01000000" + "4001" + "0000" + "00000000"
    // MM, 2 entries with height FIRST: ImageLength LONG 200, then
    // ImageWidth SHORT 16 (BE, left-justified)
    val mm = "4d4d002a" + "00000008" + "0002" +
      "0101" + "0004" + "00000001" + "000000c8" +
      "0100" + "0003" + "00000001" + "0010" + "0000" + "00000000"
    val junk = "ffd8ffe0" + ("00" * 30)
    val out = Multimodal.withTiffDims(
      Seq((1L, ii), (2L, mm), (3L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_tiff", "byte_order", "width", "height")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) "-" else r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))
      }.toMap
    assert(out(1L) == ((1, "II", 320L, -1L)), s"II short width, no height: ${out(1L)}")
    assert(out(2L) == ((1, "MM", 16L, 200L)), s"MM reversed tag order: ${out(2L)}")
    assert(out(3L) == ((0, "-", -1L, -1L)), s"junk: ${out(3L)}")
  }

  test("H12 withFlacInfo unpacks the bit-packed STREAMINFO; wrong first block rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // genuine canonical header: 44.1 kHz stereo 16-bit, 1M samples
    // hi u32 = 44100<<12 | 1<<9 | 15<<4 | 0 = 0x0ac442f0
    val canonical = "664c6143" + "80" + "000022" + "1000" + "1000" +
      "00001a" + "0000ff" + "0ac442f0" + "000f4240" + ("00" * 16)
    // every field at its maximum width: rate 2^20-1, 8ch, 32-bit,
    // total = 2^36-1 — hi and lo both all-ones
    val maxed = "664c6143" + "80" + "000022" + "1000" + "1000" +
      "000000" + "000000" + "ffffffff" + "ffffffff" + ("00" * 16)
    // first metadata block is a VORBIS_COMMENT (type 4), not STREAMINFO
    val wrongBlock = "664c6143" + "84" + "000022" + ("00" * 34)
    val junk = "52494646" + ("00" * 38)
    val out = Multimodal.withFlacInfo(
      Seq((1L, canonical), (2L, maxed), (3L, wrongBlock), (4L, junk))
        .toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_flac", "sample_rate", "channels",
        "bits_per_sample", "total_samples", "duration_sec")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))
      }.toMap
    assert(out(1L) == ((1, 44100L, 2, 16, 1000000L)), s"canonical: ${out(1L)}")
    assert(out(2L) == ((1, 1048575L, 8, 32, 68719476735L)),
      s"all bit widths at max, 36-bit span crosses the u32 boundary: ${out(2L)}")
    assert(out(3L)._1 == 0, "a non-STREAMINFO first block must not validate")
    assert(out(4L)._1 == 0, "junk magic must not validate")
  }

  test("H13 withExifOrientation finds APP1 past other segments and reads tag 274 in either order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // MM TIFF, one entry: Orientation SHORT 6 (rotate 90 CW),
    // APP1 directly after SOI
    val mmTiff = "4d4d002a" + "00000008" + "0001" +
      "0112" + "0003" + "00000001" + "0006" + "0000" + "00000000"
    val direct = "ffd8" + "ffe1" + "0020" + "457869660000" + mmTiff
    // II TIFF behind an APP0, orientation 3 as the SECOND entry
    val iiTiff = "49492a00" + "08000000" + "0200" +
      "0e01" + "0200" + "04000000" + "26000000" +
      "1201" + "0300" + "01000000" + "0300" + "0000" + "00000000"
    val behindApp0 = "ffd8" + "ffe0" + "0006" + "4a464946" +
      "ffe1" + "002c" + "457869660000" + iiTiff
    // APP1 present but payload is XMP, not Exif → invalid
    val xmpApp1 = "ffd8" + "ffe1" + "0010" + "687474703a2f2f6e732e61646f6265"
    val junk = "474946" + ("00" * 20)
    val out = Multimodal.withExifOrientation(
      Seq((1L, direct), (2L, behindApp0), (3L, xmpApp1), (4L, junk))
        .toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_exif", "app1_off", "byte_order", "orientation")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) "-" else r.getString(3),
          if (r.isNullAt(4)) -1 else r.getInt(4)))
      }.toMap
    assert(out(1L) == ((1, 3, "MM", 6)), s"direct APP1: ${out(1L)}")
    assert(out(2L) == ((1, 11, "II", 3)),
      s"APP1 behind APP0, orientation as 2nd entry: ${out(2L)}")
    assert(out(3L)._1 == 0, "an XMP APP1 must not validate as Exif")
    assert(out(4L)._1 == 0, "junk must not validate")
  }

  test("H16 withExifGps follows both sub-IFD pointers and dereferences ASCII + rationals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // Hand-built MM-order TIFF. Layout: IFD0 at 8 with the two
    // pointer entries (ends 8+2+2*12+4=38), Exif IFD at 38 (ends 56),
    // GPS IFD at 56 (4 entries, ends 110), data: datetime at 110,
    // lat rationals at 130, lon rationals at 154.
    // lat = 40° 30' 9.000" N → 40*3600000 + 30*60000 + 9000
    //     = 145_809_000 mas (40.5025°)
    // lon = 73° 0' 1800.000" W (3600/2 exercises den ≠ 1 and ≠ 1000)
    //     → -(73*3600000 + 1_800_000) = -264_600_000 mas (-73.5°)
    def e(tag: String, tpe: String, cnt: String, v: String) = tag + tpe + cnt + v
    def rat(n: Long, d: Long) = f"$n%08x" + f"$d%08x"
    val tiff = "4d4d002a" + "00000008" +
      "0002" +
      e("8769", "0004", "00000001", "00000026") + // Exif IFD @38
      e("8825", "0004", "00000001", "00000038") + // GPS IFD @56
      "00000000" +
      "0001" +
      e("9003", "0002", "00000014", "0000006e") + // datetime @110
      "00000000" +
      "0004" +
      e("0001", "0002", "00000002", "4e000000") + // 'N'
      e("0002", "0005", "00000003", "00000082") + // lat rats @130
      e("0003", "0002", "00000002", "57000000") + // 'W'
      e("0004", "0005", "00000003", "0000009a") + // lon rats @154
      "00000000" +
      "323032313a30363a31352031323a33343a3536" + "00" + // 2021:06:15 12:34:56
      rat(40, 1) + rat(30, 1) + rat(9000, 1000) +
      rat(73, 1) + rat(0, 1) + rat(3600, 2)
    val good = "ffd8" + "ffe1" + "00b6" + "457869660000" + tiff
    val noApp1 = "ffd8" + "ffdb" + "0004" + "0000"
    val out = Multimodal.withExifGps(
      Seq((1L, good), (2L, noApp1)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .select("id", "valid_exif", "datetime_original", "lat_mas", "lon_mas")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1)
    assert(out(1L).getString(2) == "2021:06:15 12:34:56")
    assert(out(1L).getLong(3) == 145809000L, s"lat_mas ${out(1L).getLong(3)}")
    assert(out(1L).getLong(4) == -264600000L, s"lon_mas ${out(1L).getLong(4)}")
    assert(out(2L).getInt(1) == 0 && out(2L).isNullAt(2) && out(2L).isNullAt(3),
      "missing APP1 must null everything")
  }

  test("H16 two withExifGps frames compose in ONE query (unique observe names)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // the codegen-span break rides an observe() metrics node, and
    // CollectMetrics names must be unique per analyzed plan — a fixed
    // name failed analysis on any union/join of two parsed frames
    def frame(id: Long) = Multimodal.withExifGps(
      Seq((id, "ffd8" + "ffdb" + "0004" + "0000")).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .select("id", "valid_exif")
    assert(frame(1L).unionAll(frame(2L)).collect().length == 2)
  }

  test("H14 withMp3Header hops syncsafe ID3 tags and resolves the bit-field tables") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // bare frame: 128 kbps (idx 9), 44.1 kHz (idx 0), no padding
    val bare = "fffb" + "90" + "00" + "aabbcc"
    // ID3v2 tag with a syncsafe size crossing the 7-bit boundary:
    // 200 = 1<<7 | 72 → size bytes 00 00 01 48; frame at 11+200
    val tagged = "494433" + "0400" + "00" + "00000148" + ("aa" * 200) +
      "fffb" + "92" + "00" // 128 kbps, 44.1 kHz, padded
    val freeBitrate = "fffb" + "00" + "00" // bitrate idx 0 = free
    val mpeg2 = "fff3" + "90" + "00" // version bits 10, not MPEG-1
    val junk = "abcdef0123456789"
    val out = Multimodal.withMp3Header(
      Seq((1L, bare), (2L, tagged), (3L, freeBitrate), (4L, mpeg2), (5L, junk))
        .toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_mp3", "has_id3", "frame_off", "bitrate_kbps",
        "sample_rate", "padding", "frame_len")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1 else r.getInt(5),
          if (r.isNullAt(7)) -1L else r.getLong(7)))
      }.toMap
    // 144000·128/44100 = 417 (floor)
    assert(out(1L) == ((1, 0, 1, 128, 44100, 417L)), s"bare: ${out(1L)}")
    assert(out(2L) == ((1, 1, 211, 128, 44100, 418L)),
      s"syncsafe hop + padding: ${out(2L)}")
    assert(out(3L)._1 == 0, "free bitrate must not validate")
    assert(out(4L)._1 == 0, "MPEG-2 version bits must not validate")
    assert(out(5L)._1 == 0, "junk must not validate")
  }

  test("H17 withId3Tags walks text frames in either order, stops at padding, nulls junk") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def hexOf(s: String) = s.getBytes("ISO-8859-1").map(b => f"$b%02x").mkString
    def ss4(n: Int) = f"${(n >> 21) & 0x7f}%02x${(n >> 14) & 0x7f}%02x" +
      f"${(n >> 7) & 0x7f}%02x${n & 0x7f}%02x"
    def frame(id: String, v: String) =
      hexOf(id) + ss4(v.length + 1) + "0000" + "00" + hexOf(v)
    val tit = frame("TIT2", "So Long")
    val tpe = frame("TPE1", "The Graft")
    val alb = frame("TALB", "Plans")
    def tag(frames: String, pad: Int) =
      "494433" + "0400" + "00" + ss4(frames.length / 2 + pad) +
        frames + "00" * pad
    val out = Multimodal.withId3Tags(
      Seq((1L, tag(tit + tpe + alb, 3)),  // all three, title first
        (2L, tag(alb + tpe + tit, 0)),    // reversed order, no padding
        (3L, tag(tit, 40)),               // one frame, wide padding
        (4L, "fffb9000"),                 // bare mp3, no tag
        (5L, "49443304000000000148"),     // header only, empty tag
        // tag declares 30 bytes but the TIT2 frame claims a 1000-byte
        // payload: header fits, payload overflows the tag → frame dead
        (6L, "494433" + "0400" + "00" + ss4(30) +
          hexOf("TIT2") + ss4(1000) + "0000" + "00" + hexOf("X" * 19) +
          hexOf("POST-TAG-AUDIO-BYTES")))
        .toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .select("id", "valid_id3", "n_frames", "title", "artist", "album")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) "-" else r.getString(3),
        if (r.isNullAt(4)) "-" else r.getString(4),
        if (r.isNullAt(5)) "-" else r.getString(5)))).toMap
    assert(out(1L) == ((1, 3, "So Long", "The Graft", "Plans")), s"${out(1L)}")
    assert(out(2L) == ((1, 3, "So Long", "The Graft", "Plans")),
      s"order must not matter: ${out(2L)}")
    assert(out(3L) == ((1, 1, "So Long", "-", "-")), s"${out(3L)}")
    assert(out(4L) == ((0, -1, "-", "-", "-")), "no tag nulls everything")
    assert(out(5L) == ((1, 0, "-", "-", "-")), s"empty tag: ${out(5L)}")
    assert(out(6L) == ((1, 0, "-", "-", "-")),
      s"oversized frame payload must not escape the declared tag: ${out(6L)}")
  }

  test("H18 withIcoDims reads first-entry dims with the 0-means-256 quirk; cursors rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // 16x32 icon, 3 images, 24bpp
    val icon = "0000" + "0100" + "0300" + "10" + "20" + "00" + "00" +
      "0100" + "1800" + "00000000" + "16000000"
    // 256x256 spelled as 0x00 bytes
    val big = "0000" + "0100" + "0100" + "00" + "00" + "00" + "00" +
      "0100" + "2000" + "00000000" + "16000000"
    val cursor = "0000" + "0200" + "0100" + "10" + "10" + "00" + "00" +
      "0100" + "0100" + "00000000" + "16000000"
    val junk = "89504e470d0a1a0a"
    val out = Multimodal.withIcoDims(
      Seq((1L, icon), (2L, big), (3L, cursor), (4L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .select("id", "valid_ico", "n_images", "width", "height", "bpp")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        if (r.isNullAt(5)) -1 else r.getInt(5)))).toMap
    assert(out(1L) == ((1, 3, 16, 32, 24)), s"${out(1L)}")
    assert(out(2L) == ((1, 1, 256, 256, 32)), s"0 byte must read as 256: ${out(2L)}")
    assert(out(3L)._1 == 0, "a cursor (type 2) must not validate")
    assert(out(4L)._1 == 0, "PNG bytes must not validate")
  }

  test("H19 withOggMeta parses a Vorbis BOS page, s64 granule wrap, and segment bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // BOS page: serial 12345, seq 0, 2 segments (30-byte Vorbis id +
    // 5 filler) — stereo 44100 Hz
    val vorbisId = "01" + "766f72626973" + "00000000" + "02" + "44ac0000" +
      ("00" * 12) + "b8" + "01"
    val bos = "4f676753" + "00" + "02" + ("00" * 8) + "39300000" +
      "00000000" + "00000000" + "02" + "1e" + "05" + vorbisId + ("aa" * 5)
    // mid-stream EOS page with granule -1 (the end-of-stream marker):
    // the two u32-half reads must recombine to the signed value
    val eos = "4f676753" + "00" + "04" + ("ff" * 8) + "39300000" +
      "07000000" + "00000000" + "01" + "03" + "aabbcc"
    // 5 segments > OggMaxSegments=4: n_segments reads but body_len
    // must NULL (the bounded walk refuses a sum it didn't finish)
    val wide = "4f676753" + "00" + "00" + ("00" * 8) + "39300000" +
      "01000000" + "00000000" + "05" + ("01" * 5) + ("bb" * 5)
    val junk = "4f676758" + "00" + "02" + ("00" * 24)
    val out = Multimodal.withOggMeta(
      Seq((1L, bos), (2L, eos), (3L, wide), (4L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .collect().map { r =>
        def l(n: String) = if (r.isNullAt(r.fieldIndex(n))) Long.MinValue
          else r.getAs[Any](n) match { case i: Int => i.toLong; case x: Long => x }
        r.getLong(0) -> ((r.getAs[Int]("valid_ogg"), l("is_bos"), l("is_eos"),
          l("granule"), l("serial"), l("page_seq"), l("n_segments"),
          l("body_len"), l("channels"), l("sample_rate")))
      }.toMap
    assert(out(1L) == ((1, 1L, 0L, 0L, 12345L, 0L, 2L, 35L, 2L, 44100L)),
      s"BOS Vorbis page: ${out(1L)}")
    assert(out(2L) == ((1, 0L, 1L, -1L, 12345L, 7L, 1L, 3L,
      Long.MinValue, Long.MinValue)), s"EOS page, granule -1: ${out(2L)}")
    assert(out(3L)._7 == 5L && out(3L)._8 == Long.MinValue,
      s"overflowing segment table must null body_len: ${out(3L)}")
    assert(out(4L)._1 == 0, "corrupt capture must not validate")
  }

  test("H20 withZipEntry reads the first local header; hostile name length nulls filename") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02x".format(_)).mkString
    // epub-style: stored "mimetype", crc 0x12345678, sizes 20/20
    val epub = "504b0304" + "1400" + "0000" + "0000" + "0000" + "0000" +
      "78563412" + "14000000" + "14000000" + "0800" + "0000" + hexOf("mimetype")
    // hostile name length 0xFFFF: name_len reads, filename must NULL
    val hostile = "504b0304" + "1400" + "0000" + "0800" + "0000" + "0000" +
      "00000000" + "0a000000" + "64000000" + "ffff" + "0000" + hexOf("x")
    val junk = "504b0506" + ("00" * 18)
    val out = Multimodal.withZipEntry(
      Seq((1L, epub), (2L, hostile), (3L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .collect().map(r => r.getLong(0) -> ((r.getAs[Int]("valid_zip"),
        r.getAs[String]("method"), r.getAs[Any]("crc32"),
        r.getAs[Any]("name_len"), r.getAs[String]("filename")))).toMap
    assert(out(1L) == ((1, "stored", 0x12345678L, 8, "mimetype")), s"${out(1L)}")
    assert(out(2L)._2 == "deflated" && out(2L)._4 == 0xffff &&
      out(2L)._5 == null, s"hostile length must null the name: ${out(2L)}")
    assert(out(3L)._1 == 0, "an EOCD-first blob is not a local header")
  }

  test("H21 withTarHeader decodes octal fields, NUL-padded slots, and typeflag classes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02x".format(_)).mkString
    def slot(s: String, len: Int) = hexOf(s).padTo(len * 2, '0').mkString
    def header(name: String, sizeOct: String, mtimeOct: String,
        typeflag: String, magic: String, uname: String) =
      slot(name, 100) + slot("0000644", 8) + slot("0000000", 8) +
        slot("0000000", 8) + slot(sizeOct, 12) + slot(mtimeOct, 12) +
        "20" * 8 + hexOf(typeflag) + "0" * 200 + magic + "3030" +
        slot(uname, 32)
    // 0o777 = 511 bytes; 0o14371339573 is not valid octal (9) — use 0o14327724255
    val file = header("a.txt", "00000000777", "14327724255", "0", "757374617200", "root")
    val dir = header("d/", "00000000000", "00000000001", "5", "757374617200", "u")
    // old-tar NUL typeflag must classify as a regular file
    val oldFile = slot("b", 100) + slot("0000644", 8) + slot("0000000", 8) +
      slot("0000000", 8) + slot("00000000012", 12) + slot("00000000000", 12) +
      "20" * 8 + "00" + "0" * 200 + "757374617200" + "3030" + slot("x", 32)
    val junk = header("x", "00000000001", "00000000000", "0", "757374617a00", "n")
    val out = Multimodal.withTarHeader(
      Seq((1L, file), (2L, dir), (3L, oldFile), (4L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .collect().map(r => r.getLong(0) -> ((r.getAs[Int]("valid_tar"),
        r.getAs[String]("name"), r.getAs[Any]("size"), r.getAs[Any]("mtime"),
        r.getAs[String]("entry_type"), r.getAs[String]("uname")))).toMap
    assert(out(1L) == ((1, "a.txt", 511L, java.lang.Long.parseLong("14327724255", 8),
      "file", "root")), s"${out(1L)}")
    assert(out(2L) == ((1, "d/", 0L, 1L, "dir", "u")), s"${out(2L)}")
    assert(out(3L)._5 == "file", s"NUL typeflag is an old-tar regular file: ${out(3L)}")
    assert(out(4L)._1 == 0 && out(4L)._2 == null, "bad magic must not validate")
  }

  test("H22 withGzipHeader reads FLG bits, MTIME, XFL/OS, and the trailing FNAME") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def hexOf(s: String) = s.getBytes("UTF-8").map("%02x".format(_)).mkString
    // FNAME set, mtime 1234567890 (le d2029649), best, unix, "hello.txt\0"
    val named = "1f8b08" + "08" + "d2029649" + "02" + "03" + hexOf("hello.txt") + "00" + "4b4c"
    // bare: no flags, mtime 0, fastest, FAT
    val bare = "1f8b08" + "00" + "00000000" + "04" + "00" + "4b4c"
    // FTEXT+FEXTRA: text flag and the splittable-variant signal
    val extra = "1f8b08" + "05" + "01000000" + "02" + "03" + "0600" + "424322" * 2
    val junk = "1f8c08" + "00" + "00000000" + "02" + "03"
    val out = Multimodal.withGzipHeader(
      Seq((1L, named), (2L, bare), (3L, extra), (4L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("p")), "p")
      .collect().map(r => r.getLong(0) -> ((r.getAs[Int]("valid_gzip"),
        r.getAs[Any]("has_name"), r.getAs[Any]("has_extra"), r.getAs[Any]("is_text"),
        r.getAs[Any]("mtime"), r.getAs[String]("xfl_hint"),
        r.getAs[String]("os_name"), r.getAs[String]("fname")))).toMap
    assert(out(1L) == ((1, 1, 0, 0, 1234567890L, "best", "unix", "hello.txt")), s"${out(1L)}")
    assert(out(2L) == ((1, 0, 0, 0, 0L, "fastest", "fat", null)), s"${out(2L)}")
    assert(out(3L)._3 == 1 && out(3L)._4 == 1 && out(3L)._8 == null, s"${out(3L)}")
    assert(out(4L)._1 == 0, "bad magic must not validate")
  }

  test("H15 withPngChunks hops variable chunks to pHYs/tEXt; stops at IEND; junk rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    val sig = Multimodal.PngSigHex
    val ihdr = "0000000d" + "49484452" + "00000280" + "000001e0" +
      "0806000000" + "00000000"
    // 2834 ppm ≈ 72 dpi in metres — the canonical pHYs
    val phys = "00000009" + "70485973" + "00000b12" + "00000b12" + "01" + "00000000"
    val text = "00000007" + "74455874" + ("61" * 7) + "00000000"
    val withBoth = sig + ihdr + text + phys + "00000000" + "49444154" + "00000000"
    // IEND right after IHDR: the walk must stop, no metadata found
    val bare = sig + ihdr + "00000000" + "49454e44" + "ae426082"
    val junk = "474946383961" + ("00" * 30)
    val out = Multimodal.withPngChunks(
      Seq((1L, withBoth), (2L, bare), (3L, junk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_png", "phys_x", "phys_y", "phys_unit", "text_len")
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))
      }.toMap
    assert(out(1L) == ((1, 2834L, 1, 7L)), s"tEXt-then-pHYs chain: ${out(1L)}")
    assert(out(2L) == ((1, -1L, -1, -1L)), s"no-metadata PNG stays null: ${out(2L)}")
    assert(out(3L)._1 == 0, "GIF bytes must not validate as PNG")
  }

  test("H7 withMp4Boxes walks a genuine box chain and rejects non-MP4 streams") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex, lit, hex, lower}
    // ftyp(20) + free(8+3) + moov{mvhd: timescale 600, duration 1800}
    // (full 116 bytes) + mdat header declaring 0x100 bytes
    val mvhd = "0000006c" + "6d766864" + "00000000" +
      "00000001" + "00000002" + "00000258" + "00000708" + ("00" * 80)
    val mp4 = "00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431" +
      "0000000b" + "66726565" + "aabbcc" +
      "00000074" + "6d6f6f76" + mvhd +
      "00000100" + "6d646174"
    val notMp4 = "0000000c" + "6a756e6b" + "00000000" // 4cc "junk"
    val df = Seq((1L, mp4), (2L, notMp4)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val scanned = Multimodal.withMp4Boxes(df, "payload")
    val ts = Bytes.be(col("payload"), col("moov_off") + lit(28), 4)
    val dur = Bytes.be(col("payload"), col("moov_off") + lit(32), 4)
    val byId = scanned
      .select(col("id"), col("valid_ftyp"), col("moov_off"), col("mdat_size"), ts, dur)
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))
      }.toMap
    // free spans 11 bytes: moov at 1 + 20 + 11 = 32 (1-based)
    assert(byId(1L) == ((1, 32, 256L, 600L, 1800L)))
    assert(byId(2L)._1 == 0 && byId(2L)._2 == 0 && byId(2L)._3 == 0L)
  }

  test("H7 special size encodings: size==1 reads the 64-bit largesize, size==0 spans to EOF") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    val mvhd = "0000006c" + "6d766864" + "00000000" +
      "00000001" + "00000002" + "00000258" + "00000708" + ("00" * 80)
    val ftypMoov = "00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431" +
      "00000074" + "6d6f6f76" + mvhd
    // mdat with size==1: the declared size is the 64-bit largesize (32)
    val largesize = ftypMoov + "00000001" + "6d646174" + "0000000000000020"
    // mdat with size==0: spans to end of stream — header only → 8 bytes
    val toEof = ftypMoov + "00000000" + "6d646174"
    // size==1 but the stream ends before the 8 largesize bytes: the
    // null read freezes the walk, mdat_size must stay 0 (not garbage)
    val cutLarge = ftypMoov + "00000001" + "6d646174"
    val out = Multimodal.withMp4Boxes(
      Seq((1L, largesize), (2L, toEof), (3L, cutLarge)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("id", "valid_ftyp", "moov_off", "mdat_size")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1, 21, 32L)), s"largesize: ${out(1L)}")
    assert(out(2L) == ((1, 21, 8L)), s"size==0: ${out(2L)}")
    assert(out(3L) == ((1, 21, 0L)), s"cut largesize: ${out(3L)}")
  }

  test("H7 truncated streams: declared sizes past end-of-bytes freeze the walk, no garbage reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    // ftyp declares 20 bytes but the stream ends after 12 — the next
    // hop reads an empty slice, the offset goes null, and captured
    // values stay at their zero defaults (no moov, no mdat)
    val cutMp4 = "00000014" + "66747970" + "69736f6d"
    // valid ftyp, then a box whose declared size (0x7fffffff) points
    // far past the end — the walk must not loop or mis-capture
    val hugeBox = "00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431" +
      "7fffffff" + "6a756e6b"
    val df = Seq((1L, cutMp4), (2L, hugeBox)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    val out = Multimodal.withMp4Boxes(df, "payload")
      .select("id", "valid_ftyp", "moov_off", "mdat_size")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1, 0, 0L)), s"truncated: ${out(1L)}")
    assert(out(2L) == ((1, 0, 0L)), s"huge box: ${out(2L)}")
    // same guard on the RIFF walk: a chunk declaring 0xFFFFFFFF bytes
    // freezes the walk instead of overflowing the int cast
    val hugeChunk = "52494646" + "ffffffff" + "57415645" +
      "4c495354" + "ffffffff" + "0000"
    val wav = Multimodal.withWavChunks(
      Seq((9L, hugeChunk)).toDF("id", "hx")
        .select(col("id"), unhex(col("hx")).as("payload")), "payload")
      .select("valid_riff", "fmt_off", "data_size").collect().head
    assert(wav.getInt(0) == 1 && wav.getInt(1) == 0 && wav.getLong(2) == 0L)
  }

  test("fields that do not fit their type read as null: no 64-bit or variable-width read fails the query") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unhex}
    def bin(hx: String) = Seq((1L, hx)).toDF("id", "hx")
      .select(col("id"), unhex(col("hx")).as("payload"))
    // MP4 (24 bytes): an mdat box with size32 = 1 and a largesize of
    // 0xffffffffffffff00, past Long.MaxValue — the box size is null,
    // so the walk freezes with no mdat size captured
    val mp4 = Multimodal.withMp4Boxes(
      bin("00000008" + "66747970" + "00000001" + "6d646174" + "ffffffffffffff00"), "payload")
      .select("valid_ftyp", "moov_off", "mdat_size").collect().head
    assert(mp4.getInt(0) == 1 && mp4.getInt(1) == 0 && (mp4.isNullAt(2) || mp4.getLong(2) == 0L),
      s"mp4: $mp4")
    // TFRecord: a u64le length with the top bit set — the first record
    // cannot fit, so the shard does not validate
    val tf = Multimodal.withTfRecords(bin("0000000000000080" + "aabbccdd" + "00" * 8), "payload")
      .select("valid_tfrecord", "n_records", "first_len").collect().head
    assert(tf.getInt(0) == 0 && tf.isNullAt(1) && tf.isNullAt(2), s"tfrecord: $tf")
    // GGUF: a first key length of 0xff00000000000000 — unreadable, so
    // the key is null and the header counts as truncated
    val gguf = Multimodal.withGgufHeader(bin("47475546" + "03000000" + "0100000000000000" +
      "0100000000000000" + "00000000000000ff" + "00" * 8), "payload")
      .select("valid_gguf", "key_len", "first_key", "truncated").collect().head
    assert(gguf.getInt(0) == 1 && gguf.isNullAt(1) && gguf.isNullAt(2) && gguf.getInt(3) == 1,
      s"gguf: $gguf")
    // EBML: a 4-byte EBMLVersion value of 0xffffffff does not fit the
    // int column — null, while the walk still reads the DocType after it
    val ebml = Multimodal.withEbmlHeader(bin("1a45dfa3" + "8f" + "4286" + "84" + "ffffffff" +
      "4282" + "84" + "7765626d"), "payload")
      .select("valid_ebml", "ebml_version", "doctype").collect().head
    assert(ebml.getInt(0) == 1 && ebml.isNullAt(1) && ebml.getString(2) == "webm", s"ebml: $ebml")
  }

  test("H42/E20 dHash near-dup: every same-group pair verified, zero cross-group pairs, bands codegen-stable") {
    import spark.implicits._
    val pairs = Multimodal.mmDhashPairs(spark, sfDir)
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty)
    // the synthetic decode makes doc_id div 4 the ground-truth group:
    // ALL within-group pairs must verify (noise flips <= 4 bits), and
    // nothing across groups may pass the Hamming gate
    pairs.foreach { case (a, b, d) =>
      assert(a / Multimodal.DHashGroup == b / Multimodal.DHashGroup,
        s"cross-group pair ($a, $b) at hamming $d")
      assert(d <= Multimodal.DHashThreshold)
    }
    val n = graft.Tables.documents(spark, sfDir).count()
    val groups = (0L until n).groupBy(_ / Multimodal.DHashGroup)
    val expected = groups.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(pairs.length.toLong == expected,
      s"recall must be total on the constructed groups: ${pairs.length} vs $expected")
    // banding guarantee, checked directly: every true pair agrees on
    // at least one 16-bit band (the bucket join can never miss one)
    val bands = Multimodal.mmDhash(spark, sfDir)
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    pairs.foreach { case (a, b, _) =>
      assert(bands(a).zip(bands(b)).exists(x => x._1 == x._2),
        s"pair ($a, $b) shares no band - the blocking would miss it") }
  }

  test("H43/E23 audio fingerprint: every same-track pair verified at its exact pad offset, zero cross-track pairs, alignment floor holds under glitches") {
    import spark.implicits._
    val pairs = Multimodal.mmAfpPairs(spark, sfDir)
      .as[(Long, Long, Int, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, off, n) =>
      // ground truth: doc_id div 3 is the track, doc_id mod 3 the pad
      // shift — a verified pair must be same-track, at EXACTLY the
      // difference of the two pad lengths, above the alignment floor
      assert(a / Multimodal.AfpGroup == b / Multimodal.AfpGroup,
        s"cross-track pair ($a, $b) with $n aligned at offset $off")
      assert(off == (b % Multimodal.AfpGroup - a % Multimodal.AfpGroup).toInt,
        s"pair ($a, $b) matched at offset $off, not its pad delta")
      assert(n >= Multimodal.AfpMinRun)
      // the worst constructed case: max pad 2 plus two interior
      // glitches each killing <= 2 bigrams -> >= 17 aligned
      assert(n >= 17, s"pair ($a, $b) aligned only $n — glitch math off")
    }
    // total recall: every within-track pair, each at ONE offset
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    val expected = (0L until nDocs).groupBy(_ / Multimodal.AfpGroup)
      .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(pairs.length.toLong == expected,
      s"recall must be total on constructed tracks: ${pairs.length} vs $expected")
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length,
      "no pair may verify at two offsets")
    // the frame table itself: one subfingerprint per (clip, frame),
    // 16-bit range, glitch bit landed (frame doc%24 differs from the
    // same track position in a shift-0 sibling only by bit 0 when
    // both read base content)
    val fp = Multimodal.mmAfp(spark, sfDir)
      .filter(col("doc_id") < 3).as[(Long, Int, Int)].collect()
    assert(fp.length == 3 * Multimodal.AfpFrames)
    assert(fp.forall(r => r._3 >= 0 && r._3 < 65536))
  }

  test("H46/E25 video near-dup: every same-video pair verified at its exact pad offset despite per-clip bit noise; survivors one per video") {
    import spark.implicits._
    val pairs = Multimodal.mmVidPairs(spark, sfDir)
      .as[(Long, Long, Int, Long)].collect()
    assert(pairs.nonEmpty)
    val n = graft.Tables.documents(spark, sfDir).count()
    pairs.foreach { case (a, b, off, aligned) =>
      // ground truth: doc_id div 3 is the video, doc_id mod 3 the pad
      assert(a / Multimodal.VidGroup == b / Multimodal.VidGroup,
        s"cross-video pair ($a, $b)")
      assert(off == (b % Multimodal.VidGroup - a % Multimodal.VidGroup),
        s"pair ($a, $b) verified at wrong offset $off")
      // overlap floor: 15 − max(pad) bigram positions, ALL of which
      // must align — the per-clip flipped bit may break one band of a
      // bigram but never all four (the band-robust blocking claim)
      val expect = Multimodal.VidFrames - 1 -
        math.max(a % Multimodal.VidGroup, b % Multimodal.VidGroup)
      assert(aligned == expect,
        s"pair ($a, $b) aligned $aligned, expected $expect")
    }
    // total recall on the constructed groups
    val groups = (0L until n).groupBy(_ / Multimodal.VidGroup)
    val expected = groups.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(pairs.length.toLong == expected,
      s"recall must be total: ${pairs.length} vs $expected")
    // survivors: exactly the min doc of each video kept
    val kept = Multimodal.mmVidSurvivors(spark, sfDir)
      .as[(Long, Long, Int)].collect()
    assert(kept.length.toLong == n)
    kept.foreach { case (id, canon, isKept) =>
      assert(canon == (id / Multimodal.VidGroup) * Multimodal.VidGroup ||
        (id / Multimodal.VidGroup) * Multimodal.VidGroup >= n - n % Multimodal.VidGroup,
        s"canonical of $id is $canon")
      assert(isKept == (if (id == canon) 1 else 0))
    }
    assert(kept.count(_._3 == 1).toLong == groups.size)
  }

  test("H44 CLIP-score gate: aligned captions admit, every mismatched caption rejects, scoring is a shuffle-free projection") {
    import spark.implicits._
    val scored = Multimodal.mmClipScore(spark, sfDir)
      .as[(Long, Double, Int)].collect()
    val n = graft.Tables.documents(spark, sfDir).count()
    assert(scored.length.toLong == n)
    scored.foreach { case (id, s, adm) =>
      assert(adm == (if (s >= Multimodal.ClipThreshold) 1 else 0))
      if (id % Multimodal.ClipMismatch == 0)
        assert(adm == 0, s"mismatched caption $id admitted at $s")
      else
        assert(adm == 1, s"aligned caption $id rejected at $s")
    }
    // the admission gate is a PROJECTION: no exchange anywhere — at
    // corpus scale the filter costs one codegen'd pass over the pairs
    val a = graft.monitor.PlanAudit.audit(Multimodal.mmClipScore(spark, sfDir))
    assert(a.shuffleExchanges == 0, s"per-pair scoring must not shuffle: $a")
    assert(a.wholeStageSpans >= 1, s"scoring must run codegen'd: $a")
  }

  test("H45 CLIP retrieval: exact parity with an in-memory reference (bands, candidates, scores); blocking is banded, never all-pairs") {
    import spark.implicits._
    // independent reference: same md5-slice embeddings, same sign
    // bands, same left-to-right double cosine, same HALF_UP round-4
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def slice(key: String, j: Int): Int = {
      val h = md5hex(if (j < 8) key else key + "#2")
      Integer.parseInt(h.substring(4 * (j % 8), 4 * (j % 8) + 4), 16)
    }
    def imgEmb(g: Long): Array[Int] =
      Array.tabulate(Multimodal.ClipDims)(j => slice(s"clipimg|$g", j) - 32768)
    def capEmb(doc: Long): Array[Int] = {
      val g = doc / Multimodal.DHashGroup
      val cg = if (doc % Multimodal.ClipMismatch == 0) g + 999983L else g
      imgEmb(cg).zipWithIndex.map { case (b, j) =>
        b + (slice(s"clipcap|$doc", j) % 16384 - 8192) }
    }
    def cos(a: Array[Int], b: Array[Int]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (j <- 0 until Multimodal.ClipDims) {
        dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def bands(e: Array[Int]): Seq[(Int, Int)] = (0 until Multimodal.ClipBands).map(b =>
      b -> (0 until 4).map(k => if (e(4 * b + k) > 0) 1 << k else 0).sum)
    val n = graft.Tables.documents(spark, sfDir).count()
    val imgs = (0L until n).map(d => d -> imgEmb(d / Multimodal.DHashGroup)).toMap
    val caps = (0L until n).map(d => d -> capEmb(d)).toMap
    val capBands = caps.map { case (d, e) => d -> bands(e).toSet }
    val expect = (for {
      (i, ie) <- imgs.toSeq
      ib = bands(ie).toSet
      (c, cb) <- capBands.toSeq
      if c != i && ib.intersect(cb).size >= Multimodal.ClipMinBands
      s = cos(ie, caps(c))
      if s >= Multimodal.ClipThreshold
    } yield (i, c, s)).toSet
    val got = Multimodal.mmClipRetrieval(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"retrieval diverges: extra=${(got -- expect).take(3)} missing=${(expect -- got).take(3)}")
    // the admitted set is dominated by the constructed aligned
    // same-group pairs (an 8-dim random tail can clear the gate, so
    // exact zero is not the claim — parity above is)
    val aligned = got.count { case (i, c, _) =>
      i / Multimodal.DHashGroup == c / Multimodal.DHashGroup &&
        c % Multimodal.ClipMismatch != 0 }
    assert(aligned * 10 >= got.size * 9, s"aligned $aligned of ${got.size}")
    // plan shape: the candidate generator joins band rows (an equi
    // join), never a cartesian product
    val nodes = graft.monitor.PlanAudit.nodes(
      Multimodal.mmClipRetrieval(spark, sfDir))
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "retrieval must block on bands, never all-pairs")
  }

  test("H42/H45 production-width dials: recall holds at 256-bit hash and 512-dim bands while candidate mass stays a small fraction") {
    // the committed bench rows' invariants, pinned at spec scale: the
    // noise construction flips ≤2 bits of 256 (≤2 bands of 16), so
    // wide-hash banding recall is EXACTLY 1; sign-band recall at 512
    // dims is probabilistic (~0.97 at the constructed flip rate)
    val (bitsD, bandsD, recallD, fracD, pd, ed) =
      Multimodal.dhashDialWide(spark, sfDir)
    assert((bitsD, bandsD) == ((256, 16)))
    assert(recallD == 1.0, s"wide-hash banding must be lossless here: $recallD ($pd/$ed)")
    assert(ed > 0, "the exact side must find the constructed near-dups")
    assert(fracD < 0.2, s"banding must prune the pair space: $fracD")
    val (dims, bands, minB, recallC, fracC, pc, ec) =
      Multimodal.clipDialWide(spark, sfDir)
    assert((dims, bands, minB) == ((512, 8, 1)))
    assert(ec > 0 && recallC >= 0.9,
      s"512-dim sign-band recall must hold: $recallC ($pc/$ec)")
    assert(fracC < 0.2, s"banding must prune the pair space: $fracC")
  }

  test("H49 decode quarantine: truncated files quarantine as rows, intact files decode, every input accounted for") {
    val out = Multimodal.mmDecodeQuarantine(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(out.size == docs, "row-class completeness: ok + quarantined = corpus")
    val (bad, good) = out.partition(_._1 % 9 == 0)
    assert(bad.nonEmpty && bad.values.forall(_ == ((0, None))),
      "every truncated file must quarantine with null dims")
    assert(good.values.forall(_ == ((1, Some(9)))),
      "every intact file must decode to the 9-wide raster")
  }

  test("H48 real PNG decode: encode->decode is pixel-exact past 255, garbage fails loudly, and the decoded-pixel dHash equals the formula hash corpus-wide") {
    // raster round-trip on a grid that EXCEEDS 8-bit range (the noise
    // bump reaches 332) — the reason the fixture writes 16-bit gray
    val grid = (0 until 72).map(i => (i * 41 + 7) % 333)
    val bytes = Multimodal.pngEncodeGray16(grid, 9, 8)
    assert(bytes.length > 8 &&
      bytes.take(8).map(_ & 0xff).map(b => f"$b%02x").mkString ==
        Multimodal.PngSigHex, "the fixture must emit genuine PNG bytes")
    val back = Multimodal.pngDecodeGray(bytes)
    assert((back.width, back.height) == ((9, 8)))
    assert(back.px == grid, "16-bit gray PNG must round-trip samples exactly")
    // non-image bytes: the decoder refuses, never returns garbage
    intercept[IllegalArgumentException] {
      Multimodal.pngDecodeGray("not a png at all".getBytes("UTF-8"))
    }
    // corpus-wide: the REAL path (files -> binaryFile -> ImageIO ->
    // dHash over decoded pixels) must equal the formula-derived hash
    // for EVERY document — decode∘encode is the identity THROUGH the
    // production operator, not just on one fixture
    val real = Multimodal.mmDecodeDhash(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))))
      .toMap
    val formula = Multimodal.mmDhash(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((9, 8, r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(real.size == formula.size && real.nonEmpty)
    assert(real == formula,
      s"decoded-pixel dHash diverged for ${real.count(kv => formula.get(kv._1) != Some(kv._2))} docs")
  }

  test("H48 color decode: a true-color image grays to BT.601 luminance, never the blue channel") {
    // one pixel per primary plus a gray control — if the decoder read
    // (rgb & 0xFF) it would report blue=255 for the blue pixel and 0
    // for red/green; luminance separates all four
    val img = new java.awt.image.BufferedImage(4, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000)  // red
    img.setRGB(1, 0, 0x00FF00)  // green
    img.setRGB(2, 0, 0x0000FF)  // blue
    img.setRGB(3, 0, 0x808080)  // gray control
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val back = Multimodal.imageDecodeGray(bos.toByteArray)
    assert((back.width, back.height) == ((4, 1)))
    assert(back.px == Seq(255 * 299 / 1000, 255 * 587 / 1000,
      255 * 114 / 1000, 0x80),
      s"expected BT.601 luminance (76, 149, 29, 128), got ${back.px}")
  }

  test("H50/H51 GIF + BMP real decode: 8-bit gray round-trips exactly through the palette (GIF) and the plain raster (BMP); truncation quarantines") {
    val grid = (0 until 72).map(i => (i * 41 + 7) % 256)
    for (fmt <- Seq("gif", "bmp")) {
      val bytes = Multimodal.gray8Encode(grid, 9, 8, fmt)
      val back = Multimodal.imageDecodeGray(bytes)
      assert((back.width, back.height) == ((9, 8)), s"$fmt dims")
      assert(back.px == grid,
        s"$fmt 8-bit gray must round-trip samples exactly " +
          "(GIF reads back THROUGH the palette via getRGB — raster " +
          "samples would be palette indices)")
      // truncated mid-stream: the decoder refuses, never returns garbage
      intercept[Exception] { Multimodal.imageDecodeGray(bytes.take(20)) }
    }
    // samples past 8-bit range must be refused, not silently wrapped
    intercept[IllegalArgumentException] {
      Multimodal.gray8Encode(grid.updated(0, 300), 9, 8, "gif")
    }
    // corpus-wide: the GIF face carries BOTH contracts in one fixture —
    // decode-exactness (bands == the 8-bit formula) for intact files,
    // quarantine (ok=0, null bands) for every truncated 9th file
    val gif = Multimodal.mmGifDecode(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) None else Some((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))))
      .toMap
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(gif.size == docs, "row-class completeness: ok + quarantined = corpus")
    val (bad, good) = gif.partition(_._1 % 9 == 0)
    assert(bad.nonEmpty && bad.values.forall(_ == ((0, None))),
      "every truncated GIF must quarantine with null bands")
    assert(good.nonEmpty && good.values.forall(v => v._1 == 1 && v._2.isDefined),
      "every intact GIF must decode to non-null bands")
    // and BMP agrees with GIF band-for-band on intact docs — the same
    // 8-bit grid decoded through two unrelated codecs
    val bmp = Multimodal.mmBmpDecode(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    assert(bmp.size == docs)
    assert(good.forall { case (id, (_, b)) => b.contains(bmp(id)) },
      "GIF and BMP decode paths must agree on the same grid")
  }

  test("H52 real-pixel CLIP retrieval: decoded bytes drive the image tower end to end; aligned same-group captions retrieve, mismatched captions never do") {
    val out = Multimodal.mmClipPixels(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty, "the retrieval face must retrieve")
    // every retrieved pair clears the production threshold
    assert(out.forall(_._3 >= Multimodal.ClipThreshold))
    // mismatched captions (doc_id % ClipMismatch == 0 captions a
    // far-away group) must NEVER be retrieved — the class the CLIP
    // gate exists to reject
    assert(out.forall { case (_, cap, _) => cap % Multimodal.ClipMismatch != 0 },
      "a mismatched caption survived retrieval")
    // the aligned class dominates: same-group pairs are the signal
    val same = out.count { case (i, c, _) => i / Multimodal.DHashGroup == c / Multimodal.DHashGroup }
    assert(same * 10 > out.length * 9,
      s"aligned pairs must dominate retrieval ($same of ${out.length})")
    // and retrieval genuinely recalls the aligned population: every
    // non-mismatch doc has DHashGroup-1 aligned partners; demand most
    // dock (banding admits ≥ 2-of-4 band agreement, not all)
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(same >= docs / 2,
      s"retrieved only $same aligned pairs over $docs docs — the towers diverged")
  }
}
