package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generated-input properties of the binary header parsers, one
  * DataFrame of [[Rows]] generated rows per parser (not one Spark job
  * per sample), from a fixed scalacheck seed:
  *  - corrupting random bytes after a well-formed header's magic never
  *    makes a parser throw: a field that cannot be read reads as null
  *    and the walks freeze;
  *  - for the fixed-offset formats, writing random in-range field
  *    values with the [[Bytes]] hex writes and parsing them back
  *    returns the same values. */
class HeaderPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Rows = 200

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def le(v: Long, n: Int): String =
    (0 until n).map(i => f"${(v >>> (8 * i)) & 0xff}%02x").mkString
  private def be(v: Long, n: Int): String =
    (n - 1 to 0 by -1).map(i => f"${(v >>> (8 * i)) & 0xff}%02x").mkString
  private def ascii(s: String): String = s.getBytes("UTF-8").map("%02x".format(_)).mkString

  /** A well-formed stream and the bytes the corruption leaves intact
    * (the magic). */
  private case class Seed0(hex: String, keepFrom: Int, keepUntil: Int)
  private def head(hex: String, magicLen: Int) = Seed0(hex, 0, magicLen)

  private val png = "89504e470d0a1a0a"
  private val exifTiffLe = "49492a00" + le(8, 4) + le(2, 2) +
    le(270, 2) + le(2, 2) + le(4, 4) + le(38, 4) +
    le(274, 2) + le(3, 2) + le(1, 4) + le(6, 2) + "0000" + le(0, 4)
  private val gpsTiffLe = {
    def entry(tag: Int, tpe: Int, cnt: Int, v: String) = le(tag, 2) + le(tpe, 2) + le(cnt, 4) + v
    "49492a00" + le(8, 4) +
      le(3, 2) + entry(274, 3, 1, le(1, 2) + "0000") + entry(34665, 4, 1, le(50, 4)) +
      entry(34853, 4, 1, le(68, 4)) + le(0, 4) +
      le(1, 2) + entry(36867, 2, 20, le(122, 4)) + le(0, 4) +
      le(4, 2) + entry(1, 2, 2, "4e000000") + entry(2, 5, 3, le(142, 4)) +
      entry(3, 2, 2, "45000000") + entry(4, 5, 3, le(166, 4)) + le(0, 4) +
      ascii("2020:01:02 03:04:05") + "00" +
      Seq(10, 1, 20, 1, 30000, 1000, 100, 1, 5, 1, 1234, 1000).map(le(_, 4)).mkString
  }
  private val avih = Seq(33333, 0, 0, 16, 300, 0, 1, 0, 640, 480).map(le(_, 4)).mkString + "00" * 16
  private val id3Frame = ascii("TIT2") + "00000006" + "0000" + "00" + ascii("Title")
  private val tarHeader = {
    def slot(s: String, n: Int) = (ascii(s) + "00" * n).take(2 * n)
    slot("docs/a.txt", 100) + slot("0000000", 8) * 3 + ascii("00000000012") + "00" +
      ascii("14545736000") + "00" + "20" * 8 + ascii("0") + "00" * 100 +
      ascii("ustar") + "00" + ascii("00") + slot("builder", 32) + "00" * 215
  }
  private val stJson = """{"w":{"dtype":"F32","shape":[2,3],"data_offsets":[0,24]}}"""
  private val npyDict = {
    val d = "{'descr': '<f4', 'fortran_order': False, 'shape': (2, 3), }"
    d + " " * ((16 - (10 + d.length + 1) % 16) % 16) + "\n"
  }
  // 80 characters: a schema length whose zigzag varint takes two bytes
  private val avroSchema = """{"type":"record","name":"r","doc":"""" + "x" * 31 + """","fields":[]}"""

  /** Every binary header parser: its name, well-formed seed streams and
    * the parse it runs over a binary column. */
  private val parsers: Seq[(String, Seq[Seed0], (DataFrame, String) => DataFrame)] = Seq(
    ("png", Seq(head(png + "0000000d49484452" + be(640, 4) + be(480, 4) + "0806000000", 8)),
      (df, c) => { val (s, w, h) = Multimodal.pngHeader(col(c)); df.select(s, w, h) }),
    ("jpeg", Seq(head("ffd8" + "ffe000104a46494600010100000100010000" + "fffe0007" + "78" * 5 +
        "ffc0001108" + "0014" + "002a" + "03011100021101031101", 2)),
      (df, c) => {
        val (w, h) = Multimodal.jpegDims(col(c), col("sof_off"))
        Multimodal.withJpegSof(df, c).select(col("sof_off"), w, h)
      }),
    ("wav", Seq(head("52494646" + "ac580100" + "57415645" + "666d7420" + "10000000" + "0100" +
        "0200" + "44ac0000" + "10b10200" + "0400" + "1000" + "64617461" + "88580100", 12)),
      (df, c) => Multimodal.withWavChunks(df, c)),
    ("avi", Seq(head("52494646" + le(4 + 8 + 68, 4) + "41564920" + "4c495354" + le(68, 4) +
        "6864726c" + "61766968" + le(56, 4) + avih, 12)),
      (df, c) => Multimodal.withAviHdrl(df, c)),
    ("mp4", Seq(head("00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431" +
        "0000000b" + "66726565" + "aabbcc" + "00000010" + "6d6f6f76" + "00" * 8 +
        "00000001" + "6d646174" + be(1L << 40, 8), 8)),
      (df, c) => Multimodal.withMp4Boxes(df, c)),
    ("ebml", Seq(head("1a45dfa3" + "9b" + "428681" + "01" + "42f781" + "01" + "42f281" + "04" +
        "42f381" + "08" + "428284" + ascii("webm") + "428781" + "02" + "428581" + "01", 4)),
      (df, c) => Multimodal.withEbmlHeader(df, c)),
    ("elf", Seq(head("7f454c46" + "02" + "01" + "01" + "00" * 9 + le(2, 2) + le(62, 2) +
        "01000000", 4), head("7f454c46" + "01" + "02" + "01" + "00" * 9 + be(3, 2) +
        be(40, 2) + "00000001", 4)),
      (df, c) => Multimodal.withElfIdent(df, c)),
    ("pe", Seq(head("4d5a" + "00" * 58 + le(64, 4) + "50450000" + le(0x8664, 2) + le(3, 2) +
        le(12345678, 4) + "00" * 10 + "0000" + "0b02", 2)),
      (df, c) => Multimodal.withPeHeader(df, c)),
    ("bmp", Seq(head("424d" + le(54, 4) + "00000000" + le(54, 4) + le(40, 4) + le(64, 4) +
        le(-48L & 0xffffffffL, 4) + "0100" + le(24, 2) + "00" * 24, 2)),
      (df, c) => Multimodal.withBmpHeader(df, c)),
    ("webp", Seq(
        head("52494646" + le(22, 4) + "57454250" + "56503820" + le(10, 4) + "000000" +
          "9d012a" + le(640, 2) + le(480, 2), 12),
        head("52494646" + le(18, 4) + "57454250" + "5650384c" + le(5, 4) + "2f" +
          le(639 + 479 * 16384L, 4) + "00", 12),
        head("52494646" + le(22, 4) + "57454250" + "56503858" + le(10, 4) + "00" + "000000" +
          le(639, 3) + le(479, 3), 12)),
      (df, c) => Multimodal.withWebpDims(df, c)),
    ("gif", Seq(head("474946383961" + le(64, 2) + le(48, 2) + "93" + "0000", 6)),
      (df, c) => Multimodal.withGifHeader(df, c)),
    ("tiff", Seq(
        head("49492a00" + le(8, 4) + le(3, 2) + le(254, 2) + le(4, 2) + le(1, 4) + le(0, 4) +
          le(256, 2) + le(3, 2) + le(1, 4) + le(64, 2) + "0000" +
          le(257, 2) + le(4, 2) + le(1, 4) + le(48, 4) + le(0, 4), 4),
        head("4d4d002a" + be(8, 4) + be(3, 2) + be(254, 2) + be(4, 2) + be(1, 4) + be(0, 4) +
          be(256, 2) + be(3, 2) + be(1, 4) + be(64, 2) + "0000" +
          be(257, 2) + be(4, 2) + be(1, 4) + be(48, 4) + be(0, 4), 4)),
      (df, c) => Multimodal.withTiffDims(df, c)),
    ("png_chunks", Seq(head(png + "0000000d49484452" + be(640, 4) + be(480, 4) +
        "0806000000" + "00000000" + "00000009" + "70485973" + be(2834, 4) + be(2834, 4) +
        "01" + "00000000" + be(6, 4) + "74455874" + "61" * 6 + "00000000" +
        "00000000" + "49444154" + "00000000", 8)),
      (df, c) => Multimodal.withPngChunks(df, c)),
    ("exif", Seq(head("ffd8" + "ffe1" + "002e" + "457869660000" + exifTiffLe, 2)),
      (df, c) => Multimodal.withExifOrientation(df, c)),
    ("exif_gps", Seq(head("ffd8" + "ffe1" + "00c6" + "457869660000" + gpsTiffLe, 2)),
      (df, c) => Multimodal.withExifGps(df, c)),
    ("flac", Seq(head("664c6143" + "80" + be(34, 3) + be(4096, 2) + be(4096, 2) + be(14, 3) +
        be(512, 3) + be((44100L << 12) + (1 << 9) + (15 << 4), 4) + be(65536, 4) + "00" * 16, 4)),
      (df, c) => Multimodal.withFlacInfo(df, c)),
    ("mp3", Seq(head("494433" + "0400" + "00" + "0000000a" + "aa" * 10 + "fffb" + "90" + "00", 3),
        head("fffb" + "92" + "00", 2)),
      (df, c) => Multimodal.withMp3Header(df, c)),
    ("id3", Seq(head("494433" + "0400" + "00" + "00000019" + id3Frame + "00" * 9, 3)),
      (df, c) => Multimodal.withId3Tags(df, c)),
    ("ico", Seq(head("0000" + "0100" + le(1, 2) + "10" + "20" + "00" + "00" + le(1, 2) +
        le(32, 2) + "00000000" + "16000000", 4)),
      (df, c) => Multimodal.withIcoDims(df, c)),
    ("ogg", Seq(head("4f676753" + "00" + "02" + le(0, 8) + le(7, 4) + le(0, 4) + "00000000" +
        "02" + "1e" + "05" + "01" + ascii("vorbis") + "00000000" + "02" + le(44100, 4) +
        "00" * 12 + "b8" + "01" + "00" * 5, 4)),
      (df, c) => Multimodal.withOggMeta(df, c)),
    ("zip", Seq(head("504b0304" + "1400" + "0000" + le(8, 2) + "0000" + "0000" +
        le(0x12345678, 4) + le(16, 4) + le(32, 4) + le(9, 2) + "0000" + ascii("data.json"), 4)),
      (df, c) => Multimodal.withZipEntry(df, c)),
    ("tar", Seq(Seed0(tarHeader, 257, 263)),
      (df, c) => Multimodal.withTarHeader(df, c)),
    ("gzip", Seq(head("1f8b08" + "08" + le(1600000000, 4) + "02" + "03" + ascii("doc_1.json") +
        "00" + "4b4c4c", 3)),
      (df, c) => Multimodal.withGzipHeader(df, c)),
    ("midi", Seq(head("4d546864" + be(6, 4) + be(1, 2) + be(2, 2) + be(96, 2) + "4d54726b" +
        be(16, 4), 4)),
      (df, c) => Multimodal.withMidiHeader(df, c)),
    ("zstd", Seq(head("28b52ffd" + "44" + "58" + le(4660, 2) + "00", 4),
        head("28b52ffd" + "20" + "2a" + "00", 4),
        head("28b52ffd" + "02" + "48" + le(4660, 2) + "00", 4),
        head("28b52ffd" + "c3" + "58" + le(99, 4) + le(1L << 40, 8) + "00", 4)),
      (df, c) => Multimodal.withZstdHeader(df, c)),
    ("lz4", Seq(head("04224d18" + "68" + "40" + le(10000, 8) + "a5", 4),
        head("04224d18" + "49" + "50" + le(500, 8) + le(12345, 4) + "a5", 4)),
      (df, c) => Multimodal.withLz4Header(df, c)),
    ("sqlite", Seq(head("53514c69746520666f726d6174203300" + be(4096, 2) + "0202" +
        "00" * 4 + be(7, 4) + be(100, 4) + "00" * 24 + be(1, 4), 16)),
      (df, c) => Multimodal.withSqliteHeader(df, c)),
    ("pcap", Seq(head("d4c3b2a1" + le(2, 2) + le(4, 2) + le(0, 4) + le(0, 4) + le(65535, 4) +
        le(1, 4), 4), head("a1b2c3d4" + be(2, 2) + be(4, 2) + be(0, 4) + be(0, 4) +
        be(65535, 4) + be(101, 4), 4)),
      (df, c) => Multimodal.withPcapHeader(df, c)),
    ("parquet", Seq(head("50415231" + "00" * 5 + le(5, 4) + "50415231", 4)),
      (df, c) => Multimodal.withParquetTrailer(df, c)),
    ("tfrecord", Seq(head(le(3, 8) + "aabbccdd" + "000000" + "eeff0011" +
        le(2, 8) + "aabbccdd" + "0000" + "eeff0011", 0)),
      (df, c) => Multimodal.withTfRecords(df, c)),
    ("safetensors", Seq(head(le(stJson.length, 8) + ascii(stJson) + "00" * 24, 0)),
      (df, c) => Multimodal.withSafetensors(df, c)),
    ("npy", Seq(head("934e554d5059" + "0100" + le(npyDict.length, 2) + ascii(npyDict) +
        "00" * 24, 6)),
      (df, c) => Multimodal.withNpyHeader(df, c)),
    ("gguf", Seq(head("47475546" + le(3, 4) + le(2, 8) + le(5, 8) + le(20, 8) +
        ascii("general.architecture") + le(8, 4) + le(5, 8) + ascii("llama"), 4)),
      (df, c) => Multimodal.withGgufHeader(df, c)),
    ("avro", Seq(head("4f626a01" + "04" + "14" + ascii("avro.codec") + "08" + ascii("null") +
        "16" + ascii("avro.schema") + "a001" + ascii(avroSchema), 4)),
      (df, c) => Multimodal.withAvroHeader(df, c)),
    ("arrow", Seq(head("4152524f57310000" + "00" * 5 + le(5, 4) + "4152524f5731", 8)),
      (df, c) => Multimodal.withArrowTrailer(df, c)),
    ("hdf5", Seq(
        head("894844460d0a1a0a" + "02" + "08" + "08" + "00" + "00" * 16 + le(60, 8) +
          "00" * 12 + "00" * 12, 8),
        head("894844460d0a1a0a" + "00" + "00000000" + "08" + "08" + "00" * 8, 8)),
      (df, c) => Multimodal.withHdf5Superblock(df, c)))

  /** A byte biased toward the boundary values that break casts and
    * checked arithmetic (top bit set, all ones, zero). */
  private val byteGen: Gen[Byte] = Gen.frequency(
    4 -> Gen.choose(0, 255), 1 -> Gen.oneOf(0x00, 0x7f, 0x80, 0xff)).map(_.toByte)

  /** Corrupt 1-8 random bytes outside the seed's magic, then maybe cut
    * the stream short or append junk. */
  private def corrupt(seed: Seed0): Gen[Array[Byte]] = {
    val base = hx(seed.hex)
    val free = base.indices.filterNot(i => i >= seed.keepFrom && i < seed.keepUntil)
    for {
      n <- Gen.choose(1, 8)
      hits <- Gen.listOfN(n, Gen.zip(Gen.oneOf(free), byteGen))
      cut <- Gen.frequency(3 -> Gen.const(base.length),
        1 -> Gen.choose(seed.keepUntil, base.length))
      tail <- Gen.frequency(4 -> Gen.const(Nil), 1 -> Gen.listOfN(8, byteGen))
    } yield {
      val b = base.clone()
      hits.foreach { case (i, v) => b(i) = v }
      b.take(cut) ++ tail
    }
  }

  private def sample[A](g: Gen[A], seed: Long): Seq[A] =
    Gen.listOfN(Rows, g).pureApply(Gen.Parameters.default, Seed(seed))

  test("corrupting bytes after the magic never makes a header parser throw") {
    assert(parsers.size == 36, "one entry per binary mm_* header query")
    val failures = parsers.zipWithIndex.flatMap { case ((name, seeds, parse), k) =>
      val streams = sample(Gen.oneOf(seeds).flatMap(corrupt), 1000L + k)
      // one DataFrame per parser; the noop sink computes every column
      def run(rows: Seq[Array[Byte]]): Unit =
        parse(rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "_bin"), "_bin")
          .write.mode("overwrite").format("noop").save()
      scala.util.Try(run(streams)).failed.toOption.map { e =>
        val culprit = streams.find(b => scala.util.Try(run(Seq(b))).isFailure)
        s"$name threw on the corrupted stream " +
          s"${culprit.map(_.map("%02x".format(_)).mkString).getOrElse("?")}: " +
          e.getMessage.linesIterator.next()
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private val u16 = Gen.choose(0L, 0xffffL)
  private val u32 = Gen.choose(0L, 0xffffffffL)

  /** Generated rows as a frame of long columns `c0..`, plus the hex
    * stream `write` builds from them parsed by `parse`; returns each
    * row's inputs next to its parsed values. */
  private def roundTrip(seed: Long, fields: Gen[Seq[Long]], write: Seq[org.apache.spark.sql.Column] =>
      org.apache.spark.sql.Column, parse: (DataFrame, String) => DataFrame,
      outs: Seq[String]): Seq[(Seq[Long], Seq[Any])] = {
    val rows = sample(fields, seed)
    val n = rows.head.size
    val df = rows.map(r => Tuple1(r.toArray)).toDF("v")
      .select((0 until n).map(i => col("v")(i).as(s"c$i")): _*)
    val cols = (0 until n).map(i => col(s"c$i"))
    parse(df.withColumn("_bin", unhex(write(cols))), "_bin")
      .select(cols ++ outs.map(col): _*).collect().toSeq.map { r =>
        ((0 until n).map(r.getLong), (n until n + outs.size).map(r.get))
      }
  }

  private def checkAll(name: String, got: Seq[(Seq[Long], Seq[Any])])(
      want: Seq[Long] => Seq[Any]): Unit = {
    assert(got.size == Rows)
    got.foreach { case (in, out) =>
      assert(out == want(in), s"$name round trip of fields $in")
    }
  }

  test("synthesize-then-parse round-trips random in-range fields (GIF, ICO, BMP, MIDI)") {
    // GIF: u16le dims, packed byte (GCT flag, GCT size exponent)
    checkAll("gif", roundTrip(1, Gen.sequence[Seq[Long], Long](Seq(u16, u16, Gen.choose(0L, 255L))),
      c => concat(lit("474946383961"), Bytes.leHex(c(0), 2), Bytes.leHex(c(1), 2),
        Bytes.beHex(c(2), 1), lit("0000")),
      Multimodal.withGifHeader, Seq("valid_gif", "width", "height", "has_gct", "gct_bits"))) {
      case Seq(w, h, p) => Seq(1, w.toInt, h.toInt, (p >> 7).toInt, (p & 7).toInt + 1)
    }
    // ICO: u16le count (≥ 1 validates), u8 dims with 0 meaning 256, u16le bpp
    checkAll("ico", roundTrip(2, Gen.sequence[Seq[Long], Long](Seq(Gen.choose(1L, 0xffffL),
        Gen.choose(0L, 255L), Gen.choose(0L, 255L), u16)),
      c => concat(lit("00000100"), Bytes.leHex(c(0), 2), Bytes.beHex(c(1), 1),
        Bytes.beHex(c(2), 1), lit("0000"), Bytes.leHex(lit(1), 2), Bytes.leHex(c(3), 2),
        lit("0000000016000000")),
      Multimodal.withIcoDims, Seq("valid_ico", "n_images", "width", "height", "bpp"))) {
      case Seq(n, w, h, bpp) =>
        Seq(1, n.toInt, if (w == 0) 256 else w.toInt, if (h == 0) 256 else h.toInt, bpp.toInt)
    }
    // BMP: signed i32le dims (negative height = top-down), u16le bpp
    val i32 = Gen.choose(-2147483648L, 2147483647L)
    checkAll("bmp", roundTrip(3, Gen.sequence[Seq[Long], Long](Seq(i32, i32, u16)),
      c => concat(lit("424d"), Bytes.leHex(lit(54), 4), lit("00000000"),
        Bytes.leHex(lit(54), 4), Bytes.leHex(lit(40), 4),
        Bytes.leHex(c(0), 4), Bytes.leHex(c(1), 4), lit("0100"), Bytes.leHex(c(2), 2),
        lit("00" * 24)),
      Multimodal.withBmpHeader, Seq("valid_bmp", "width", "height", "top_down", "bpp"))) {
      case Seq(w, h, bpp) => Seq(1, w, math.abs(h), if (h < 0) 1 else 0, bpp.toInt)
    }
    // MIDI: u16be format/ntrks, division with the SMPTE bit 15, u32be track length
    checkAll("midi", roundTrip(4, Gen.sequence[Seq[Long], Long](Seq(u16, u16, u16, u32)),
      c => concat(lit("4d546864"), lit("00000006"), Bytes.beHex(c(0), 2), Bytes.beHex(c(1), 2),
        Bytes.beHex(c(2), 2), lit("4d54726b"), Bytes.beHex(c(3), 4)),
      Multimodal.withMidiHeader,
      Seq("valid_midi", "format", "ntrks", "smpte", "division", "first_track_len"))) {
      case Seq(f, n, d, t) => Seq(1, f.toInt, n.toInt, (d >> 15).toInt, (d & 0x7fff).toInt, t)
    }
  }

  test("synthesize-then-parse round-trips random in-range fields (SQLite, PCAP, HDF5)") {
    // SQLite: u16be page size (1 means 65536), u32be page count and encoding
    checkAll("sqlite", roundTrip(5, Gen.sequence[Seq[Long], Long](Seq(u16, u32,
        Gen.choose(0L, 4L), Gen.choose(1L, 2L))),
      c => concat(lit("53514c69746520666f726d6174203300"), Bytes.beHex(c(0), 2),
        Bytes.beHex(c(3), 1), Bytes.beHex(c(3), 1), lit("00" * 4), Bytes.beHex(lit(7), 4),
        Bytes.beHex(c(1), 4), lit("00" * 24), Bytes.beHex(c(2), 4)),
      Multimodal.withSqliteHeader,
      Seq("valid_sqlite", "page_size", "write_version", "n_pages", "encoding", "db_bytes"))) {
      case Seq(ps, n, enc, ver) =>
        val size = if (ps == 1) 65536 else ps.toInt
        Seq(1, size, if (ver == 2) "wal" else "legacy", n,
          Seq("unknown", "utf8", "utf16le", "utf16be", "unknown")(enc.toInt), n * size)
    }
    // PCAP: the magic's byte order decides every field's, per row
    checkAll("pcap", roundTrip(6, Gen.sequence[Seq[Long], Long](Seq(Gen.choose(0L, 1L),
        u16, u16, u32, Gen.choose(0L, 0x7fffffffL))),
      c => {
        val isLe = c(0) === 1
        concat(when(isLe, lit("d4c3b2a1")).otherwise(lit("a1b2c3d4")),
          Bytes.hexField(c(1), 2, isLe), Bytes.hexField(c(2), 2, isLe),
          Bytes.hexField(lit(0), 4, isLe), Bytes.hexField(lit(0), 4, isLe),
          Bytes.hexField(c(3), 4, isLe), Bytes.hexField(c(4), 4, isLe))
      },
      Multimodal.withPcapHeader,
      Seq("valid_pcap", "byte_order", "version", "snaplen", "linktype"))) {
      case Seq(isLe, major, minor, snap, link) =>
        Seq(1, if (isLe == 1) "le" else "be", s"$major.$minor", snap, link.toInt)
    }
    // HDF5 v2: u8 offset/length sizes, u64le end-of-file address (< 2^63)
    checkAll("hdf5", roundTrip(7, Gen.sequence[Seq[Long], Long](Seq(Gen.choose(0L, 255L),
        Gen.choose(0L, 255L), Gen.choose(0L, Long.MaxValue))),
      c => concat(lit("894844460d0a1a0a"), lit("02"), Bytes.beHex(c(0), 1),
        Bytes.beHex(c(1), 1), lit("00"), lit("00" * 16), Bytes.leHex(c(2), 8), lit("00" * 12)),
      Multimodal.withHdf5Superblock,
      Seq("valid_hdf5", "sb_version", "offset_size", "length_size", "eof_addr", "truncated"))) {
      case Seq(osz, lsz, eof) =>
        Seq(1, 2, osz.toInt, lsz.toInt, eof, if (eof > 48) 1 else 0)
    }
  }
}
