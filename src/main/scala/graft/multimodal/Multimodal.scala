package graft.multimodal

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column handling (SURVEY §2 H1-H3): opaque binary payloads
  * with typed metadata, a deterministic stub decoder, and binary frame
  * sampling.
  *
  * The container has no image/audio codecs, so `stubDecodeFeatures` is a
  * clearly-marked deterministic fake (md5-derived floats) — but ALL the
  * Spark plumbing is real: the asset schema, the mapPartitions batch
  * shape an inference UDF would use, and the chunking arithmetic. On a
  * real cluster you swap `fakeEmbedding` for the codec call and nothing
  * else changes.
  */
object Multimodal {

  /** One decoded fake feature row. */
  final case class AssetFeatures(doc_id: Long, dim: Int, features: Array[Float])

  /** H1: wrap a text corpus as multimodal assets: binary payload +
    * typed metadata struct — the schema contract for any downstream
    * decode/extract stage. Payload bytes are the UTF-8 text (stand-in
    * for image/audio bytes); per-asset work only, no shuffle. */
  def assets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        col("lang"),
        col("source"),
        col("n_chars")).as("meta"))

  /** Deterministic fake "decoder": 8 floats derived from the md5 of the
    * payload (each hex quad scaled to [0,1)). STUB — replace with a
    * real codec on a cluster that has one. */
  private[multimodal] def fakeEmbedding(payload: Array[Byte]): Array[Float] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(payload).map("%02x".format(_)).mkString
    (0 until 8).map { i =>
      Integer.parseInt(hex.substring(i * 4, i * 4 + 4), 16) / 65536.0f
    }.toArray
  }

  /** H2: partition-wise feature extraction with the batch shape a real
    * inference step needs (iterator-in/iterator-out per partition, so a
    * model handle could be initialized once per partition and reused). */
  def stubDecodeFeatures(assets: DataFrame): Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would go here (model/codec handle)
        it.map { case (id, payload) =>
          val f = fakeEmbedding(payload)
          AssetFeatures(id, f.length, f)
        }
      }
  }

  /** H3: chunk each payload into fixed-size frames (windowed binary
    * slices) — the video-frame / audio-window sampling shape. Pure
    * expressions: sequence + transform + substring on binary, then
    * posexplode; no UDF, no shuffle. */
  def frameSample(assets: DataFrame, frameBytes: Int): DataFrame = {
    val len = length(col("payload"))
    val nFrames = ceil(len.cast("double") / frameBytes).cast("int")
    assets.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), nFrames - 1),
        i => substring(col("payload"), (i * frameBytes + 1).cast("int"), lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
  }

  /** H1 driver query: flattened asset features (byte length + md5 +
    * metadata) — DuckDB-oracle-checkable without binary columns in the
    * output. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir).select(
      col("doc_id"),
      length(col("payload")).as("byte_len"),
      md5(col("payload")).as("payload_md5"),
      col("meta.mime").as("mime"),
      col("meta.lang").as("lang"),
      col("meta.source").as("source"),
      col("meta.n_chars").as("n_chars"))

  val FrameBytes = 64

  /** H3 driver query: per-frame index, md5 and length (payloads are
    * ASCII text stand-ins, so byte slices == char slices and the
    * DuckDB oracle can mirror the chunking exactly). */
  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    frameSample(assets(spark, dir), FrameBytes).select(
      col("doc_id"),
      col("frame_idx"),
      md5(col("frame")).as("frame_md5"),
      length(col("frame")).as("frame_len"))

  /** H2 driver query: the REAL mapPartitions decode path, flattened to
    * (doc_id, dim_idx, value) so the md5-derived stub features are
    * oracle-checkable value by value. */
  def mmDecode(spark: SparkSession, dir: String): DataFrame = {
    val feats = stubDecodeFeatures(assets(spark, dir))
    feats.toDF().select(col("doc_id"), posexplode(col("features")))
      .select(col("doc_id"), col("pos").as("dim_idx"),
        round(col("col").cast("double"), 4).as("value"))
  }

  /** PNG 8-byte signature, lowercase hex. */
  val PngSigHex = "89504e470d0a1a0a"

  /** Parse (valid_sig, width, height) from a PNG byte stream: the
    * signature is bytes 1-8, IHDR width/height are big-endian u32 at
    * bytes 17-20 / 21-24. No codec — header-only binary slicing, the
    * metadata-extraction pass an image pipeline runs before any decode. */
  def pngHeader(bin: org.apache.spark.sql.Column): (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    (Bytes.magic(bin, lit(1), PngSigHex).cast("int"),
      Bytes.be(bin, lit(17), 4), Bytes.be(bin, lit(21), 4))

  /** H4 driver query: synthesize a REAL PNG signature+IHDR prefix per
    * asset (dims derived from metadata — the container has no images,
    * like the H2 stub), then parse the dims back from the BYTES with
    * pngHeader. The oracle reproduces the same hex string and slices
    * it textually, so the binary round-trip is value-checked. */
  def mmPngDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = (col("n_chars") % 1024 + 1).cast("int")
    val h = (col("doc_id") % 768 + 1).cast("int")
    val ihdrHex = concat(lit(PngSigHex),
      lit("0000000d"), lit("49484452"), // IHDR chunk length 13 + type
      Bytes.beHex(w, 4), Bytes.beHex(h, 4),
      lit("0806000000")) // bit depth 8, RGBA, deflate/adam7 defaults
    val bin = unhex(ihdrHex)
    val (sig, width, height) = pngHeader(bin)
    d.select(col("doc_id"), sig.as("valid_sig"),
      width.as("width"), height.as("height"))
  }

  /** JPEG SOF markers that carry frame dimensions (baseline,
    * extended-sequential, progressive, lossless). */
  val SofMarkers = Seq("ffc0", "ffc1", "ffc2", "ffc3")

  /** Max marker segments the scan walks before giving up. */
  val JpegMaxSegments = 8

  /** Find the SOF segment of a JPEG byte stream: walk the marker chain
    * from byte 3 (after SOI), hopping each segment by its big-endian
    * length field, until a SOF-family marker. JPEG headers are
    * VARIABLE-length (APPn/COM segments of arbitrary size), so unlike
    * PNG there is no fixed dimension offset — this is a genuine scan,
    * expressed as a BOUNDED UNROLL of pure codegen'd expressions
    * (substr at column offsets + conv), no UDF: per-row work only,
    * whole-stage codegen, zero shuffle at any scale.
    *
    * The unroll is across PROJECTIONS (one withColumns step per hop),
    * not one composed Column: each hop reads the previous offset
    * several times, so a single nested expression would grow ~3^hops
    * nodes and stall Catalyst (measured: minutes at 8 hops).
    * Aliasing the offset per step keeps the plan linear —
    * CollapseProject deliberately declines to re-inline an alias that
    * is referenced more than once and isn't cheap, and whole-stage
    * codegen evaluates each projection's outputs once into locals.
    *
    * Adds `valid_soi` and `sof_off` (0 = no SOF within maxSegments)
    * to `df`; `binCol` names the JPEG byte-stream column. */
  def withJpegSof(df: DataFrame, binCol: String,
      maxSegments: Int = JpegMaxSegments): DataFrame = {
    val bin = col(binCol)
    var out = df
      .withColumn("valid_soi", Bytes.magic(bin, lit(1), "ffd8").cast("int"))
      .withColumn("sof_off", lit(0))
      .withColumn("_cur", lit(3))
    for (_ <- 1 to maxSegments) {
      val isSof = Bytes.hexAt(bin, col("_cur"), 2).isin(SofMarkers: _*)
      out = out
        .withColumn("sof_off",
          when(col("sof_off") > 0, col("sof_off"))
            .when(isSof, col("_cur")).otherwise(lit(0)))
        // next marker sits 2 (marker bytes) + declared length past this
        .withColumn("_cur",
          when(col("sof_off") > 0, col("_cur"))
            .otherwise(col("_cur") + lit(2) + Bytes.be(bin, col("_cur") + lit(2), 2)))
    }
    out.drop("_cur")
  }

  /** Dimensions from a located SOF segment: precision u8 at +4,
    * height u16 at +5, width u16 at +7 (1-based, marker at sof_off). */
  def jpegDims(bin: org.apache.spark.sql.Column, sofOff: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    (when(sofOff > 0, Bytes.be(bin, sofOff + lit(7), 2)),
      when(sofOff > 0, Bytes.be(bin, sofOff + lit(5), 2)))

  /** H5 driver query: synthesize a structurally REAL JPEG header per
    * asset — SOI, fixed APP0/JFIF, an OPTIONAL COM segment (present for
    * doc_id % 3 != 0, payload doc_id % 17 + 1 bytes), an APP1 segment
    * of VARIABLE length (n_chars % 13 + 1 bytes), then SOF0/SOF2
    * (alternating by doc_id parity) with dims from metadata — and parse
    * marker, offset, and dims back from the BYTES with the bounded
    * scan. The oracle derives every output independently from the same
    * generating formulas (offset by segment arithmetic), so a scan that
    * mis-hops any variable-length segment hash-mismatches. */
  def mmJpegDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = (col("n_chars") % 512 + 16).cast("int")
    val h = (col("doc_id") % 384 + 16).cast("int")
    val comLen = (col("doc_id") % 17 + 1).cast("int")  // payload bytes
    val app1Len = (col("n_chars") % 13 + 1).cast("int")
    val sofMarker = when(col("doc_id") % 2 === 0, "ffc2").otherwise("ffc0")
    val hx = concat(
      lit("ffd8"),
      lit("ffe0" + "0010" + "4a46494600010100000100010000"), // APP0/JFIF, len 16
      when(col("doc_id") % 3 =!= 0,
        concat(lit("fffe"), Bytes.beHex(comLen + 2, 2),
          repeat(lit("78"), comLen))).otherwise(lit("")),
      lit("ffe1"), Bytes.beHex(app1Len + 2, 2),
      repeat(lit("45"), app1Len),
      sofMarker, lit("0011" + "08"),
      Bytes.beHex(h, 2), Bytes.beHex(w, 2),
      lit("03" + "011100021101031101")) // 3 components, len 17 total
    val withBin = d.select(col("doc_id"), unhex(hx).as("_bin"))
    val scanned = withJpegSof(withBin, "_bin")
    val (width, height) = jpegDims(col("_bin"), col("sof_off"))
    scanned.select(col("doc_id"), col("valid_soi"),
      Bytes.hexAt(col("_bin"), col("sof_off"), 2).as("sof_marker"),
      col("sof_off"), width.as("width"), height.as("height"))
  }

  /** Max RIFF chunks the WAV walk visits before giving up. */
  val WavMaxChunks = 4

  /** Sample rates the synthetic corpus cycles through. */
  val WavRates = Seq(8000, 16000, 22050, 44100, 48000)

  /** Walk the RIFF chunk chain of a WAV byte stream (chunks start at
    * byte 13: "RIFF" + u32le size + "WAVE"), hopping 8 + size bytes
    * per chunk (sizes are padded to even per the RIFF spec), capturing
    * the fmt payload offset and the data chunk's declared size. Like
    * the JPEG SOF scan this is a BOUNDED UNROLL of pure codegen'd
    * expressions across projections — per-row work only, no UDF, no
    * shuffle — because real WAV files carry variable-length LIST/INFO
    * chunks before fmt, so there is no fixed field offset. */
  def withWavChunks(df: DataFrame, binCol: String,
      maxChunks: Int = WavMaxChunks): DataFrame = {
    val bin = col(binCol)
    var out = df
      .withColumn("valid_riff",
        (Bytes.magic(bin, lit(1), "52494646") && // "RIFF"
          Bytes.magic(bin, lit(9), "57415645")).cast("int")) // "WAVE"
      .withColumn("fmt_off", lit(0))
      .withColumn("data_size", lit(0L))
      .withColumn("_cur", lit(13))
    for (_ <- 1 to maxChunks) {
      val ckId = Bytes.hexAt(bin, col("_cur"), 4)
      val ckSize = Bytes.le(bin, col("_cur") + lit(4), 4)
      out = out
        .withColumn("fmt_off",
          when(col("fmt_off") > 0, col("fmt_off"))
            .when(ckId === "666d7420", col("_cur") + lit(8)) // "fmt "
            .otherwise(lit(0)))
        .withColumn("data_size",
          when(col("data_size") > 0, col("data_size"))
            .when(ckId === "64617461", ckSize) // "data"
            .otherwise(lit(0L)))
        // chunk payloads are padded to even length (RIFF word alignment);
        // cast back to int — ckSize is long and would promote the
        // offset (and fmt_off derived from it) to long after one hop.
        // A corrupt size that would overflow the ANSI int cast nulls
        // the cursor instead (walk freezes, query survives).
        .withColumn("_cur",
          when(col("_cur") + lit(8) + ckSize + (ckSize % 2) <= Int.MaxValue,
            (col("_cur") + lit(8) + ckSize + (ckSize % 2)).cast("int")))
    }
    out.drop("_cur")
  }

  /** H6 driver query: synthesize a structurally REAL WAV header per
    * asset — RIFF/WAVE, an OPTIONAL variable-length LIST chunk (present
    * for doc_id % 3 != 0, payload (doc_id % 10) * 2 + 4 bytes), the
    * 16-byte PCM fmt chunk (little-endian fields from metadata), and
    * the data chunk header — then parse format, rate, and duration back
    * from the BYTES with the bounded chunk walk. The oracle re-derives
    * every output (including fmt_off, by chunk arithmetic) from the
    * generating formulas, so a walk that mis-hops the LIST chunk or
    * misreads any little-endian field hash-mismatches. */
  def mmWavMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = element_at(
      array(WavRates.map(lit): _*), (col("n_chars") % WavRates.size + 1).cast("int"))
    val nFrames = (col("n_chars") % 1000 + 1).cast("int")
    val blockAlign = channels * 2 // 16-bit PCM
    val dataLen = nFrames * blockAlign
    val listLen = (col("doc_id") % 10).cast("int") * 2 + 4 // even: no pad byte
    val hasList = col("doc_id") % 3 =!= 0
    val riffSize = lit(4 + 24 + 8) + when(hasList, listLen + 8).otherwise(0) + dataLen
    val hx = concat(
      lit("52494646"), Bytes.leHex(riffSize, 4), lit("57415645"), // RIFF size WAVE
      when(hasList, concat(lit("4c495354"), Bytes.leHex(listLen, 4), // "LIST"
        repeat(lit("69"), listLen))).otherwise(lit("")),
      lit("666d7420"), Bytes.leHex(lit(16), 4), // "fmt " + PCM payload size
      Bytes.leHex(lit(1), 2), Bytes.leHex(channels, 2), Bytes.leHex(rate, 4),
      Bytes.leHex(rate * blockAlign, 4), Bytes.leHex(blockAlign, 2),
      Bytes.leHex(lit(16), 2),
      lit("64617461"), Bytes.leHex(dataLen, 4)) // "data" header (payload elided)
    val withBin = d.select(col("doc_id"), unhex(hx).as("_bin"))
    val scanned = withWavChunks(withBin, "_bin")
    val fmtOff = col("fmt_off")
    val bin = col("_bin")
    // guard on a located fmt chunk (the jpegDims convention): a stream
    // whose walk found no fmt within maxChunks yields nulls, not a
    // garbage read at offset 0
    def ifFmt(c: org.apache.spark.sql.Column) = when(fmtOff > 0, c)
    val pChannels = ifFmt(Bytes.le(bin, fmtOff + lit(2), 2))
    val pRate = ifFmt(Bytes.le(bin, fmtOff + lit(4), 4))
    val pBlock = ifFmt(Bytes.le(bin, fmtOff + lit(12), 2))
    val pBits = ifFmt(Bytes.le(bin, fmtOff + lit(14), 2))
    val pFrames = when(pBlock > 0, (col("data_size") / pBlock).cast("long"))
    scanned.select(col("doc_id"), col("valid_riff"), fmtOff.as("fmt_off"),
      pChannels.as("channels"), pRate.as("sample_rate"),
      pBits.as("bits_per_sample"), pBlock.as("block_align"),
      col("data_size"), pFrames.as("n_frames"),
      round((pFrames * 1000).cast("double") / pRate, 4).as("duration_ms"))
  }

  /** Max top-level RIFF chunks the AVI walk visits before giving up. */
  val AviMaxChunks = 3

  /** Walk the top-level RIFF chunks of an AVI byte stream to the
    * hdrl LIST (chunks start at byte 13: "RIFF" + u32le + "AVI ").
    * AVI nests: the main header lives at LIST/hdrl → avih, and real
    * muxers emit JUNK/alignment chunks before it, so like WAV there
    * is no fixed offset — a bounded unroll of codegen'd projections
    * hops 8 + size (+ odd-pad) per chunk until the LIST whose list
    * type is "hdrl". Captures `hdrl_off` (the LIST chunk's own
    * offset; 0 = not found within maxChunks). */
  def withAviHdrl(df: DataFrame, binCol: String,
      maxChunks: Int = AviMaxChunks): DataFrame = {
    val bin = col(binCol)
    var out = df
      .withColumn("valid_avi",
        (Bytes.magic(bin, lit(1), "52494646") && // "RIFF"
          Bytes.magic(bin, lit(9), "41564920")).cast("int")) // "AVI "
      .withColumn("hdrl_off", lit(0))
      .withColumn("_cur", lit(13))
    for (_ <- 1 to maxChunks) {
      val ckId = Bytes.hexAt(bin, col("_cur"), 4)
      val listType = Bytes.hexAt(bin, col("_cur") + lit(8), 4)
      val ckSize = Bytes.le(bin, col("_cur") + lit(4), 4)
      out = out
        .withColumn("hdrl_off",
          when(col("hdrl_off") > 0, col("hdrl_off"))
            .when(ckId === "4c495354" && listType === "6864726c", col("_cur")) // LIST/hdrl
            .otherwise(lit(0)))
        .withColumn("_cur",
          when(col("_cur") + lit(8) + ckSize + (ckSize % 2) <= Int.MaxValue,
            (col("_cur") + lit(8) + ckSize + (ckSize % 2)).cast("int")))
    }
    out.drop("_cur")
  }

  /** H26 driver query: synthesize a structurally REAL AVI prefix per
    * asset — RIFF/"AVI ", an OPTIONAL JUNK alignment chunk (present
    * for doc_id % 3 != 0, payload (doc_id % 12) * 2 + 2 bytes — the
    * chunk real muxers pad with), then LIST/hdrl holding the
    * mandatory 56-byte avih main header (little-endian fields from
    * metadata) — and parse frame timing, counts, streams, and
    * dimensions back from the BYTES with the bounded chunk walk. The
    * oracle re-derives every output (including hdrl_off by chunk
    * arithmetic) from the generating formulas. */
  def mmAviMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val usec = ((col("n_chars") % 4 + 1) * 16667).cast("long")
    val frames = (col("doc_id") % 3000 + 30).cast("long")
    val streams = (col("doc_id") % 2 + 1).cast("int")
    val w = (col("n_chars") % 1280 + 16).cast("int")
    val h = (col("doc_id") % 720 + 16).cast("int")
    val hasJunk = col("doc_id") % 3 =!= 0
    val junkLen = ((col("doc_id") % 12) * 2 + 2).cast("int")
    val avihPayload = concat(
      Seq(usec, lit(0), lit(0), lit(16), frames, lit(0), streams, lit(0), w, h)
        .map(Bytes.leHex(_, 4)) :+ repeat(lit("00"), 16): _*) // 4 reserved dwords
    val listLen = lit(4 + 8 + 56) // "hdrl" + avih header + payload
    val riffSize = lit(4) + when(hasJunk, junkLen + 8).otherwise(0) + listLen + 8
    val hx = concat(
      lit("52494646"), Bytes.leHex(riffSize, 4), lit("41564920"), // RIFF … "AVI "
      when(hasJunk, concat(lit("4a554e4b"), Bytes.leHex(junkLen, 4), // "JUNK"
        repeat(lit("00"), junkLen))).otherwise(lit("")),
      lit("4c495354"), Bytes.leHex(listLen, 4), lit("6864726c"), // LIST … "hdrl"
      lit("61766968"), Bytes.leHex(lit(56), 4), avihPayload) // "avih" + cb
    val withBin = d.select(col("doc_id"), unhex(hx).as("_bin"))
    val scanned = withAviHdrl(withBin, "_bin")
    val bin = col("_bin")
    val off = col("hdrl_off")
    // avih must be the first hdrl entry (spec-mandatory) — guard on it
    val hasAvih = off > 0 &&
      Bytes.magic(bin, off + lit(12), "61766968")
    def ifAvih(c: org.apache.spark.sql.Column) = when(hasAvih, c)
    val pUsec = ifAvih(Bytes.le(bin, off + lit(20), 4))
    val pFrames = ifAvih(Bytes.le(bin, off + lit(36), 4))
    scanned.select(col("doc_id"), col("valid_avi"), off.as("hdrl_off"),
      pUsec.as("usec_per_frame"), pFrames.as("total_frames"),
      ifAvih(Bytes.le(bin, off + lit(44), 4)).cast("int").as("n_streams"),
      ifAvih(Bytes.le(bin, off + lit(52), 4)).cast("int").as("width"),
      ifAvih(Bytes.le(bin, off + lit(56), 4)).cast("int").as("height"),
      round(lit(1000000.0) / pUsec, 4).as("fps"),
      round((pUsec * pFrames).cast("double") / 1000.0, 4).as("duration_ms"))
  }

  /** EBML variable-length integer (Matroska/WebM): the count of
    * leading zero bits in the FIRST byte (+1) is the total width,
    * the marker bit is part of the value and must be subtracted —
    * the one binary encoding in this family where even the LENGTH
    * field needs decoding. Widths 1-4 cover every header-level size
    * real files emit (EBML sizes beyond 2^28 appear only on segment
    * payloads). Returns null width for a reserved/oversized lead
    * byte, so callers' guards freeze instead of misparsing. */
  def ebmlVintLen(bin: org.apache.spark.sql.Column, off: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = Bytes.u8(bin, off)
    when(b >= 128, 1).when(b >= 64, 2).when(b >= 32, 3).when(b >= 16, 4)
  }

  /** The vint's VALUE: the raw big-endian bytes minus the marker bit
    * (2^(7·len)). Callers pass the length from [[ebmlVintLen]]. */
  def ebmlVintVal(bin: org.apache.spark.sql.Column, off: org.apache.spark.sql.Column,
      len: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val marker = when(len === 1, 128L).when(len === 2, 16384L)
      .when(len === 3, 2097152L).when(len === 4, 268435456L) // 2^(7·len)
    Bytes.be(bin, off, len, "long") - marker
  }

  /** Max EBML header elements the walk visits. */
  val EbmlMaxElements = 7

  /** H27: EBML header walk (Matroska/WebM) — the 0x1A45DFA3 magic,
    * the header payload size as a vint, then up to [[EbmlMaxElements]]
    * elements, each a 2-byte element ID plus a GENERAL vint size,
    * capturing the DocType string and the version fields. Adds
    * `valid_ebml`, `hdr_vint_len`, `header_size`, `ebml_version`,
    * `doctype` and `doctype_version` to `df`. */
  def withEbmlHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val validC = Bytes.magic(bin, lit(1), "1a45dfa3").cast("int")
    // guard every parsed field on the magic (the jpegDims convention):
    // a corrupt stream yields nulls, never a structural misread
    val hdrLen = when(validC === 1, ebmlVintLen(bin, lit(5)))
    val hdrSize = when(validC === 1, ebmlVintVal(bin, lit(5), ebmlVintLen(bin, lit(5))))
    var out = df
      .withColumn("valid_ebml", validC)
      .withColumn("hdr_vint_len", hdrLen)
      .withColumn("header_size", hdrSize)
      .withColumn("ebml_version", lit(null).cast("int"))
      .withColumn("doctype", lit(null).cast("string"))
      .withColumn("doctype_version", lit(null).cast("int"))
      .withColumn("_cur", (lit(5) + hdrLen).cast("int"))
    for (_ <- 1 to EbmlMaxElements) {
      // per-hop intermediates as ALIASED columns (the JPEG-walk
      // lesson): the vint length/value feed four outputs each — as one
      // composed expression the projection re-derives them 4× per hop
      // across 7 hops and the generated method blows the 64KB
      // JIT/codegen limit (caught by CodegenFallbackSpec at birth)
      out = out
        .withColumn("_id", Bytes.hexAt(bin, col("_cur"), 2))
        .withColumn("_slen", ebmlVintLen(bin, col("_cur") + lit(2)))
        .withColumn("_sval", ebmlVintVal(bin, col("_cur") + lit(2), col("_slen")))
      // the payload offset and its unsigned value, read once per hop
      val poff = (col("_cur") + lit(2) + col("_slen")).cast("int")
      out = out.withColumns(Map("_poff" -> poff,
        "_uval" -> Bytes.be(bin, poff, col("_sval").cast("int"), "int")))
      out = out
        .withColumn("ebml_version",
          when(col("ebml_version").isNotNull, col("ebml_version"))
            .when(col("_id") === "4286", col("_uval")))
        .withColumn("doctype",
          when(col("doctype").isNotNull, col("doctype"))
            .when(col("_id") === "4282",
              bin.substr(col("_poff"), col("_sval").cast("int")).cast("string")))
        .withColumn("doctype_version",
          when(col("doctype_version").isNotNull, col("doctype_version"))
            .when(col("_id") === "4287", col("_uval")))
        .withColumn("_cur",
          when(col("_slen").isNotNull && col("_poff") + col("_sval") <= Int.MaxValue,
            (col("_poff") + col("_sval")).cast("int")))
    }
    out.drop("_id", "_slen", "_sval", "_poff", "_uval", "_cur")
  }

  /** H27 driver query: synthesize a structurally REAL EBML header per
    * asset — the magic, the header payload size as a vint (every 4th
    * asset uses the WIDER 2-byte encoding of the same value — legal
    * per spec, and the case that breaks fixed-offset parsers), then
    * the standard element run (EBMLVersion, ReadVersion, MaxIDLength,
    * MaxSizeLength, DocType, DocTypeVersion, DocTypeReadVersion) — and
    * walk it back from the BYTES with [[withEbmlHeader]], whose general
    * vint decode is not the 1-byte shortcut the synthesizer happens to
    * emit. */
  def mmEbmlMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val isWebm = col("doc_id") % 2 === 1
    val docType = when(isWebm, "7765626d") // "webm"
      .otherwise(lit("6d6174726f736b61")) // "matroska"
    val dtLen = when(isWebm, 4).otherwise(8)
    val ebmlVer = (col("n_chars") % 2 + 1).cast("int")
    val dtVer = (col("doc_id") % 4 + 1).cast("int")
    val paySize = lit(23) + dtLen
    val wideVint = col("doc_id") % 4 === 0
    val sizeVintHex = when(wideVint,
        concat(lit("40"), Bytes.beHex(paySize, 1)))
      .otherwise(Bytes.beHex(paySize + 128, 1))
    // corrupt leg (every 9th doc): wrong magic — the parser must null
    // every field rather than misread, the mm-family convention
    val magic = when(col("doc_id") % 9 === 0, "deadbeef").otherwise(lit("1a45dfa3"))
    val hx = concat(
      magic, sizeVintHex,
      lit("4286"), lit("81"), Bytes.beHex(ebmlVer, 1), // EBMLVersion
      lit("42f7"), lit("81"), lit("01"), // EBMLReadVersion
      lit("42f2"), lit("81"), lit("04"), // EBMLMaxIDLength
      lit("42f3"), lit("81"), lit("08"), // EBMLMaxSizeLength
      lit("4282"), Bytes.beHex(dtLen + 128, 1), docType, // DocType
      lit("4287"), lit("81"), Bytes.beHex(dtVer, 1), // DocTypeVersion
      lit("4285"), lit("81"), lit("01")) // DocTypeReadVersion
    withEbmlHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select(col("doc_id"), col("valid_ebml"), col("hdr_vint_len"),
        col("header_size"), col("ebml_version"), col("doctype"),
        col("doctype_version"),
        (col("doctype") === "webm").cast("int").as("is_webm"))
  }

  /** ELF machine ids → names for the common ISAs (the triage subset;
    * unknown ids surface numerically). */
  val ElfMachines: Seq[(Int, String)] = Seq(
    3 -> "x86", 40 -> "arm", 62 -> "x86_64", 183 -> "aarch64", 243 -> "riscv")

  /** H28: ELF identification triage — the parser a CODE corpus runs
    * over its binary blobs ("what did the crawler drag in: which ISA,
    * 32/64-bit, relocatable or executable?") before any real toolchain
    * touches them. The e_ident block is endianness-FREE (single
    * bytes); e_type/e_machine honor EI_DATA — the parse dispatches
    * LE/BE per row, the detail naive fixed-endian parsers get wrong on
    * big-endian objects. Adds `valid_elf`, `bits`, `endianness`,
    * `elf_type`, `machine_id` and `machine`. */
  def withElfIdent(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "7f454c46").cast("int")
    def ifV(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val pData = ifV(Bytes.u8(bin, lit(6)))
    val pType = ifV(Bytes.uint(bin, lit(17), 2, pData === 1))
    val pMach = ifV(Bytes.uint(bin, lit(19), 2, pData === 1))
    val machName = ElfMachines.foldLeft(lit(null).cast("string")) {
      case (acc, (id, nm)) => when(pMach === id, nm).otherwise(acc)
    }
    df.select(col("*"), valid.as("valid_elf"),
      ifV(when(Bytes.u8(bin, lit(5)) === 2, 64).otherwise(32)).cast("int").as("bits"),
      ifV(when(pData === 2, "BE").otherwise(lit("LE"))).as("endianness"),
      ifV(when(pType === 1, "REL").when(pType === 2, "EXEC")
        .when(pType === 3, "DYN").when(pType === 4, "CORE")
        .otherwise(lit("OTHER"))).as("elf_type"),
      pMach.as("machine_id"), ifV(machName).as("machine"))
  }

  /** H28 driver query: synthesized streams vary class/endianness/type/
    * machine from metadata; every 11th doc is corrupt (bad magic → all
    * null). */
  def mmElfMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val cls = (col("doc_id") % 2 + 1).cast("int") // 1=32-bit, 2=64-bit
    val dat = (col("n_chars") % 2 + 1).cast("int") // 1=LE, 2=BE
    val etype = (col("doc_id") % 4 + 1).cast("int") // REL/EXEC/DYN/CORE
    val mach = element_at(
      array(ElfMachines.map(m => lit(m._1)): _*),
      (col("doc_id") % ElfMachines.size + 1).cast("int"))
    val magic = when(col("doc_id") % 11 === 0, "deadc0de").otherwise(lit("7f454c46"))
    val hx = concat(
      magic, Bytes.beHex(cls, 1), Bytes.beHex(dat, 1), lit("01"), // EI_VERSION
      repeat(lit("00"), 9), // padding to byte 16
      // e_type, e_machine in the byte order EI_DATA names
      Bytes.hexField(etype, 2, dat === 1), Bytes.hexField(mach, 2, dat === 1),
      when(dat === 1, "01000000").otherwise(lit("00000001"))) // e_version
    withElfIdent(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_elf", "bits", "endianness", "elf_type",
        "machine_id", "machine")
  }

  /** PE machine ids → names (COFF header subset). */
  val PeMachines: Seq[(Long, String)] = Seq(
    0x14cL -> "x86", 0x8664L -> "x86_64", 0xaa64L -> "aarch64")

  /** H29: PE/COFF triage — the Windows sibling of H28: 'MZ' DOS
    * header, the e_lfanew pointer at 0x3C (VARIABLE — real DOS stubs
    * differ in length, so the PE signature has no fixed offset),
    * 'PE\0\0', then the COFF machine/section-count/timestamp and the
    * optional-header magic distinguishing PE32 from PE32+. An e_lfanew
    * pointing past the stream finds no PE header. Adds `valid_mz`,
    * `valid_pe`, `pe_off`, `machine_id`, `machine`, `n_sections`,
    * `timestamp` and `format`. */
  def withPeHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "4d5a").cast("int")
    // staged: the PE signature position feeds every COFF read
    val staged = df.withColumn("_pe", Bytes.pos(bin, Bytes.le(bin, lit(61), 4) + 1))
    val hasPe = valid === 1 && Bytes.magic(bin, col("_pe"), "50450000")
    def ifPe(c: org.apache.spark.sql.Column) = when(hasPe, c)
    val coff = col("_pe") + 4 // 1-based offset of the COFF header
    val pMach = ifPe(Bytes.le(bin, coff, 2))
    val machName = PeMachines.foldLeft(lit(null).cast("string")) {
      case (acc, (id, nm)) => when(pMach === id, nm).otherwise(acc)
    }
    val optMagic = ifPe(Bytes.le(bin, coff + lit(20), 2))
    staged.select(col("*"), valid.as("valid_mz"),
      ifPe(lit(1)).otherwise(lit(0)).cast("int").as("valid_pe"),
      ifPe(col("_pe") - 1).as("pe_off"),
      pMach.cast("int").as("machine_id"), ifPe(machName).as("machine"),
      ifPe(Bytes.le(bin, coff + lit(2), 2)).cast("int").as("n_sections"),
      ifPe(Bytes.le(bin, coff + lit(4), 4)).as("timestamp"),
      ifPe(when(optMagic === 0x20b, "PE32+").when(optMagic === 0x10b, "PE32")
        .otherwise(lit("UNKNOWN"))).as("format"))
      .drop("_pe")
  }

  /** H29 driver query: the synthesizer varies the DOS stub length (so
    * e_lfanew), machine, section count and PE32/PE32+; every 13th doc
    * corrupt. */
  def mmPeMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val stub = ((col("doc_id") % 8) * 4).cast("int") // extra DOS stub bytes
    val lfanew = lit(64) + stub
    val mach = element_at(
      array(PeMachines.map(m => lit(m._1)): _*),
      (col("doc_id") % PeMachines.size + 1).cast("int"))
    val nsect = (col("n_chars") % 12 + 1).cast("long")
    val stamp = (col("doc_id") * 7 % 100000000L).cast("long")
    val pe32plus = col("doc_id") % 2 === 0
    val magic = when(col("doc_id") % 13 === 0, "0000").otherwise(lit("4d5a"))
    val hx = concat(
      magic, repeat(lit("00"), 58), Bytes.leHex(lfanew, 4), // DOS header
      repeat(lit("00"), stub), // variable DOS stub
      lit("50450000"), // "PE\0\0"
      Bytes.leHex(mach, 2), Bytes.leHex(nsect, 2), Bytes.leHex(stamp, 4),
      repeat(lit("00"), 10), // symtab ptr (4), sym count (4), opt size (2)
      Bytes.leHex(lit(0), 2), // characteristics
      when(pe32plus, "0b02").otherwise(lit("0b01"))) // optional magic LE
    withPeHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_mz", "valid_pe", "pe_off", "machine_id",
        "machine", "n_sections", "timestamp", "format")
  }

  /** H8: BITMAPFILEHEADER + BITMAPINFOHEADER parse — fixed offsets
    * (unlike RIFF/ISO-BMFF there is no chunk walk: BMP's info header
    * sits at byte 15 always): 'BM' magic, signed width/height, bits
    * per pixel. Returns |height| plus an explicit top_down flag for
    * the negative-height encoding. Pure codegen'd projections. */
  def withBmpHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val validBmp = Bytes.magic(bin, lit(1), "424d").cast("int") // "BM"
    def ifBmp(c: org.apache.spark.sql.Column) = when(validBmp === 1, c)
    val hRaw = ifBmp(Bytes.i32le(bin, lit(23)))
    df.withColumn("valid_bmp", validBmp)
      .withColumn("width", ifBmp(Bytes.i32le(bin, lit(19))))
      .withColumn("height", abs(hRaw))
      .withColumn("top_down", (hRaw < 0).cast("int"))
      .withColumn("bpp", ifBmp(Bytes.le(bin, lit(29), 2)))
  }

  /** Max top-level boxes the MP4 walk visits before giving up. */
  val Mp4MaxBoxes = 4

  /** Walk the top-level box chain of an ISO-BMFF (MP4) byte stream:
    * each box is a big-endian u32 size + 4cc type, the next box sits
    * size bytes later — same bounded-unroll-of-projections shape as
    * the JPEG/WAV walks (no UDF, per-row work only). Captures the moov
    * box offset and the mdat box's declared size. Past-the-end hops
    * read empty slices → null offsets, so captured values freeze.
    *
    * Both legal special size encodings are handled (r7 advice):
    * size==1 → a 64-bit `largesize` follows the 4cc (the standard mdat
    * encoding for files >4 GiB); size==0 → the box extends to the end
    * of the stream (last box only), resolved against the actual byte
    * length. A size below the box's own header width (8, or 16 with
    * largesize) is corrupt and freezes the walk. */
  def withMp4Boxes(df: DataFrame, binCol: String,
      maxBoxes: Int = Mp4MaxBoxes): DataFrame = {
    val bin = col(binCol)
    var out = df
      .withColumn("valid_ftyp",
        Bytes.magic(bin, lit(5), "66747970").cast("int")) // "ftyp"
      .withColumn("moov_off", lit(0))
      .withColumn("mdat_size", lit(0L))
      .withColumn("_cur", lit(1))
    for (_ <- 1 to maxBoxes) {
      val boxType = Bytes.hexAt(bin, col("_cur") + lit(4), 4)
      val size32 = Bytes.be(bin, col("_cur"), 4)
      val boxSize = when(size32 === 1, Bytes.be(bin, col("_cur") + lit(8), 8))
        .when(size32 === 0, (length(bin) - col("_cur") + 1).cast("long"))
        .otherwise(size32)
      val headerLen = when(size32 === 1, lit(16L)).otherwise(lit(8L))
      out = out
        .withColumn("moov_off",
          when(col("moov_off") > 0, col("moov_off"))
            .when(boxType === "6d6f6f76", col("_cur")) // "moov"
            .otherwise(lit(0)))
        .withColumn("mdat_size",
          when(col("mdat_size") > 0, col("mdat_size"))
            .when(boxType === "6d646174", boxSize) // "mdat"
            .otherwise(lit(0L)))
        // a corrupt size (below the header width, or one that walks the
        // offset past Int.MaxValue) nulls the cursor — the walk freezes
        // instead of overflowing the ANSI int cast and failing the query
        .withColumn("_cur",
          when(boxSize >= headerLen && col("_cur") + boxSize <= Int.MaxValue,
            (col("_cur") + boxSize).cast("int")))
    }
    out.drop("_cur")
  }

  /** H7 driver query: synthesize a structurally REAL MP4 prefix per
    * asset — ftyp (isom brand), an OPTIONAL variable-length free box
    * (present for doc_id % 3 != 0, payload doc_id % 11 + 1 bytes), a
    * FULL moov{mvhd v0} box (timescale/duration big-endian from
    * metadata, the 80 trailing mvhd bytes zeroed), and the mdat box
    * header with its declared size (payload elided, the WAV data
    * convention) — then parse brand validity, moov offset, timescale,
    * duration, and mdat size back from the BYTES with the bounded box
    * walk. Every 5th asset writes mdat with the size==1 + 64-bit
    * largesize encoding (the >4 GiB shape real muxers emit), so the
    * largesize path of the walk is value-checked too. The oracle
    * re-derives everything (incl. moov_off by box arithmetic) from the
    * generating formulas, so a walk that mis-hops the variable free
    * box or misreads largesize hash-mismatches. */
  def mmMp4Meta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val timescale = ((col("n_chars") % 4 + 1) * 600).cast("int")
    val durTicks = (col("doc_id") % 9000 + 600).cast("int")
    val dataLen = (col("n_chars") % 2048 + 8).cast("int")
    val freeLen = (col("doc_id") % 11 + 1).cast("int") // payload bytes
    val hasFree = col("doc_id") % 3 =!= 0
    val useLargesize = col("doc_id") % 5 === 0
    val hx = concat(
      // ftyp: size 20, brand isom, minor 512, compat mp41
      lit("00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431"),
      when(hasFree, concat(Bytes.beHex(freeLen + 8, 4), lit("66726565"), // "free"
        repeat(lit("00"), freeLen))).otherwise(lit("")),
      lit("00000074" + "6d6f6f76"), // moov: size 116
      lit("0000006c" + "6d766864" + "00000000"), // mvhd: size 108, v0
      lit("00000001" + "00000002"), // creation/modification stamps
      Bytes.beHex(timescale, 4), Bytes.beHex(durTicks, 4),
      lit("00" * 80), // rate/volume/reserved/matrix/next_track zeroed
      // mdat header (payload elided): size==1 + largesize (16-byte
      // header) for every 5th asset, plain u32 size otherwise
      when(useLargesize, concat(lit("00000001" + "6d646174"),
        Bytes.beHex((dataLen + 16).cast("long"), 8)))
        .otherwise(concat(Bytes.beHex(dataLen + 8, 4), lit("6d646174"))))
    val withBin = d.select(col("doc_id"), unhex(hx).as("_bin"))
    val scanned = withMp4Boxes(withBin, "_bin")
    val moovOff = col("moov_off")
    val bin = col("_bin")
    // mvhd sits first in moov: type at moov_off+12, payload at +16,
    // timescale at +28, duration at +32 (guarded like jpegDims/wav)
    val hasMvhd = moovOff > 0 &&
      Bytes.magic(bin, moovOff + lit(12), "6d766864")
    def ifMvhd(c: org.apache.spark.sql.Column) = when(hasMvhd, c)
    val pTimescale = ifMvhd(Bytes.be(bin, moovOff + lit(28), 4))
    val pDuration = ifMvhd(Bytes.be(bin, moovOff + lit(32), 4))
    scanned.select(col("doc_id"), col("valid_ftyp"), moovOff.as("moov_off"),
      pTimescale.as("timescale"), pDuration.as("duration_ticks"),
      col("mdat_size"),
      // round 6, not 4: ticks/timescale can land on an EXACT decimal
      // tie at 4 places (759/2400 = .31625 — Spark's BigDecimal
      // half-up vs DuckDB's binary-value rounding disagree there); at
      // 6 places every terminating case has ≤5 decimals and the
      // repeating cases never tie, so both engines agree bit-for-bit
      round(pDuration.cast("double") / pTimescale, 6).as("duration_s"))
  }

  /** H8 driver query: synthesize a full 54-byte BMP header per asset
    * (BITMAPFILEHEADER + BITMAPINFOHEADER, pixel payload elided — the
    * WAV data convention): width/bpp from metadata, every 4th asset
    * top-down (height stored NEGATIVE, two's complement little-endian)
    * — then parse magic, signed dims, orientation, and depth back from
    * the BYTES. The oracle re-derives everything from the generating
    * formulas, so a parser that misreads the sign or byte order
    * hash-mismatches. */
  def mmBmpDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val width = (col("n_chars") % 1024 + 16).cast("long")
    val height = (col("doc_id") % 512 + 16).cast("long")
    val topDown = col("doc_id") % 4 === 0
    val bpp = when(col("doc_id") % 2 === 0, 24).otherwise(32)
    val heightStored = when(topDown, lit(4294967296L) - height).otherwise(height)
    val hx = concat(
      // BM, size, reserved, data offset
      lit("424d"), Bytes.leHex(lit(54), 4), lit("00000000"), Bytes.leHex(lit(54), 4),
      Bytes.leHex(lit(40), 4), // biSize
      Bytes.leHex(width, 4), Bytes.leHex(heightStored, 4),
      lit("0100"), Bytes.leHex(bpp, 2), // planes=1, bitCount
      lit("00" * 24)) // compression/sizeImage/ppm/clr fields zeroed
    withBmpHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_bmp", "width", "height", "top_down", "bpp")
  }

  /** H9: WebP dims — RIFF container ("RIFF" size "WEBP"), then ONE of
    * three first-chunk layouts, each with its own dimension encoding:
    * `VP8 ` (lossy: 3-byte frame tag, 9d012a sync code, 14-bit LE
    * dims), `VP8L` (lossless: 0x2f signature, width-1 and height-1
    * bit-packed 14+14 into a LE u32), `VP8X` (extended: 24-bit LE
    * canvas-1 fields). Variant dispatch on the 4cc + three guarded
    * fixed-offset reads — pure codegen'd projections like the
    * PNG/JPEG/BMP parsers; a missing sync/signature nulls the dims
    * rather than reading garbage. */
  def withWebpDims(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = (Bytes.magic(bin, lit(1), "52494646") && // "RIFF"
      Bytes.magic(bin, lit(9), "57454250")).cast("int")  // "WEBP"
    val cc = Bytes.hexAt(bin, lit(13), 4)
    val isLossy = cc === "56503820"    // "VP8 "
    val isLossless = cc === "5650384c" // "VP8L"
    val isX = cc === "56503858"        // "VP8X"
    val variant = when(isLossy, "VP8 ").when(isLossless, "VP8L")
      .when(isX, "VP8X")
    // lossy: sync code guards the read; dims mask to 14 bits (the top
    // 2 bits are the rescale hint, not size)
    val sync = Bytes.magic(bin, lit(24), "9d012a")
    val lossyW = when(sync, Bytes.le(bin, lit(27), 2).bitwiseAND(lit(16383)).cast("long"))
    val lossyH = when(sync, Bytes.le(bin, lit(29), 2).bitwiseAND(lit(16383)).cast("long"))
    // lossless: 0x2f signature, then (w-1) | (h-1)<<14 LE-packed
    val sig = Bytes.magic(bin, lit(21), "2f")
    val bits = Bytes.le(bin, lit(22), 4)
    val llW = when(sig, bits.bitwiseAND(lit(16383L)) + 1L)
    val llH = when(sig, shiftright(bits, 14).bitwiseAND(lit(16383L)) + 1L)
    val xW = Bytes.le(bin, lit(25), 3) + 1L
    val xH = Bytes.le(bin, lit(28), 3) + 1L
    def ifValid(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    df.withColumn("valid_webp", valid)
      .withColumn("variant", ifValid(variant))
      .withColumn("width", ifValid(
        when(isLossy, lossyW).when(isLossless, llW).when(isX, xW)))
      .withColumn("height", ifValid(
        when(isLossy, lossyH).when(isLossless, llH).when(isX, xH)))
  }

  /** H9 driver query: synthesize a structurally real WebP per asset
    * cycling the three first-chunk variants (doc_id mod 3), dims from
    * metadata; the odd-sized VP8L chunk carries its RIFF pad byte.
    * Parse dims back from the BYTES; the oracle re-derives everything
    * from the generating formulas (the mm_jpeg/wav/bmp convention), so
    * a wrong mask, shift, or byte order hash-mismatches. */
  def mmWebpDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = (col("n_chars") % 1024 + 16).cast("long")
    val h = (col("doc_id") % 512 + 16).cast("long")
    val variant = col("doc_id") % 3
    val vp8Payload = concat(lit("000000"), lit("9d012a"),
      Bytes.leHex(w, 2), Bytes.leHex(h, 2)) // frame tag + sync + 14-bit dims
    val vp8lPayload = concat(lit("2f"),
      Bytes.leHex((w - 1) + (h - 1) * 16384L, 4)) // bit-packed dims-1
    val vp8xPayload = concat(lit("00"), lit("000000"),
      Bytes.leHex(w - 1, 3), Bytes.leHex(h - 1, 3)) // flags + reserved + canvas-1
    val chunk = when(variant === 0,
        concat(lit("56503820"), Bytes.leHex(lit(10), 4), vp8Payload))
      .when(variant === 1, // declared size 5 is odd → one pad byte
        concat(lit("5650384c"), Bytes.leHex(lit(5), 4), vp8lPayload, lit("00")))
      .otherwise(concat(lit("56503858"), Bytes.leHex(lit(10), 4), vp8xPayload))
    val chunkBytes = when(variant === 1, 8 + 5 + 1).otherwise(8 + 10)
    val hx = concat(lit("52494646"), Bytes.leHex(lit(4) + chunkBytes, 4),
      lit("57454250"), chunk)
    withWebpDims(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_webp", "variant", "width", "height")
  }

  /** H10: GIF logical-screen parse — "GIF87a"/"GIF89a" magic with the
    * version surfaced, then the fixed-offset Logical Screen
    * Descriptor: u16le canvas dims at bytes 7/9 and the packed byte
    * at 11 (bit 7 = global color table present, low 3 bits = GCT size
    * exponent − 1). Pure codegen'd guarded projections — the
    * BMP-family shape with a bit-field unpack on top. */
  def withGifHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val v87 = Bytes.magic(bin, lit(1), "474946383761") // GIF87a
    val v89 = Bytes.magic(bin, lit(1), "474946383961") // GIF89a
    val valid = (v87 || v89).cast("int")
    def ifGif(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val packed = Bytes.u8(bin, lit(11))
    df.withColumn("valid_gif", valid)
      .withColumn("version", ifGif(when(v87, "87a").otherwise("89a")))
      .withColumn("width", ifGif(Bytes.le(bin, lit(7), 2)))
      .withColumn("height", ifGif(Bytes.le(bin, lit(9), 2)))
      .withColumn("has_gct", ifGif(shiftright(packed, 7).bitwiseAND(lit(1))))
      .withColumn("gct_bits", ifGif(packed.bitwiseAND(lit(7)) + 1))
  }

  /** H10 driver query: synthesize a 13-byte GIF header per asset
    * (both versions, GCT present on even assets) and parse the
    * screen descriptor back from the BYTES; formula-derived oracle
    * (the mm family convention). */
  def mmGifDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = (col("n_chars") % 1024 + 16).cast("int")
    val h = (col("doc_id") % 512 + 16).cast("int")
    val v89 = col("doc_id") % 2 === 0
    val packed = when(v89, lit(0x93)).otherwise(lit(0x70)) // GCT,16-entry | none
    val hx = concat(
      lit("47494638"), when(v89, lit("39")).otherwise(lit("37")), lit("61"),
      Bytes.leHex(w, 2), Bytes.leHex(h, 2),
      Bytes.beHex(packed, 1), lit("00"), lit("00")) // bg + aspect
    withGifHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_gif", "version", "width", "height",
        "has_gct", "gct_bits")
  }

  /** Max IFD entries the TIFF scan visits. */
  val TiffMaxEntries = 8

  /** H11: TIFF first-IFD dims — the ENDIANNESS-DISPATCH format: "II"
    * (little) vs "MM" (big) headers switch the byte order of every
    * later field, so each read goes through a per-row-conditional
    * u16/u32. The IFD itself is a bounded entry scan (12-byte fixed
    * stride from the header-declared offset — no chained hops, unlike
    * RIFF): tag 256 = ImageWidth, 257 = ImageLength, honoring the
    * left-justified inline-value rule (a SHORT value occupies the
    * FIRST two bytes of the 4-byte field in either byte order). Pure
    * codegen'd guarded projections. */
  def withTiffDims(df: DataFrame, binCol: String,
      maxEntries: Int = TiffMaxEntries): DataFrame = {
    val bin = col(binCol)
    // ALIAS every shared sub-read as its own column (r8 perf lesson):
    // spelling the reads inline duplicated the conditional u16/u32
    // trees into every consumer — the single collapsed projection's
    // generated code blew Janino's 64 KB method limit, Spark fell
    // back to INTERPRETED eval, and this pure projection read 5.8 s
    // at sf0.1. Staged aliases keep each tree ONE copy referenced by
    // attribute (CollapseProject does not inline multi-referenced
    // non-cheap aliases): 0.2 s after, same rows. The endianness
    // dispatch and left-justified-SHORT semantics are unchanged.
    var out = df
      .withColumn("_le", Bytes.magic(bin, lit(1), "49492a00"))
      .withColumn("_be", Bytes.magic(bin, lit(1), "4d4d002a"))
    out = out.withColumn("_ifd", // 0-based → 1-based
      Bytes.pos(bin, Bytes.uint(bin, lit(5), 4, col("_le")) + 1))
    out = out.withColumn("_n", Bytes.uint(bin, col("_ifd"), 2, col("_le")))
    for (i <- 0 until maxEntries) {
      val eOff = col("_ifd") + lit(2 + i * 12)
      out = out
        .withColumn(s"_tag$i", Bytes.uint(bin, eOff, 2, col("_le")))
        .withColumn(s"_tpe$i", Bytes.uint(bin, eOff + lit(2), 2, col("_le")))
    }
    for (i <- 0 until maxEntries) {
      val eOff = col("_ifd") + lit(2 + i * 12)
      // inline value: SHORT (3) reads the first 2 bytes of the value
      // field, LONG (4) all 4 — in the file's byte order either way
      out = out.withColumn(s"_val$i",
        when(col(s"_tpe$i") === 3, Bytes.uint(bin, eOff + lit(8), 2, col("_le")).cast("long"))
          .when(col(s"_tpe$i") === 4, Bytes.uint(bin, eOff + lit(8), 4, col("_le"))))
    }
    // first matching entry per tag == the freeze-chain semantics
    def firstTag(wanted: Int) = coalesce((0 until maxEntries).map(i =>
      when(lit(i) < col("_n") && col(s"_tag$i") === wanted, col(s"_val$i"))): _*)
    val valid = (col("_le") || col("_be")).cast("int")
    out.withColumn("valid_tiff", valid)
      .withColumn("byte_order", when(col("_le"), "II").when(col("_be"), "MM"))
      .withColumn("width", when(valid === 1, firstTag(256)))
      .withColumn("height", when(valid === 1, firstTag(257)))
      .drop(Seq("_le", "_be", "_ifd", "_n") ++
        (0 until maxEntries).flatMap(i => Seq(s"_tag$i", s"_tpe$i", s"_val$i")): _*)
  }

  /** H11 driver query: synthesize a 3-entry first IFD per asset in
    * BOTH byte orders (doc_id parity), width stored as SHORT on every
    * 3rd asset (exercising the left-justified inline rule) and LONG
    * otherwise; parse dims back from the BYTES; formula oracle. */
  def mmTiffDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = (col("n_chars") % 1024 + 16).cast("long")
    val h = (col("doc_id") % 512 + 16).cast("long")
    val isLe = col("doc_id") % 2 === 0
    val wShort = col("doc_id") % 3 === 0
    def entry(tag: Int, tpe: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      concat(Bytes.hexField(lit(tag), 2, isLe), Bytes.hexField(tpe, 2, isLe),
        Bytes.hexField(lit(1), 4, isLe), value)
    val wField = when(wShort, concat(Bytes.hexField(w, 2, isLe), lit("0000")))
      .otherwise(Bytes.hexField(w, 4, isLe))
    val wType = when(wShort, lit(3)).otherwise(lit(4))
    val hx = concat(
      when(isLe, lit("49492a00")).otherwise(lit("4d4d002a")),
      Bytes.hexField(lit(8), 4, isLe), // first IFD at file offset 8
      Bytes.hexField(lit(3), 2, isLe), // 3 entries
      entry(254, lit(4), Bytes.hexField(lit(0), 4, isLe)),
      entry(256, wType, wField),
      entry(257, lit(4), Bytes.hexField(h, 4, isLe)),
      Bytes.hexField(lit(0), 4, isLe)) // no next IFD
    withTiffDims(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_tiff", "byte_order", "width", "height")
  }

  /** Max PNG chunks the metadata walk visits after IHDR. */
  val PngMaxChunks = 4

  /** H15: PNG chunk walk — the variable-length metadata pass H4's
    * fixed-offset IHDR read can't do: every chunk is u32be length +
    * 4cc type + data + 4-byte CRC (so the next chunk sits len+12
    * later), and ancillary metadata (pHYs pixel density, tEXt
    * comments) may appear in ANY order between IHDR and IDAT. The
    * walk captures pHYs x/y pixels-per-unit + unit flag and the
    * byte length of the first tEXt chunk. The bounded unroll stages
    * per-hop offsets as aliased columns (the 64 KB-codegen lesson —
    * shared reads referenced by attribute, never re-spelled). */
  def withPngChunks(df: DataFrame, binCol: String,
      maxChunks: Int = PngMaxChunks): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), PngSigHex).cast("int")
    // first chunk after the 8-byte signature is IHDR at 9; next = 9 +
    // (len 13) + 12 = 34
    var out = df.withColumn("_c0", when(valid === 1, lit(34)))
      .withColumn("_px", lit(null).cast("long"))
      .withColumn("_py", lit(null).cast("long"))
      .withColumn("_pu", lit(null).cast("int"))
      .withColumn("_tl", lit(null).cast("long"))
    for (i <- 0 until maxChunks) {
      val off = col(s"_c$i")
      val len = Bytes.be(bin, off, 4)
      val typ = Bytes.hexAt(bin, off + 4, 4)
      out = out
        .withColumn("_px", coalesce(col("_px"),
          when(typ === "70485973", Bytes.be(bin, off + 8, 4)))) // pHYs
        .withColumn("_py", coalesce(col("_py"),
          when(typ === "70485973", Bytes.be(bin, off + 12, 4))))
        .withColumn("_pu", coalesce(col("_pu"),
          when(typ === "70485973",
            Bytes.u8(bin, off + 16))))
        .withColumn("_tl", coalesce(col("_tl"),
          when(typ === "74455874", len))) // tEXt
        .withColumn(s"_c${i + 1}",
          when(typ =!= "49454e44", Bytes.pos(bin, off + len + 12))) // stop at IEND
    }
    out.withColumn("valid_png", valid)
      .withColumn("phys_x", when(valid === 1, col("_px")))
      .withColumn("phys_y", when(valid === 1, col("_py")))
      .withColumn("phys_unit", when(valid === 1, col("_pu")))
      .withColumn("text_len", when(valid === 1, col("_tl")))
      .drop((0 to maxChunks).map(i => s"_c$i") ++ Seq("_px", "_py", "_pu", "_tl"): _*)
  }

  /** H15 driver query: synthesize signature + IHDR + (tEXt and pHYs
    * in DOC-PARITY ORDER — the walk must find them either way) +
    * IDAT stub per asset; parse back from the BYTES; formula oracle
    * (chunk arithmetic never re-parsed). */
  def mmPngChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val px = (col("n_chars") % 5000 + 72).cast("long")
    val py = (col("doc_id") % 5000 + 72).cast("long")
    val textLen = (col("doc_id") % 40 + 6).cast("long")
    val phys = concat(lit("00000009"), lit("70485973"),
      Bytes.beHex(px, 4), Bytes.beHex(py, 4),
      lit("01"), lit("00000000")) // unit 1 (metre) + dummy crc
    val text = concat(Bytes.beHex(textLen, 4), lit("74455874"),
      repeat(lit("61"), textLen.cast("int")), lit("00000000"))
    val physFirst = col("doc_id") % 2 === 0
    val hx = concat(lit(PngSigHex),
      lit("0000000d" + "49484452"), Bytes.beHex(lit(640), 4),
      Bytes.beHex(lit(480), 4), lit("0806000000"), lit("00000000"),
      when(physFirst, concat(phys, text)).otherwise(concat(text, phys)),
      lit("00000000" + "49444154" + "00000000")) // empty IDAT
    withPngChunks(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_png", "phys_x", "phys_y", "phys_unit",
        "text_len")
  }

  /** Max JPEG segments the EXIF walk hops before giving up. */
  val ExifMaxSegments = 4

  /** Max IFD0 entries the EXIF orientation scan visits. */
  val ExifMaxEntries = 4

  /** H13: EXIF orientation — the two-format composition: a JPEG
    * marker walk (the H5 shape) locates the APP1 segment whose
    * payload opens with "Exif\0\0", and the TIFF machinery (the H11
    * shape — full endianness dispatch, left-justified SHORT inline
    * values) walks the EMBEDDED TIFF that starts 10 bytes past the
    * APP1 marker, scanning IFD0 for tag 274 (Orientation, 1-8: the
    * rotate/mirror flag an image pipeline must honor before any
    * resize). All offsets inside the TIFF are relative to its own
    * header — the walk carries the absolute base through every read.
    * Non-ff garbage or a missing APP1 freezes the walk (null-out, the
    * H7 corrupt-guard convention). Pure codegen'd projections. */
  /** Shared H13/H16 front half: the JPEG marker walk (H5 shape) to
    * the APP1 segment whose payload opens with "Exif\0\0". Adds
    * `_soi` (boolean) and `_app1` (absolute segment offset, null when
    * absent or when a non-marker byte pair froze the walk). */
  private def locateApp1(df: DataFrame,
      bin: org.apache.spark.sql.Column, maxSegments: Int): DataFrame = {
    val soi = Bytes.magic(bin, lit(1), "ffd8")
    var out = df
      .withColumn("_app1", lit(null).cast("int"))
      .withColumn("_cur", when(soi, lit(3)))
    for (_ <- 0 until maxSegments) {
      val off = col("_cur")
      val marker = Bytes.hexAt(bin, off, 2)
      val isExif = marker === "ffe1" &&
        Bytes.magic(bin, off + 4, "457869660000")
      out = out
        .withColumn("_app1",
          when(col("_app1").isNotNull, col("_app1")).when(isExif, off))
        // a non-marker byte pair freezes the walk (corrupt guard)
        .withColumn("_cur",
          when(col("_app1").isNotNull, col("_cur"))
            .when(marker.startsWith("ff"),
              off + lit(2) + Bytes.be(bin, off + lit(2), 2)))
    }
    out.withColumn("_soi", soi).drop("_cur")
  }

  def withExifOrientation(df: DataFrame, binCol: String,
      maxSegments: Int = ExifMaxSegments,
      maxEntries: Int = ExifMaxEntries): DataFrame = {
    val bin = col(binCol)
    val out = locateApp1(df, bin, maxSegments)
    val soi = col("_soi")
    val base = col("_app1") + 10 // marker(2) + len(2) + "Exif\0\0"(6)
    val le = Bytes.magic(bin, base, "49492a00")
    val be = Bytes.magic(bin, base, "4d4d002a")
    // the IFD position feeds every entry read: staged as an aliased
    // column, so the per-entry reads do not each re-derive it
    var o = out
      .withColumn("_ifd", Bytes.pos(bin, base + Bytes.uint(bin, base + 4, 4, le))) // rel → abs
      .withColumn("_orient", lit(null).cast("int"))
    val ifdPos = col("_ifd")
    val nEntries = Bytes.uint(bin, ifdPos, 2, le)
    for (i <- 0 until maxEntries) {
      val eOff = ifdPos + lit(2 + i * 12)
      val tag = Bytes.uint(bin, eOff, 2, le)
      val tpe = Bytes.uint(bin, eOff + lit(2), 2, le)
      o = o.withColumn("_orient",
        when(col("_orient").isNotNull, col("_orient"))
          .when(lit(i) < nEntries && tag === 274 && tpe === 3,
            Bytes.uint(bin, eOff + lit(8), 2, le)))
    }
    val valid = (soi && col("_app1").isNotNull && (le || be)).cast("int")
    o.withColumn("valid_exif", valid)
      .withColumn("app1_off", when(valid === 1, col("_app1")))
      .withColumn("byte_order",
        when(valid === 1, when(le, "II").otherwise("MM")))
      .withColumn("orientation", when(valid === 1, col("_orient")))
      .drop("_app1", "_soi", "_ifd", "_orient")
  }

  /** H13 driver query: synthesize SOI + optional variable-length APP0
    * + APP1/Exif with an embedded two-entry TIFF IFD0 (byte order by
    * doc parity, a pointer-valued ImageDescription entry BEFORE the
    * orientation entry so the scan must skip non-matching tags);
    * parse walk offset, byte order, and orientation back from the
    * BYTES. Oracle derives app1_off independently by segment
    * arithmetic (the H5 convention). */
  def mmExifMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val isLe = col("doc_id") % 2 === 0
    val orient = (col("doc_id") % 8 + 1).cast("int")
    val app0Len = (col("doc_id") % 16 + 4).cast("int") // payload bytes
    val hasApp0 = col("doc_id") % 3 =!= 0
    val app0 = when(hasApp0,
      concat(lit("ffe0"), Bytes.beHex(app0Len + 2, 2), repeat(lit("4a"), app0Len)))
      .otherwise(lit(""))
    def entry(tag: Int, tpe: Int, cnt: Int, value: org.apache.spark.sql.Column) =
      concat(Bytes.hexField(lit(tag), 2, isLe), Bytes.hexField(lit(tpe), 2, isLe),
        Bytes.hexField(lit(cnt), 4, isLe), value)
    val tiff = concat(
      when(isLe, lit("49492a00")).otherwise(lit("4d4d002a")),
      Bytes.hexField(lit(8), 4, isLe), Bytes.hexField(lit(2), 2, isLe),
      entry(270, 2, 4, Bytes.hexField(lit(38), 4, isLe)), // desc ptr
      entry(274, 3, 1, concat(Bytes.hexField(orient, 2, isLe), lit("0000"))),
      Bytes.hexField(lit(0), 4, isLe))
    val hx = concat(lit("ffd8"), app0,
      lit("ffe1"), lit("002e"), lit("457869660000"), tiff)
    withExifOrientation(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_exif", "app1_off", "byte_order", "orientation")
  }

  /** Max entries scanned in the EXIF and GPS sub-IFDs (H16). */
  val GpsMaxEntries = 4

  /** H16: EXIF capture-time + GPS — the pointer-FOLLOWING pass H13's
    * flat IFD0 scan can't do. Three new TIFF mechanics, all relative
    * to the embedded TIFF base: (1) IFD0's tags 34665/34853 are
    * type-LONG POINTERS to the Exif and GPS sub-IFDs — the walk reads
    * them and re-enters the entry scan at base+offset; (2)
    * DateTimeOriginal (tag 36867, ASCII count 20 > 4) is
    * pointer-VALUED — the text lives in the data area, so the value
    * field is dereferenced and 19 chars decoded ("YYYY:MM:DD
    * HH:MM:SS", NUL dropped); (3) GPSLatitude/Longitude (tags 2/4,
    * RATIONAL count 3) dereference to three u32/u32 pairs —
    * deg/min/sec each as num÷den — combined with the inline ASCII
    * hemisphere refs (tags 1/3; raw bytes, never byte-swapped) into
    * signed integer MILLI-ARCSECONDS: sign·(deg·3600000 + min·60000
    * + sec·1000), each term an exact integer `div` by its
    * denominator. Integer output kills the r8 round(,6) decimal-tie
    * hash-fail class outright (no float ever exists to round), and is
    * exact whenever each denominator divides its term — true for the
    * 1/1/1000 denominators real EXIF writers emit. Every shared
    * sub-read is staged as an aliased column (the withTiffDims 64 KB
    * lesson — spelling the conditional endian trees inline blew
    * Janino's method limit and fell back to interpreted eval at
    * 6.6 s/sf0.1). Full endianness dispatch as in H11/H13; missing
    * APP1 or an unknown byte order nulls everything (corrupt guard).
    * Pure codegen'd projections — no UDF, no shuffle. */
  def withExifGps(df: DataFrame, binCol: String,
      maxSegments: Int = ExifMaxSegments,
      maxEntries: Int = ExifMaxEntries,
      gpsEntries: Int = GpsMaxEntries): DataFrame = {
    val bin = col(binCol)
    var out = locateApp1(df, bin, maxSegments)
    out = out
      .withColumn("_gbase", col("_app1") + 10) // marker(2)+len(2)+"Exif\0\0"(6)
      .withColumn("_gle",
        Bytes.magic(bin, col("_app1") + 10, "49492a00"))
      .withColumn("_gbe",
        Bytes.magic(bin, col("_app1") + 10, "4d4d002a"))
    // IFD0 scan: stage entry count + per-entry tag/type/value once;
    // every selector below references them by attribute
    out = out
      .withColumn("_ifd0",
        Bytes.pos(bin, col("_gbase") + Bytes.uint(bin, col("_gbase") + 4, 4, col("_gle"))))
      .withColumn("_n0", Bytes.uint(bin, col("_ifd0"), 2, col("_gle")))
    for (i <- 0 until maxEntries) {
      val eOff = col("_ifd0") + lit(2 + i * 12)
      out = out.withColumn(s"_0t$i", Bytes.uint(bin, eOff, 2, col("_gle")))
        .withColumn(s"_0y$i", Bytes.uint(bin, eOff + lit(2), 2, col("_gle")))
        .withColumn(s"_0v$i", Bytes.uint(bin, eOff + lit(8), 4, col("_gle")))
    }
    def firstIfd0(wanted: Int) = coalesce((0 until maxEntries).map(i =>
      when(lit(i) < col("_n0") && col(s"_0t$i") === wanted &&
        col(s"_0y$i") === 4, col(s"_0v$i"))): _*)
    out = out.withColumn("_exifp", firstIfd0(34665))
      .withColumn("_gpsp", firstIfd0(34853))
    // Exif sub-IFD: DateTimeOriginal's pointer, then the dereference
    out = out
      .withColumn("_eifd", Bytes.pos(bin, col("_gbase") + col("_exifp")))
      .withColumn("_ne", Bytes.uint(bin, col("_eifd"), 2, col("_gle")))
    for (i <- 0 until gpsEntries) {
      val eOff = col("_eifd") + lit(2 + i * 12)
      out = out.withColumn(s"_et$i", Bytes.uint(bin, eOff, 2, col("_gle")))
        .withColumn(s"_ey$i", Bytes.uint(bin, eOff + lit(2), 2, col("_gle")))
        .withColumn(s"_ev$i", Bytes.uint(bin, eOff + lit(8), 4, col("_gle")))
    }
    out = out.withColumn("_dtp", coalesce((0 until gpsEntries).map(i =>
      when(lit(i) < col("_ne") && col(s"_et$i") === 36867 &&
        col(s"_ey$i") === 2, col(s"_ev$i"))): _*))
    // GPS sub-IFD: hemisphere refs (inline ASCII, never byte-swapped)
    // + coordinate pointers, from the same staged tag/type columns
    out = out
      .withColumn("_gifd", Bytes.pos(bin, col("_gbase") + col("_gpsp")))
      .withColumn("_ng", Bytes.uint(bin, col("_gifd"), 2, col("_gle")))
    for (i <- 0 until gpsEntries) {
      val eOff = col("_gifd") + lit(2 + i * 12)
      out = out.withColumn(s"_gt$i", Bytes.uint(bin, eOff, 2, col("_gle")))
        .withColumn(s"_gy$i", Bytes.uint(bin, eOff + lit(2), 2, col("_gle")))
        .withColumn(s"_gv$i", Bytes.uint(bin, eOff + lit(8), 4, col("_gle")))
        .withColumn(s"_gr$i", bin.substr(eOff + lit(8), lit(1)).cast("string"))
    }
    def gpsRef(wanted: Int) = coalesce((0 until gpsEntries).map(i =>
      when(lit(i) < col("_ng") && col(s"_gt$i") === wanted &&
        col(s"_gy$i") === 2, col(s"_gr$i"))): _*)
    def gpsPtr(wanted: Int) = coalesce((0 until gpsEntries).map(i =>
      when(lit(i) < col("_ng") && col(s"_gt$i") === wanted &&
        col(s"_gy$i") === 5, col(s"_gv$i"))): _*)
    out = out.withColumn("_latr", gpsRef(1)).withColumn("_latp", gpsPtr(2))
      .withColumn("_lonr", gpsRef(3)).withColumn("_lonp", gpsPtr(4))
    // dereference the three num/den rational pairs per coordinate,
    // staged, then fold to exact integer milli-arcseconds
    for ((pfx, ptr) <- Seq("_la" -> "_latp", "_lo" -> "_lonp")) {
      out = out.withColumn(s"${pfx}q", Bytes.pos(bin, col("_gbase") + col(ptr)))
      for ((f, o) <- Seq("dn" -> 0, "dd" -> 4, "mn" -> 8, "md" -> 12,
          "sn" -> 16, "sd" -> 20))
        out = out.withColumn(s"$pfx$f", Bytes.uint(bin, col(s"${pfx}q") + lit(o), 4, col("_gle")))
    }
    // Codegen-span break (r11): the staged chain up to here plus the
    // fold below compile into ONE fused whole-stage method, and that
    // method sat exactly at Janino's 64KB limit — the r10 shape
    // compiled with zero headroom, so ADDING the denominator zero
    // guards tipped it into the interpreted fallback
    // (CodegenFallbackSpec caught it at birth). observe() plans a
    // CollectMetricsExec, which does not participate in whole-stage
    // codegen: it cuts the pipeline into two independently-compiled
    // spans (staging | fold) at the cost of one per-partition count
    // accumulator — no shuffle, no materialization, and each span now
    // has real headroom instead of riding the limit.
    // name made unique per invocation: CollectMetrics names must be
    // unique within one analyzed plan, and a fixed name would fail
    // analysis for any caller composing two EXIF-parsed frames
    // (union/join) in one query
    out = out.observe(
      s"mm_exif_gps_staged_${ExifGpsStageId.incrementAndGet()}",
      count(lit(1)).as("rows"))
    // The fold references every rational component TWICE (numerators
    // through an always-true case, denominators through the zero
    // guard), so CollapseProject keeps all 12 u32 deref chains staged
    // in their own projection instead of inlining them into the fold.
    // The denominator guard nulls corrupt den = 0 rationals instead
    // of throwing ANSI division-by-zero, matching the module's other
    // corrupt-input guards.
    def mas(pfx: String) = {
      def num(f: String) = s"(case when $pfx$f >= 0 then $pfx$f end)"
      def den(f: String) = s"(case when $pfx$f != 0 then $pfx$f end)"
      expr(
        s"${num("dn")} * 3600000 div ${den("dd")}" +
          s" + ${num("mn")} * 60000 div ${den("md")}" +
          s" + ${num("sn")} * 1000 div ${den("sd")}")
    }
    val valid = (col("_soi") && col("_app1").isNotNull &&
      (col("_gle") || col("_gbe"))).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    out
      .withColumn("valid_exif", valid)
      .withColumn("datetime_original",
        ifOk(bin.substr(Bytes.pos(bin, col("_gbase") + col("_dtp")), lit(19))
          .cast("string")))
      .withColumn("lat_mas", ifOk(mas("_la") *
        when(col("_latr") === "N", 1L).otherwise(-1L)))
      .withColumn("lon_mas", ifOk(mas("_lo") *
        when(col("_lonr") === "E", 1L).otherwise(-1L)))
      .drop(Seq("_app1", "_soi", "_gbase", "_gle", "_gbe", "_ifd0", "_n0",
        "_exifp", "_gpsp", "_eifd", "_ne", "_dtp", "_gifd", "_ng",
        "_latr", "_latp", "_lonr", "_lonp", "_laq", "_loq") ++
        (0 until maxEntries).flatMap(i => Seq(s"_0t$i", s"_0y$i", s"_0v$i")) ++
        (0 until gpsEntries).flatMap(i => Seq(s"_et$i", s"_ey$i", s"_ev$i",
          s"_gt$i", s"_gy$i", s"_gv$i", s"_gr$i")) ++
        Seq("_la", "_lo").flatMap(p =>
          Seq("dn", "dd", "mn", "md", "sn", "sd").map(f => s"$p$f")): _*)
  }

  /** H16 driver query: synthesize SOI + APP1/Exif embedding a TIFF
    * with IFD0 (orientation inline + BOTH sub-IFD pointers), an Exif
    * sub-IFD whose DateTimeOriginal dereferences into the data area,
    * and a GPS IFD whose lat/lon dereference to deg/min/sec rationals
    * (millisecond-denominator seconds exercise den ≠ 1); byte order
    * by doc parity. Parse time + signed integer milli-arcsecond
    * coordinates back from the BYTES; exact-integer formula oracle
    * (no float exists on either side, so no rounding-tie class). */
  def mmExifGps(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val isLe = col("doc_id") % 2 === 0
    def entry(tag: Int, tpe: Int, cnt: Int, value: org.apache.spark.sql.Column) =
      concat(Bytes.hexField(lit(tag), 2, isLe), Bytes.hexField(lit(tpe), 2, isLe),
        Bytes.hexField(lit(cnt), 4, isLe), value)
    // layout (offsets relative to TIFF base): header 0-7, IFD0 at 8
    // (3 entries, ends 50), Exif IFD at 50 (1 entry, ends 68), GPS
    // IFD at 68 (4 entries, ends 122), data: datetime 122, lat
    // rationals 142, lon rationals 166
    val dt = format_string("2020:%02d:%02d %02d:%02d:%02d",
      col("doc_id") % 12 + 1, col("doc_id") % 28 + 1, col("doc_id") % 24,
      col("doc_id") % 60, (col("doc_id") * 7) % 60)
    val latDeg = col("doc_id") % 90
    val latMin = col("doc_id") % 60
    val latSecMs = (col("doc_id") * 37) % 60000
    val lonDeg = col("doc_id") % 180
    val lonMin = (col("doc_id") * 3) % 60
    val lonSecMs = (col("doc_id") * 53) % 60000
    val north = col("doc_id") % 2 === 0
    val east = col("doc_id") % 3 === 0
    def rats(deg: org.apache.spark.sql.Column, min: org.apache.spark.sql.Column,
        secMs: org.apache.spark.sql.Column) =
      concat(Seq(deg, lit(1), min, lit(1), secMs, lit(1000)).map(Bytes.hexField(_, 4, isLe)): _*)
    val tiff = concat(
      when(isLe, lit("49492a00")).otherwise(lit("4d4d002a")),
      Bytes.hexField(lit(8), 4, isLe),
      Bytes.hexField(lit(3), 2, isLe),
      entry(274, 3, 1, concat(Bytes.hexField(lit(1), 2, isLe), lit("0000"))),
      entry(34665, 4, 1, Bytes.hexField(lit(50), 4, isLe)),
      entry(34853, 4, 1, Bytes.hexField(lit(68), 4, isLe)),
      Bytes.hexField(lit(0), 4, isLe),
      Bytes.hexField(lit(1), 2, isLe),
      entry(36867, 2, 20, Bytes.hexField(lit(122), 4, isLe)),
      Bytes.hexField(lit(0), 4, isLe),
      Bytes.hexField(lit(4), 2, isLe),
      entry(1, 2, 2, when(north, lit("4e000000")).otherwise(lit("53000000"))),
      entry(2, 5, 3, Bytes.hexField(lit(142), 4, isLe)),
      entry(3, 2, 2, when(east, lit("45000000")).otherwise(lit("57000000"))),
      entry(4, 5, 3, Bytes.hexField(lit(166), 4, isLe)),
      Bytes.hexField(lit(0), 4, isLe),
      hex(dt), lit("00"),
      rats(latDeg, latMin, latSecMs), rats(lonDeg, lonMin, lonSecMs))
    // APP1 length covers itself + "Exif\0\0" + the 190-byte TIFF
    val hx = concat(lit("ffd8"), lit("ffe1"), lit("00c6"),
      lit("457869660000"), tiff)
    withExifGps(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_exif", "datetime_original", "lat_mas", "lon_mas")
  }

  /** H12: FLAC STREAMINFO parse — "fLaC" magic, then the FIRST
    * metadata block must be STREAMINFO (bits 0-6 of the header byte
    * == 0; bit 7 is the last-block flag and is masked out) with the
    * spec-fixed 34-byte length. The body is this family's BIT-PACKED
    * member: after four fixed u16be/u24be block/frame-size fields,
    * ONE big-endian 64-bit span packs sample rate (20 bits),
    * channels−1 (3), bits-per-sample−1 (5), and a 36-bit total-sample
    * count. Read as TWO u32s (no signed-64 edge) and unpacked with
    * shift/mask arithmetic — pure codegen'd projections, zero
    * shuffle, the H-family contract. duration rounds at 6: for every
    * rate in the synthetic set (8000/22050/44100), total·2·10⁶/rate
    * is even whenever it is an integer, so the exact-decimal-tie
    * class (the H7 lesson) cannot strike. */
  def withFlacInfo(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val magic = Bytes.magic(bin, lit(1), "664c6143") // fLaC
    val btype = Bytes.u8(bin, lit(5))
    val blockLen = Bytes.be(bin, lit(6), 3)
    val valid = (magic && btype.bitwiseAND(lit(0x7f)) === 0 &&
      blockLen === 34).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val hi = Bytes.be(bin, lit(19), 4)
    val lo = Bytes.be(bin, lit(23), 4)
    val rate = shiftright(hi, 12)
    val total = hi.bitwiseAND(lit(15L)) * lit(4294967296L) + lo
    df.withColumn("valid_flac", valid)
      .withColumn("min_block", ifOk(Bytes.be(bin, lit(9), 2)))
      .withColumn("max_block", ifOk(Bytes.be(bin, lit(11), 2)))
      .withColumn("sample_rate", ifOk(rate))
      .withColumn("channels",
        ifOk(shiftright(hi, 9).bitwiseAND(lit(7L)).cast("int") + 1))
      .withColumn("bits_per_sample",
        ifOk(shiftright(hi, 4).bitwiseAND(lit(31L)).cast("int") + 1))
      .withColumn("total_samples", ifOk(total))
      .withColumn("duration_sec",
        ifOk(when(rate > 0, round(total.cast("double") / rate, 6))))
  }

  /** H12 driver query: synthesize a 42-byte fLaC header + STREAMINFO
    * per asset (rates cycle the tie-free set, channels sweep all 8,
    * every 5th asset's total-sample count exceeds 2³³ so the 36-bit
    * span above the lo-u32 boundary is value-checked) and parse it
    * back from the BYTES; formula-derived oracle. */
  def mmFlacMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val rate = element_at(array(lit(8000L), lit(22050L), lit(44100L)),
      (col("doc_id") % 3 + 1).cast("int"))
    val ch = (col("doc_id") % 8 + 1).cast("long")
    val bps = when(col("doc_id") % 2 === 0, 16L).otherwise(24L)
    val total = (col("n_chars") % 100000).cast("long") +
      when(col("doc_id") % 5 === 0, lit(8589934592L)).otherwise(lit(0L))
    val hi = shiftleft(rate, 12) + shiftleft(ch - 1, 9) +
      shiftleft(bps - lit(1L), 4) + shiftright(total, 32)
    val lo = total.bitwiseAND(lit(4294967295L))
    val minF = (col("doc_id") % 1000 + 14).cast("long")
    val maxF = minF + (col("n_chars") % 512).cast("long")
    val hx = concat(lit("664c6143"), lit("80"), Bytes.beHex(lit(34), 3),
      Bytes.beHex(lit(4096), 2), Bytes.beHex(lit(4096), 2),
      Bytes.beHex(minF, 3), Bytes.beHex(maxF, 3),
      Bytes.beHex(hi, 4), Bytes.beHex(lo, 4), lit("00" * 16))
    withFlacInfo(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_flac", "min_block", "max_block",
        "sample_rate", "channels", "bits_per_sample", "total_samples",
        "duration_sec")
  }

  /** MPEG-1 Layer III bitrate table (kbps), indexed 1-14 (0 = free,
    * 15 = bad — both invalid here). */
  val Mp3Bitrates: Seq[Int] =
    Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample-rate table, indexed 0-2 (3 = reserved). */
  val Mp3Rates: Seq[Int] = Seq(44100, 48000, 32000)

  /** H14: MP3 (MPEG-1 Layer III) frame header — the TABLE-LOOKUP
    * format: the 4-byte header is pure bit fields (11-bit sync, 2-bit
    * version, 2-bit layer, 4-bit bitrate INDEX, 2-bit rate INDEX,
    * 1-bit padding) whose indices resolve through published tables —
    * expressed as element_at over literal arrays, still one codegen'd
    * projection. A leading ID3v2 tag is hopped via its SYNCSAFE
    * 28-bit size (4 bytes × 7 bits — the high bit of each byte is
    * kept clear so a tag size can never fake a frame sync; masked on
    * read as the guard). Frame length uses the Layer III formula
    * 144·bitrate/rate + padding as exact integer division. */
  def withMp3Header(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val hasId3 = Bytes.magic(bin, lit(1), "494433")
    val tagSize = Bytes.syncsafe(bin, lit(7))
    val frameOff = when(hasId3, tagSize + 11).otherwise(lit(1))
    val hdr = Bytes.be(bin, frameOff, 4)
    val sync = shiftright(hdr, 21).bitwiseAND(lit(0x7ffL)) === 0x7ffL
    val version = shiftright(hdr, 19).bitwiseAND(lit(3L))
    val layer = shiftright(hdr, 17).bitwiseAND(lit(3L))
    val brIdx = shiftright(hdr, 12).bitwiseAND(lit(15L)).cast("int")
    val srIdx = shiftright(hdr, 10).bitwiseAND(lit(3L)).cast("int")
    val padding = shiftright(hdr, 9).bitwiseAND(lit(1L)).cast("int")
    val valid = (sync && version === 3L && layer === 1L &&
      brIdx.between(1, 14) && srIdx.between(0, 2)).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val br = element_at(array(Mp3Bitrates.map(lit): _*), brIdx)
    val sr = element_at(array(Mp3Rates.map(lit): _*), srIdx + 1)
    df.withColumn("valid_mp3", valid)
      .withColumn("has_id3", hasId3.cast("int"))
      .withColumn("frame_off", ifOk(frameOff))
      .withColumn("bitrate_kbps", ifOk(br))
      .withColumn("sample_rate", ifOk(sr))
      .withColumn("padding", ifOk(padding))
      // exact: 144000·br < 2^26, and an integer quotient is exactly
      // representable, so floor-of-double == integer division
      .withColumn("frame_len",
        ifOk(floor(br.cast("long") * lit(144000L)
          / sr.cast("long")).cast("long") + padding))
  }

  /** H14 driver query: synthesize an optional ID3v2 tag (variable
    * syncsafe-sized payload) + one genuine MPEG-1 Layer III header
    * per asset, sweeping the full valid bitrate table and all three
    * sample rates; parse back from the BYTES. Oracle derives
    * frame_off by syncsafe arithmetic and bitrate/rate by the same
    * published tables (formula convention). */
  def mmMp3Meta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val brIdx = (col("doc_id") % 14 + 1).cast("int")
    val srIdx = (col("doc_id") % 3).cast("int")
    val padding = ((col("doc_id") + col("n_chars")) % 2).cast("int")
    val hasId3 = col("doc_id") % 3 =!= 0
    val tagLen = (col("doc_id") % 200 + 4).cast("int") // syncsafe payload
    val id3 = when(hasId3, concat(lit("494433" + "0400" + "00"),
      Bytes.syncsafeHex(tagLen), repeat(lit("aa"), tagLen))).otherwise(lit(""))
    val byte2 = shiftleft(brIdx, 4) + shiftleft(srIdx, 2) + shiftleft(padding, 1)
    val hx = concat(id3, lit("fffb"), Bytes.beHex(byte2, 1), lit("00"))
    withMp3Header(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_mp3", "has_id3", "frame_off",
        "bitrate_kbps", "sample_rate", "padding", "frame_len")
  }

  /** H18: ICO directory parse — the favicon-scale asset format. A
    * 6-byte ICONDIR (reserved 0x0000, type u16le = 1 for icons — 2 is
    * a cursor and does NOT validate — count u16le ≥ 1) then 16-byte
    * entries whose FIRST byte pair is the dims with the format's one
    * quirk: a 0 byte means 256 (the max a byte-sized field can't
    * spell). Emits the entry count and the first entry's dims + bpp.
    * Pure codegen'd projection, no UDF, no shuffle. */
  def withIcoDims(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = (Bytes.magic(bin, lit(1), "00000100") &&
      Bytes.le(bin, lit(5), 2) >= 1).cast("int")
    def dim(i: Int) = {
      val b = Bytes.u8(bin, lit(i))
      when(b === 0, 256).otherwise(b)
    }
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    df.withColumn("valid_ico", valid)
      .withColumn("n_images", ifOk(Bytes.le(bin, lit(5), 2)))
      .withColumn("width", ifOk(dim(7)))
      .withColumn("height", ifOk(dim(8)))
      .withColumn("bpp", ifOk(Bytes.le(bin, lit(13), 2)))
  }

  /** H18 driver query: synthesize an ICONDIR + first entry per asset —
    * dims sweep 1..255 plus the 256-spelled-as-0 quirk on every 8th
    * asset, bpp cycles the real palette/truecolor values; every 5th
    * asset is a CURSOR (type 2), which must not validate. Formula
    * oracle. */
  def mmIcoDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val isCursor = col("doc_id") % 5 === 0
    val w = when(col("doc_id") % 8 === 0, lit(0))
      .otherwise((col("doc_id") % 255 + 1).cast("int"))
    val h = when(col("doc_id") % 8 === 0, lit(0))
      .otherwise((col("n_chars") % 255 + 1).cast("int"))
    val nImg = (col("doc_id") % 3 + 1).cast("int")
    val bpp = element_at(array(lit(1), lit(4), lit(8), lit(24), lit(32)),
      (col("doc_id") % 5 + 1).cast("int"))
    val hx = concat(lit("0000"),
      when(isCursor, lit("0200")).otherwise(lit("0100")),
      Bytes.leHex(nImg, 2), Bytes.beHex(w, 1), Bytes.beHex(h, 1), lit("0000"),
      Bytes.leHex(lit(1), 2),
      Bytes.leHex(bpp, 2), lit("00000000"), lit("16000000"))
    withIcoDims(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_ico", "n_images", "width", "height", "bpp")
  }

  private val ExifGpsStageId = new java.util.concurrent.atomic.AtomicLong

  /** Max OGG segment-table entries the page walk sums. */
  val OggMaxSegments = 4

  /** OGG sample rates the synthetic corpus cycles through. */
  val OggRates = Seq(8000, 16000, 22050, 44100, 48000)

  /** H19: OGG page header + Vorbis identification header parse
    * (RFC 3533 / Vorbis I spec) — the container walk for the one
    * mainstream audio format (Ogg/Vorbis) H6/H12/H14 don't cover.
    * Fixed 27-byte header: "OggS" capture + version 0 validate,
    * header-type flag bits (BOS/EOS), granule position as a FULL
    * signed 64-bit LE read (two u32 halves recombined with long
    * arithmetic — the wrap reproduces two's-complement semantics, so
    * the -1 end-of-stream marker reads correctly), serial + page
    * sequence u32le, then the segment table: page body length is the
    * SUM of up to [[OggMaxSegments]] lacing values (bounded unroll,
    * the JPEG-walk discipline). On a BOS page whose first packet is
    * a Vorbis identification header ("\\x01vorbis"), channels and
    * sample rate are read from the packet. Pure codegen'd guarded
    * projections, zero shuffle at any scale. */
  def withOggMeta(df: DataFrame, binCol: String,
      maxSegments: Int = OggMaxSegments): DataFrame = {
    val bin = col(binCol)
    val valid = (Bytes.magic(bin, lit(1), "4f676753") &&
      Bytes.u8(bin, lit(5)) === 0).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    var out = df.withColumn("valid_ogg", valid)
      .withColumn("_flags", Bytes.u8(bin, lit(6)))
      .withColumn("_nseg", Bytes.u8(bin, lit(27)))
    val bodyLen = (0 until maxSegments).map(i =>
      when(lit(i) < col("_nseg"), Bytes.u8(bin, lit(28 + i))).otherwise(lit(0)))
      .reduce(_ + _)
    out = out
      .withColumn("is_bos", ifOk(shiftright(col("_flags"), 1).bitwiseAND(lit(1))))
      .withColumn("is_eos", ifOk(shiftright(col("_flags"), 2).bitwiseAND(lit(1))))
      // shift+OR, not hi * 2^32 + lo: the bitwise spelling wraps to
      // the signed two's-complement value natively (granule -1 = the
      // EOS marker), where ANSI checked multiplication throws
      // ARITHMETIC_OVERFLOW on any hi half ≥ 2^31
      .withColumn("granule",
        ifOk(shiftleft(Bytes.le(bin, lit(11), 4), 32).bitwiseOR(Bytes.le(bin, lit(7), 4))))
      .withColumn("serial", ifOk(Bytes.le(bin, lit(15), 4)))
      .withColumn("page_seq", ifOk(Bytes.le(bin, lit(19), 4)))
      .withColumn("n_segments", ifOk(col("_nseg")))
      .withColumn("body_len",
        ifOk(when(col("_nseg") <= maxSegments, bodyLen)))
    // first-packet Vorbis id header: only meaningful on a BOS page
    // whose first lacing value covers the 30-byte packet
    val body0 = lit(28) + col("_nseg")
    val vorbis = col("is_bos") === 1 && col("_nseg") >= 1 &&
      Bytes.u8(bin, lit(28)) >= 30 &&
      Bytes.magic(bin, body0, "01766f72626973")
    out
      .withColumn("channels", when(vorbis, Bytes.u8(bin, body0 + lit(11))))
      .withColumn("sample_rate", when(vorbis, Bytes.le(bin, body0 + lit(12), 4)))
      .drop("_flags", "_nseg")
  }

  /** H19 driver query: synthesize one OGG page per asset — a Vorbis
    * BOS page (id-header packet + zero filler segment) by default,
    * a mid-stream data page every 7th asset, an EOS flag every 13th,
    * and a corrupt capture every 11th (must not validate) — then
    * parse everything back from the BYTES; formula oracle. */
  def mmOggMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 11 === 0
    val bos = col("doc_id") % 7 =!= 0
    val eos = col("doc_id") % 13 === 0
    val filler = (col("n_chars") % 200).cast("int")
    val granule = when(bos, lit(0)).otherwise((col("doc_id") % 1000) * 100)
      .cast("int")
    val serial = (col("doc_id") % 100000).cast("int")
    val pageSeq = when(bos, lit(0)).otherwise(col("doc_id") % 50 + 1).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = element_at(
      array(OggRates.map(r => lit(r)): _*), (col("doc_id") % 5 + 1).cast("int"))
    val flags = when(bos, lit(2)).otherwise(lit(0)) +
      when(eos, lit(4)).otherwise(lit(0))
    val vorbisId = concat(lit("01"), lit("766f72626973"), lit("00000000"),
      Bytes.beHex(channels, 1), Bytes.leHex(rate, 4), lit("00" * 12), lit("b8"), lit("01"))
    val segTable = when(bos, concat(lit("1e"), Bytes.beHex(filler, 1)))
      .otherwise(Bytes.beHex(filler, 1))
    val body = when(bos, concat(vorbisId, repeat(lit("00"), filler)))
      .otherwise(repeat(lit("aa"), filler))
    val hx = concat(
      when(corrupt, lit("4f676758")).otherwise(lit("4f676753")), lit("00"),
      Bytes.beHex(flags, 1), Bytes.leHex(granule, 4), lit("00000000"),
      Bytes.leHex(serial, 4), Bytes.leHex(pageSeq, 4), lit("00000000"),
      when(bos, lit("02")).otherwise(lit("01")), segTable, body)
    withOggMeta(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_ogg", "is_bos", "is_eos", "granule",
        "serial", "page_seq", "n_segments", "body_len",
        "channels", "sample_rate")
  }

  /** Longest ZIP entry filename the parser dereferences. */
  val ZipMaxName = 64

  /** H20: ZIP local-file-header parse (PKWARE APPNOTE) — the
    * CONTAINER format a document lake actually stores: docx/xlsx and
    * epub are ZIP archives, and their FIRST entry is diagnostic
    * (epub: a stored — never deflated — "mimetype" entry; OOXML:
    * "[Content_Types].xml"). Parses the header at offset 0:
    * "PK\x03\x04" validate, compression method (stored/deflated),
    * CRC-32, compressed/uncompressed sizes, and the entry FILENAME
    * as a string (guarded to [[ZipMaxName]] bytes — a hostile length
    * field must not drag a megabyte into the row). Pure codegen'd
    * guarded projections, zero shuffle. */
  def withZipEntry(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "504b0304").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val method = Bytes.le(bin, lit(9), 2)
    val nlen = Bytes.le(bin, lit(27), 2)
    df.withColumn("valid_zip", valid)
      .withColumn("method",
        ifOk(when(method === 0, "stored").when(method === 8, "deflated")
          .otherwise("other")))
      .withColumn("crc32", ifOk(Bytes.le(bin, lit(15), 4)))
      .withColumn("compressed_size", ifOk(Bytes.le(bin, lit(19), 4)))
      .withColumn("uncompressed_size", ifOk(Bytes.le(bin, lit(23), 4)))
      .withColumn("name_len", ifOk(nlen))
      .withColumn("filename",
        ifOk(when(nlen <= ZipMaxName, bin.substr(lit(31), nlen).cast("string"))))
  }

  /** H20 driver query: synthesize a first local header per asset —
    * an epub leg (stored "mimetype"), an OOXML leg (deflated
    * "[Content_Types].xml"), a generic deflated JSON leg, and a
    * corrupt signature every 9th asset — and parse it back from the
    * BYTES; formula oracle. */
  def mmZipEntry(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 9 === 0
    val leg = col("doc_id") % 3
    val name = when(leg === 0, "mimetype")
      .when(leg === 1, "[Content_Types].xml")
      .otherwise("data.json")
    val method = when(leg === 0, lit(0)).otherwise(lit(8))
    val usize = when(leg === 0, col("n_chars") % 500 + 20)
      .otherwise(col("n_chars") % 5000 + 100).cast("int")
    val csize = when(leg === 0, usize)
      .otherwise((usize.cast("long") / 3).cast("int") + 18)
    val crc = (col("doc_id") * 2654435761L % 4294967296L).cast("long")
    val hx = concat(
      when(corrupt, lit("504b0306")).otherwise(lit("504b0304")),
      lit("1400"), lit("0000"), Bytes.leHex(method, 2), lit("0000"), lit("0000"),
      Bytes.leHex(crc, 4), Bytes.leHex(csize, 4), Bytes.leHex(usize, 4),
      Bytes.leHex(length(name), 2), lit("0000"), lower(hex(name)))
    withZipEntry(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_zip", "method", "crc32",
        "compressed_size", "uncompressed_size", "name_len", "filename")
  }

  /** Longest tar name / gzip FNAME the parsers dereference. */
  val TarMaxName = 100

  /** H21: POSIX ustar tar-header parse — the archive format crawl
    * drops and model checkpoints actually arrive in. Tar is unusual
    * among the H-family formats: every numeric field is OCTAL ASCII
    * (size, mtime), strings are NUL-padded fixed slots, and the magic
    * sits at byte 257 ("ustar\0"), not at offset 0. The octal fields
    * decode with conv(_, 8, 10) on the digit prefix — a codegen'd
    * string op, no UDF; names NUL-trim with one regexp anchored at
    * the slot start. Pure guarded projections, zero shuffle.
    * Layout (POSIX.1-1988): name@0[100] mode@100[8] uid@108[8]
    * gid@116[8] size@124[12oct] mtime@136[12oct] chksum@148[8]
    * typeflag@156[1] linkname@157[100] magic@257[6] version@263[2]
    * uname@265[32]. */
  def withTarHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    // "ustar\0" at byte offset 257 (1-based substr position 258)
    val valid = Bytes.magic(bin, lit(258), "757374617200").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    def octalAt(off: Int, len: Int) =
      conv(regexp_extract(substring(bin, off, len).cast("string"),
        "^([0-7]+)", 1), 8, 10).cast("long")
    def nulTrimmedAt(off: Int, len: Int) =
      regexp_extract(substring(bin, off, len).cast("string"), "^[^\u0000]*", 0)
    val tf = substring(bin, 157, 1).cast("string")
    df.withColumn("valid_tar", valid)
      .withColumn("name", ifOk(nulTrimmedAt(1, TarMaxName)))
      .withColumn("size", ifOk(octalAt(125, 12)))
      .withColumn("mtime", ifOk(octalAt(137, 12)))
      .withColumn("entry_type",
        ifOk(when(tf === "0" || tf === "\u0000", "file")
          .when(tf === "5", "dir").when(tf === "2", "symlink")
          .otherwise("other")))
      .withColumn("uname", ifOk(nulTrimmedAt(266, 32)))
  }

  /** H21 driver query: synthesize a ustar header per asset — file /
    * dir / symlink legs, octal-encoded size+mtime (conv 10→8 on the
    * write side mirrors conv 8→10 on the read side), NUL-padded name
    * slots, corrupt magic every 9th — and parse it back from the
    * BYTES; formula oracle. */
  def mmTarMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 9 === 0
    val leg = col("doc_id") % 3
    val name = when(leg === 0, concat(lit("docs/doc_"), col("doc_id"), lit(".txt")))
      .when(leg === 1, concat(lit("docs/dir_"), col("doc_id"), lit("/")))
      .otherwise(concat(lit("docs/link_"), col("doc_id")))
    val size = when(leg === 0, col("n_chars") % 10000 + 1).otherwise(lit(0)).cast("long")
    val mtime = (lit(1700000000L) + col("doc_id")).cast("long")
    val typeflagHex = when(leg === 0, lit("30")).when(leg === 1, lit("35"))
      .otherwise(lit("32"))
    def octField12(v: org.apache.spark.sql.Column) =
      concat(lower(hex(lpad(conv(v.cast("string"), 10, 8), 11, "0"))), lit("00"))
    val zeros8 = "30" * 7 + "00"                    // "0000000\0"
    val spaces8 = "20" * 8                          // checksum left unset
    val hx = concat(
      rpad(lower(hex(name)), 200, "0"),             // name[100]
      lit(zeros8), lit(zeros8), lit(zeros8),        // mode, uid, gid
      octField12(size), octField12(mtime),
      lit(spaces8), typeflagHex,
      lit("0" * 200),                               // linkname[100]
      when(corrupt, lit("757374617a00")).otherwise(lit("757374617200")),
      lit("3030"),                                  // version "00"
      rpad(lower(hex(lit("builder"))), 64, "0"))    // uname[32]
    withTarHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_tar", "name", "size", "mtime", "entry_type", "uname")
  }

  /** H22: gzip member-header parse (RFC 1952) — the codec envelope
    * A13 reads THROUGH (extension-dispatched decompress); this reads
    * the header itself: magic 1f8b + CM=8 validate, the FLG bit
    * field (FTEXT/FHCRC/FEXTRA/FNAME/FCOMMENT), MTIME u32le, XFL
    * compression hint, the OS byte, and — when FNAME is set — the
    * NUL-terminated original filename trailing the fixed header.
    * Why it matters at scale: MTIME/FNAME are the only provenance a
    * bare .gz drop carries, and FEXTRA presence signals BGZF-style
    * blocked variants that ARE splittable unlike plain gzip. */
  def withGzipHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "1f8b08").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val flg = Bytes.u8(bin, lit(4))
    val xfl = Bytes.u8(bin, lit(9))
    val os = Bytes.u8(bin, lit(10))
    df.withColumn("valid_gzip", valid)
      .withColumn("has_name", ifOk((flg.bitwiseAND(8) =!= 0).cast("int")))
      .withColumn("has_extra", ifOk((flg.bitwiseAND(4) =!= 0).cast("int")))
      .withColumn("is_text", ifOk((flg.bitwiseAND(1) =!= 0).cast("int")))
      .withColumn("mtime", ifOk(Bytes.le(bin, lit(5), 4)))
      .withColumn("xfl_hint",
        ifOk(when(xfl === 2, "best").when(xfl === 4, "fastest").otherwise("none")))
      .withColumn("os_name",
        ifOk(when(os === 3, "unix").when(os === 0, "fat").when(os === 11, "ntfs")
          .otherwise("other")))
      .withColumn("fname",
        ifOk(when(flg.bitwiseAND(8) =!= 0,
          regexp_extract(substring(bin, 11, TarMaxName).cast("string"),
            "^[^\u0000]*", 0))))
  }

  /** H22 driver query: synthesize a gzip member header per asset —
    * FNAME leg, bare leg, FTEXT+fastest leg, corrupt magic every
    * 11th — parse back from the BYTES; formula oracle. */
  def mmGzipMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 11 === 0
    val leg = col("doc_id") % 3
    val flgHex = when(leg === 0, lit("08")).when(leg === 1, lit("00"))
      .otherwise(lit("01"))
    val mtime = (lit(1600000000L) + col("doc_id") * 60L).cast("long")
    val xflHex = when(leg === 2, lit("04")).otherwise(lit("02"))
    val osHex = when(leg === 1, lit("00")).otherwise(lit("03"))
    val nameHex = when(leg === 0,
      concat(lower(hex(concat(lit("doc_"), col("doc_id"), lit(".json")))), lit("00")))
      .otherwise(lit(""))
    val hx = concat(
      when(corrupt, lit("1f8c08")).otherwise(lit("1f8b08")),
      flgHex, Bytes.leHex(mtime, 4), xflHex, osHex, nameHex,
      lit("4b4c4c")) // a few deflate payload bytes
    withGzipHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_gzip", "has_name", "has_extra", "is_text",
        "mtime", "xfl_hint", "os_name", "fname")
  }

  /** Max ID3v2 frames the tag walk visits. */
  val Id3MaxFrames = 4

  /** The text frames the walk extracts, (frame id → output column). */
  val Id3TextFrames: Seq[(String, String)] =
    Seq("TIT2" -> "title", "TPE1" -> "artist", "TALB" -> "album")

  /** H17: ID3v2.4 text-frame extraction — the metadata walk INSIDE
    * the tag H14 only hops over. After the 10-byte header ("ID3",
    * version, flags, SYNCSAFE 28-bit tag size), frames are [id(4
    * ASCII) syncsafe-size(4) flags(2) payload]; a text frame's
    * payload opens with an encoding byte (0x00 latin-1 here) then the
    * value. The walk visits ≤ [[Id3MaxFrames]] frames with every
    * frame offset/size staged as an aliased column (the H11 64 KB
    * lesson — and CodegenFallbackSpec now checks this parser at birth
    * mechanically); a frame is live iff it fits inside the declared
    * tag and its id is [A-Z0-9]{4} (padding opens with 0x00, so the
    * id test is also the padding stop). First matching frame per
    * wanted id wins, absent frames null. */
  def withId3Tags(df: DataFrame, binCol: String,
      maxFrames: Int = Id3MaxFrames): DataFrame = {
    val bin = col(binCol)
    var out = df
      .withColumn("_i3ok", Bytes.magic(bin, lit(1), "494433"))
      .withColumn("_i3end", lit(10) + Bytes.syncsafe(bin, lit(7))) // last tag byte, 1-based
      .withColumn("_fo0", lit(11))
    for (i <- 0 until maxFrames) {
      val fo = col(s"_fo$i")
      out = out
        .withColumn(s"_fid$i", bin.substr(fo, lit(4)).cast("string"))
        .withColumn(s"_fsz$i", Bytes.syncsafe(bin, fo + 4))
        // liveness = header AND declared payload fit inside the tag
        // (header-only would let a truncated tag's oversized size
        // field pull post-tag audio bytes out as frame text);
        // coalesce: a frame offset derived PAST the binary end is
        // null, and true && null = null would poison the n_frames sum
        .withColumn(s"_fok$i", coalesce(
          col("_i3ok") && fo + 9 + col(s"_fsz$i") <= col("_i3end") &&
            col(s"_fid$i").rlike("^[A-Z0-9]{4}$") && col(s"_fsz$i") > 0,
          lit(false)))
        .withColumn(s"_fo${i + 1}",
          (fo + 10 + col(s"_fsz$i")).cast("int"))
    }
    def textOf(id: String) = coalesce((0 until maxFrames).map(i =>
      when(col(s"_fok$i") && col(s"_fid$i") === id,
        // skip the encoding byte; value is the remaining size-1 bytes
        bin.substr(col(s"_fo$i") + 11, col(s"_fsz$i") - 1).cast("string"))): _*)
    val nFrames = (0 until maxFrames)
      .map(i => col(s"_fok$i").cast("int")).reduce(_ + _)
    def ifOk(c: org.apache.spark.sql.Column) = when(col("_i3ok"), c)
    out = out
      .withColumn("valid_id3", col("_i3ok").cast("int"))
      .withColumn("n_frames", ifOk(nFrames))
    for ((id, colName) <- Id3TextFrames)
      out = out.withColumn(colName, ifOk(textOf(id)))
    out.drop(Seq("_i3ok", "_i3end") ++
      (0 to maxFrames).map(i => s"_fo$i") ++
      (0 until maxFrames).flatMap(i =>
        Seq(s"_fid$i", s"_fsz$i", s"_fok$i")): _*)
  }

  /** H17 driver query: synthesize an ID3v2.4 tag per asset — TIT2 +
    * TPE1 always (ORDER swapped by doc parity to exercise the scan),
    * TALB only on doc_id % 4 != 0 (absent → null), trailing padding
    * inside the declared tag size, and every 3rd doc carries no tag
    * at all (corrupt guard). Values are formula-derived strings the
    * oracle reprints. */
  def mmId3Tags(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val hasTag = col("doc_id") % 3 =!= 0
    val hasAlb = col("doc_id") % 4 =!= 0
    val title = concat(lit("Title_"), (col("doc_id") % 50).cast("string"))
    val artist = concat(lit("Artist_"), (col("doc_id") % 20).cast("string"))
    val album = concat(lit("Album_"), (col("doc_id") % 7).cast("string"))
    def frame(id: String, v: org.apache.spark.sql.Column) = concat(
      hex(lit(id)), Bytes.syncsafeHex(length(v) + 1), lit("0000"), lit("00"), hex(v))
    val tit = frame("TIT2", title)
    val tpe = frame("TPE1", artist)
    val alb = when(hasAlb, frame("TALB", album)).otherwise(lit(""))
    val frames = concat(
      when(col("doc_id") % 2 === 0, concat(tit, tpe))
        .otherwise(concat(tpe, tit)), alb)
    val padBytes = (col("doc_id") % 9 + 1).cast("int")
    val tagSize = (length(frames) / 2).cast("int") + padBytes
    val hx = when(hasTag, concat(lit("494433" + "0400" + "00"), Bytes.syncsafeHex(tagSize),
      frames, repeat(lit("00"), padBytes))).otherwise(lit("ff00"))
    withId3Tags(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_id3", "n_frames", "title", "artist", "album")
  }

  /** H23: Standard MIDI File header parse — the "MThd" chunk is
    * all-big-endian fixed offsets (u32 length pinned to 6, u16
    * format / ntrks / division), with ONE bit-field subtlety: division
    * bit 15 selects SMPTE timing (negative frame rate + ticks) vs
    * ticks-per-quarter-note, so the raw u16 splits into a flag and a
    * 15-bit value. The first "MTrk" chunk header follows immediately
    * at byte 15 with its u32 byte length. Pure codegen'd guarded
    * projections — the PNG/GIF header shape plus the bit split. */
  def withMidiHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val magicOk = Bytes.magic(bin, lit(1), "4d546864") // MThd
    val lenOk = Bytes.be(bin, lit(5), 4) === 6
    val valid = (magicOk && lenOk).cast("int")
    def ifm(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val divRaw = Bytes.be(bin, lit(13), 2)
    val trkOk = Bytes.magic(bin, lit(15), "4d54726b") // MTrk
    df.withColumn("valid_midi", valid)
      .withColumn("format", ifm(Bytes.be(bin, lit(9), 2)))
      .withColumn("ntrks", ifm(Bytes.be(bin, lit(11), 2)))
      .withColumn("smpte", ifm(shiftright(divRaw, 15).bitwiseAND(lit(1))))
      .withColumn("division", ifm(divRaw.bitwiseAND(lit(0x7fff))))
      .withColumn("first_track_len", ifm(when(trkOk, Bytes.be(bin, lit(19), 4))))
  }

  /** H23 driver query: synthesize a 22-byte MThd+MTrk prefix per asset
    * (SMPTE flag on every 4th, corrupt magic on every 13th) and parse
    * it back from the bytes; formula oracle (mm convention). */
  def mmMidiMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 13 === 0
    val fmt = (col("doc_id") % 3).cast("int")
    val ntrks = (col("doc_id") % 15 + 1).cast("int")
    val divTicks = (col("n_chars") % 960 + 24).cast("int")
    val smpte = col("doc_id") % 4 === 0
    val divRaw = when(smpte, divTicks + 32768).otherwise(divTicks)
    val trkLen = (col("n_chars") % 4096).cast("int")
    val hx = concat(
      when(corrupt, lit("4d546900")).otherwise(lit("4d546864")),
      lit("00000006"),
      Bytes.beHex(fmt, 2), Bytes.beHex(ntrks, 2), Bytes.beHex(divRaw, 2),
      lit("4d54726b"), Bytes.beHex(trkLen, 4))
    withMidiHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_midi", "format", "ntrks", "smpte",
        "division", "first_track_len")
  }

  /** H24: PDF header/trailer scan — the document-container sibling of
    * the tar/zip/gzip trio. PDF's outer structure is TEXTUAL: a
    * "%PDF-M.m" first line, "N G obj" object openers, and a trailer
    * whose last three lines are `startxref`, the xref byte offset,
    * and `%%EOF`. This pass extracts exactly what a corpus triage
    * needs before any real PDF library runs: version, object count,
    * xref offset, trailer integrity. Regex + string ops only —
    * codegen'd, zero shuffle. */
  def withPdfInfo(df: DataFrame, strCol: String): DataFrame = {
    val s = col(strCol)
    val valid = (s.startsWith("%PDF-") && s.endsWith("%%EOF")).cast("int")
    def ifp(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val ver = regexp_extract(s, "^%PDF-(\\d\\.\\d)", 1)
    val xref = regexp_extract(s, "startxref\\n(\\d+)\\n%%EOF$", 1)
    df.withColumn("valid_pdf", valid)
      .withColumn("pdf_version", ifp(when(ver =!= "", ver)))
      .withColumn("n_objs", ifp(size(regexp_extract_all(s, lit("\\d+ \\d+ obj"), lit(0)))))
      .withColumn("startxref", ifp(when(xref =!= "", xref.cast("long"))))
  }

  /** H24 driver query: synthesize a minimal well-formed PDF per asset
    * (version 1.(doc_id%8), doc_id%6+1 objects, startxref = n_chars,
    * corrupt header on every 9th) and scan it back; formula oracle. */
  def mmPdfInfo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 9 === 0
    val nObjs = (col("doc_id") % 6 + 1).cast("int")
    val body = repeat(lit("1 0 obj\n<< >>\nendobj\n"), nObjs)
    val pdf = concat(
      when(corrupt, lit("%FDP-")).otherwise(lit("%PDF-")),
      lit("1."), (col("doc_id") % 8).cast("string"), lit("\n"),
      body,
      lit("startxref\n"), col("n_chars").cast("string"), lit("\n%%EOF"))
    withPdfInfo(d.select(col("doc_id"), pdf.as("_s")), "_s")
      .select("doc_id", "valid_pdf", "pdf_version", "n_objs", "startxref")
  }

  /** H25: SVG dimension scan — the vector-image sibling of the PDF
    * pass: SVG is XML text, and corpus triage wants width/height (or
    * the viewBox fallback when explicit dims are absent — the common
    * real-world case) without an XML parser in the hot path. Regex +
    * string ops, codegen'd, zero shuffle. */
  def withSvgDims(df: DataFrame, strCol: String): DataFrame = {
    val s = col(strCol)
    val valid = s.contains("<svg").cast("int")
    def ifv(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    def num(re: String) = {
      val m = regexp_extract(s, re, 1)
      when(m =!= "", m.cast("int"))
    }
    df.withColumn("valid_svg", valid)
      .withColumn("width", ifv(num("width=\"(\\d+)\"")))
      .withColumn("height", ifv(num("height=\"(\\d+)\"")))
      .withColumn("vb_w", ifv(num("viewBox=\"\\d+ \\d+ (\\d+) \\d+\"")))
      .withColumn("vb_h", ifv(num("viewBox=\"\\d+ \\d+ \\d+ (\\d+)\"")))
  }

  /** H25 driver query: synthesize an SVG per asset — explicit dims on
    * even docs, viewBox-only on odd (the parser must fall through),
    * corrupt on every 11th; formula oracle. */
  def mmSvgDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 11 === 0
    val w = (col("n_chars") % 1200 + 1).cast("int")
    val h = (col("doc_id") % 800 + 1).cast("int")
    val explicitDims = col("doc_id") % 2 === 0
    val svg = concat(lit("<svg xmlns=\"http://www.w3.org/2000/svg\""),
      when(explicitDims,
        concat(lit(" width=\""), w, lit("\" height=\""), h, lit("\""))).otherwise(lit("")),
      lit(" viewBox=\"0 0 "), w, lit(" "), h, lit("\"><rect/></svg>"))
    val payload = when(corrupt, lit("<xml>not a vector</xml>")).otherwise(svg)
    withSvgDims(d.select(col("doc_id"), payload.as("_s")), "_s")
      .select(col("doc_id"), col("valid_svg"), col("width"), col("height"),
        coalesce(col("width"), col("vb_w")).as("eff_w"),
        coalesce(col("height"), col("vb_h")).as("eff_h"))
  }

  /** H30: Zstandard frame-header parse (RFC 8878 §3.1.1) — the
    * compression envelope modern web-crawl corpora actually ship in
    * (.warc.zst / .jsonl.zst), the way A13 ships gzip. Reads the
    * little-endian magic 0xFD2FB528, the Frame_Header_Descriptor bit
    * field (Frame_Content_Size width, Single_Segment, Content_Checksum,
    * Dictionary_ID width), the Window_Descriptor's exponent/mantissa
    * window size (absent when Single_Segment — the content size IS the
    * window then), the optional dictionary id, and the
    * Frame_Content_Size at its flag-dependent width (the 2-byte form
    * carries value−256 per spec). Why it matters at scale: the window
    * size bounds decompressor memory per split and the dictionary id
    * tells a 1000-executor scan which shared dictionary to broadcast
    * BEFORE any bytes are decoded; content size enables exact output
    * pre-allocation. Pure codegen'd projection, no UDF, no shuffle. */
  def withZstdHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "28b52ffd").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val fhd = Bytes.u8(bin, lit(5))
    val fcsFlag = shiftright(fhd, 6).bitwiseAND(3)
    val singleSeg = shiftright(fhd, 5).bitwiseAND(1)
    val checksum = shiftright(fhd, 2).bitwiseAND(1)
    val dictFlag = fhd.bitwiseAND(3)
    val dictBytes = when(dictFlag === 3, 4).otherwise(dictFlag)
    // window descriptor (1 byte) present only when NOT single-segment
    val wdOff = lit(6)
    val wd = Bytes.u8(bin, wdOff)
    val wExp = shiftright(wd, 3)
    val wMant = wd.bitwiseAND(7)
    // 2^(10+exp) is exact in a double up to exp 43 — far past the
    // spec's cap — so the pow→long cast is bit-exact
    val wBase = pow(lit(2.0), (wExp + 10).cast("double")).cast("long")
    val dictOff = wdOff + (lit(1) - singleSeg)
    val fcsOff = dictOff + dictBytes
    val dictId = when(dictFlag === 1, Bytes.u8(bin, dictOff).cast("long"))
      .when(dictFlag === 2, Bytes.le(bin, dictOff, 2).cast("long"))
      .when(dictFlag === 3, Bytes.le(bin, dictOff, 4))
    val contentSize =
      when(fcsFlag === 0 && singleSeg === 1, Bytes.u8(bin, fcsOff).cast("long"))
      .when(fcsFlag === 1, Bytes.le(bin, fcsOff, 2).cast("long") + 256L)
      .when(fcsFlag === 2, Bytes.le(bin, fcsOff, 4))
      .when(fcsFlag === 3, Bytes.le(bin, fcsOff, 8))
    df.withColumn("valid_zstd", valid)
      .withColumn("single_segment", ifOk(singleSeg))
      .withColumn("has_checksum", ifOk(checksum))
      // single-segment frames have no window field: window = content
      .withColumn("window_size", ifOk(when(singleSeg === 1, contentSize)
        .otherwise(wBase + shiftright(wBase, 3) * wMant)))
      .withColumn("dict_id", ifOk(dictId))
      .withColumn("content_size", ifOk(contentSize))
  }

  /** H30 driver query: synthesize a zstd frame header per asset —
    * a single-segment leg (1-byte content size, no window field), a
    * checksummed 2-byte-FCS leg (content = u16+256, real window
    * descriptor), and a dictionary leg (2-byte dict id, no content
    * size); every 7th doc corrupt (wrong magic → all fields null).
    * Parsed back from the BYTES; formula oracle. */
  def mmZstdMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 7 === 0
    val leg = col("doc_id") % 3
    val fhdHex = when(leg === 0, lit("20")) // single-segment, 1-byte FCS
      .when(leg === 1, lit("44"))           // 2-byte FCS + checksum
      .otherwise(lit("02"))                 // 2-byte dict id, no FCS
    val wExp = when(leg === 1, col("n_chars") % 12).otherwise(col("doc_id") % 10)
    val wMant = when(leg === 1, col("doc_id") % 8).otherwise(lit(0))
    val wdHex = when(leg === 0, lit("")).otherwise(Bytes.beHex(wExp * 8 + wMant, 1))
    val fcs1 = col("doc_id") % 200 + 10
    val fcs2 = col("n_chars") % 60000
    val dictU16 = col("doc_id") % 65536
    val tailHex = when(leg === 0, Bytes.beHex(fcs1, 1))
      .when(leg === 1, Bytes.leHex(fcs2, 2))
      .otherwise(Bytes.leHex(dictU16, 2))
    val hx = concat(
      when(corrupt, lit("28b52ffe")).otherwise(lit("28b52ffd")),
      fhdHex, wdHex, tailHex,
      lit("00")) // first block header byte (elided)
    withZstdHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_zstd", "single_segment", "has_checksum",
        "window_size", "dict_id", "content_size")
  }

  /** H31: LZ4 frame-header parse (frame format spec v1.6.1) — the
    * other codec envelope large corpora ship in (and the one whose
    * BLOCK INDEPENDENCE flag decides whether a 100 TB scan can split a
    * frame across executors at all: dependent blocks force sequential
    * decode). Reads the little-endian magic 0x184D2204, the FLG bit
    * field (version must be 01; block-independence, block-checksum,
    * content-size, content-checksum, dict-id flags), the BD byte's
    * block-max-size code (4→64 KB … 7→4 MB), then the optional u64le
    * content size and u32le dictionary id at their flag-dependent
    * offsets. The trailing header-checksum byte (xxh32 slice) is
    * hopped over, not validated — no xxh32 exists in-plan, and the
    * magic+version+reserved-bit checks already reject non-LZ4 bytes. */
  def withLz4Header(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flg = Bytes.u8(bin, lit(5))
    val version = shiftright(flg, 6).bitwiseAND(3)
    val valid = (Bytes.magic(bin, lit(1), "04224d18") &&
      version === 1).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val bIndep = shiftright(flg, 5).bitwiseAND(1)
    val bChecksum = shiftright(flg, 4).bitwiseAND(1)
    val hasCSize = shiftright(flg, 3).bitwiseAND(1)
    val cChecksum = shiftright(flg, 2).bitwiseAND(1)
    val hasDict = flg.bitwiseAND(1)
    val bmaxCode = shiftright(Bytes.u8(bin, lit(6)), 4).bitwiseAND(7)
    val bmaxKb = when(bmaxCode === 4, 64).when(bmaxCode === 5, 256)
      .when(bmaxCode === 6, 1024).when(bmaxCode === 7, 4096)
    val csOff = lit(7)
    val contentSize = when(hasCSize === 1, Bytes.le(bin, csOff, 8))
    val dictOff = csOff + hasCSize * 8
    val dictId = when(hasDict === 1, Bytes.le(bin, dictOff, 4))
    df.withColumn("valid_lz4", valid)
      .withColumn("block_indep", ifOk(bIndep))
      .withColumn("block_checksum", ifOk(bChecksum))
      .withColumn("content_checksum", ifOk(cChecksum))
      .withColumn("block_max_kb", ifOk(bmaxKb))
      .withColumn("content_size", ifOk(contentSize))
      .withColumn("dict_id", ifOk(dictId))
  }

  /** H31 driver query: synthesize an LZ4 frame header per asset — a
    * splittable leg (block-independent + content size, 64-256 KB
    * blocks), a streaming leg (block+content checksums, 4 MB blocks,
    * no size), and a dictionary leg (dict id + content size); every
    * 8th doc corrupt (wrong magic). Formula oracle. */
  def mmLz4Meta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 8 === 0
    val leg = col("doc_id") % 3
    val flgHex = when(leg === 0, lit("68")) // v1, indep, content size
      .when(leg === 1, lit("54"))           // v1, blk+content checksums
      .otherwise(lit("49"))                 // v1, content size + dict id
    val bdHex = when(leg === 0, Bytes.beHex((col("doc_id") % 2 + 4) * 16, 1))
      .when(leg === 1, lit("70")).otherwise(lit("50"))
    val cs0 = col("n_chars") % 100000 + 5
    val cs2 = col("n_chars") % 1000 + 1
    val dictU32 = col("doc_id") % 100000
    val tailHex = when(leg === 0, Bytes.leHex(cs0, 8))
      .when(leg === 1, lit(""))
      .otherwise(concat(Bytes.leHex(cs2, 8), Bytes.leHex(dictU32, 4)))
    val hx = concat(
      when(corrupt, lit("04224d19")).otherwise(lit("04224d18")),
      flgHex, bdHex, tailHex,
      lit("a5")) // header-checksum byte (hopped, not validated)
    withLz4Header(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_lz4", "block_indep", "block_checksum",
        "content_checksum", "block_max_kb", "content_size", "dict_id")
  }

  /** H32: SQLite main-database header parse (the 100-byte header of
    * file-format 3) — SQLite files are a real corpus modality (app
    * exports, telemetry dumps, WhatsApp/Chrome artifacts in crawl
    * data). Reads the 16-byte magic "SQLite format 3\0", the BE u16
    * page size at offset 17 (value 1 means 65536 — the one special
    * case), file-format write/read versions, the BE u32 page count at
    * offset 29, the text encoding code at offset 57 (1 UTF-8 /
    * 2 UTF-16le / 3 UTF-16be), and derives the database size in bytes
    * (pages × page size). Pure codegen'd projection. */
  def withSqliteHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val valid = Bytes.magic(bin, lit(1), "53514c69746520666f726d6174203300").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val rawPs = Bytes.be(bin, lit(17), 2)
    val pageSize = when(rawPs === 1, 65536).otherwise(rawPs)
    val nPages = Bytes.be(bin, lit(29), 4)
    val encCode = Bytes.be(bin, lit(57), 4)
    df.withColumn("valid_sqlite", valid)
      .withColumn("page_size", ifOk(pageSize))
      .withColumn("write_version",
        ifOk(when(Bytes.u8(bin, lit(19)) === 2, "wal").otherwise("legacy")))
      .withColumn("n_pages", ifOk(nPages))
      .withColumn("encoding", ifOk(when(encCode === 1, "utf8")
        .when(encCode === 2, "utf16le").when(encCode === 3, "utf16be")
        .otherwise("unknown")))
      .withColumn("db_bytes", ifOk(nPages * pageSize.cast("long")))
  }

  /** H32 driver query: synthesize a SQLite header per asset — legacy
    * and WAL legs, the page-size=1→65536 special case on every 5th
    * doc, UTF-8/16 encodings; every 9th corrupt. Formula oracle. */
  def mmSqliteMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 9 === 0
    val big = col("doc_id") % 5 === 0
    // page sizes are powers of two 512..32768; the big leg writes the
    // literal 1 that means 65536
    val psExp = col("doc_id") % 7 + 9                  // 2^9..2^15
    val ps = pow(lit(2.0), psExp.cast("double")).cast("int")
    val psField = when(big, lit(1)).otherwise(ps)
    val wal = col("doc_id") % 2 === 0
    val verHex = when(wal, lit("0202")).otherwise(lit("0101"))
    val nPages = col("n_chars") % 100000 + 1
    val enc = col("doc_id") % 3 + 1
    val hx = concat(
      when(corrupt, lit("53514c69746520666f726d6174203200"))
        .otherwise(lit("53514c69746520666f726d6174203300")),
      Bytes.beHex(psField, 2), verHex,
      lit("00" * 4),                     // reserved + payload fractions
      Bytes.beHex(lit(7), 4),            // change counter (offset 24)
      Bytes.beHex(nPages, 4),            // db size in pages (offset 28)
      lit("00" * 24),                    // freelist/schema fields
      Bytes.beHex(enc, 4))               // text encoding (offset 56)
    withSqliteHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_sqlite", "page_size", "write_version",
        "n_pages", "encoding", "db_bytes")
  }

  /** H33: pcap global-header parse — packet captures are the other
    * binary stream a data platform ingests at bulk, and the format's
    * magic IS its byte-order probe: 0xa1b2c3d4 read as LE means the
    * writer was big-endian (fields need BE reads) and vice versa, so
    * like the H28 ELF parser every field read dispatches endianness
    * PER ROW. The 0xa1b23c4d magic variant flags nanosecond
    * timestamps. Reads version, snaplen, and the LINKTYPE_* id. */
  def withPcapHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val m = Bytes.hexAt(bin, lit(1), 4)
    // file bytes d4c3b2a1 = a LITTLE-endian writer of magic 0xa1b2c3d4
    val isLe = m === "d4c3b2a1" || m === "4d3cb2a1"
    val isNs = m === "a1b23c4d" || m === "4d3cb2a1"
    val valid = (isLe || m === "a1b2c3d4" || m === "a1b23c4d").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val link = Bytes.uint(bin, lit(21), 4, isLe)
    df.withColumn("valid_pcap", valid)
      .withColumn("byte_order", ifOk(when(isLe, "le").otherwise("be")))
      .withColumn("ts_resolution", ifOk(when(isNs, "ns").otherwise("us")))
      .withColumn("version",
        ifOk(concat(Bytes.uint(bin, lit(5), 2, isLe).cast("string"), lit("."),
          Bytes.uint(bin, lit(7), 2, isLe).cast("string"))))
      .withColumn("snaplen", ifOk(Bytes.uint(bin, lit(17), 4, isLe)))
      .withColumn("linktype", ifOk(link.try_cast("int")))
      .withColumn("link_name", ifOk(when(link === 1, "ethernet")
        .when(link === 101, "raw_ip").when(link === 105, "ieee802_11")
        .when(link === 113, "linux_sll").otherwise("other")))
  }

  /** H33 driver query: synthesize a pcap global header per asset —
    * LE-µs, BE-µs, and LE-ns legs (the magic byte-order probe), a
    * linktype cycle over the common ids; every 10th corrupt. */
  def mmPcapMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 10 === 0
    val leg = col("doc_id") % 3
    val isLe = leg =!= 1
    val magic = when(corrupt, lit("a1b2c3d5"))
      .when(leg === 0, lit("d4c3b2a1"))   // LE writer, µs
      .when(leg === 1, lit("a1b2c3d4"))   // BE writer, µs
      .otherwise(lit("4d3cb2a1"))         // LE writer, ns
    val snap = col("n_chars") % 65536 + 64
    val linkIds = Seq(1, 101, 105, 113, 228)
    val link = element_at(typedLit(linkIds), (col("doc_id") % linkIds.size + 1).cast("int"))
    val hx = concat(magic,
      Bytes.hexField(lit(2), 2, isLe), Bytes.hexField(lit(4), 2, isLe), // version 2.4
      Bytes.hexField(lit(0), 4, isLe), Bytes.hexField(lit(0), 4, isLe), // thiszone, sigfigs
      Bytes.hexField(snap, 4, isLe), Bytes.hexField(link, 4, isLe))
    withPcapHeader(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_pcap", "byte_order", "ts_resolution",
        "version", "snaplen", "linktype", "link_name")
  }

  /** H34: parquet envelope parse — 'PAR1' at both ends, the LE u32
    * footer length 8 bytes from the tail. Self-referential but
    * practical: this is the FIRST read any parquet consumer performs
    * (two seeks), and the footer_fits flag (footer + trailer within
    * the file) is the standard truncated-upload detector a lake's
    * quarantine step runs before handing files to a real reader
    * (K30 then audits the footer's row groups). */
  def withParquetTrailer(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin)
    val valid = (Bytes.magic(bin, lit(1), "50415231") &&
      Bytes.magic(bin, flen - 3, "50415231") &&
      flen >= 12).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val footerLen = Bytes.le(bin, flen - 7, 4)
    df.withColumn("valid_parquet", valid)
      .withColumn("file_bytes", ifOk(flen.cast("long")))
      .withColumn("footer_len", ifOk(footerLen))
      // footer + 8-byte trailer + 4-byte header magic must fit
      .withColumn("footer_fits",
        ifOk((footerLen + 12L <= flen.cast("long")).cast("int")))
  }

  /** H34 driver query: synthesize a parquet envelope per asset —
    * honest leg (declared footer covers the filler), truncated leg on
    * every 4th doc (declared footer larger than the file — the
    * interrupted-upload signature), corrupt tail magic every 6th. */
  def mmParquetMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 6 === 0
    val truncated = col("doc_id") % 4 === 0
    val fill = (col("doc_id") % 19 + 1).cast("int")
    val declared = when(truncated, fill + lit(1000)).otherwise(fill)
    val hx = concat(
      lit("50415231"),
      repeat(lit("00"), fill),
      Bytes.leHex(declared, 4),
      when(corrupt, lit("50415232")).otherwise(lit("50415231")))
    withParquetTrailer(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_parquet", "file_bytes", "footer_len",
        "footer_fits")
  }

  /** Max records the TFRecord walk visits. */
  val TfMaxRecords = 4

  /** H35: TFRecord envelope scan — THE classic training-data
    * container (TensorFlow's length-delimited record stream): each
    * record is [u64le length][u32 masked-crc of length][payload]
    * [u32 masked-crc of payload]. The walk hops ≤ [[TfMaxRecords]]
    * records with every offset an ALIASED column (the 64 KB codegen
    * discipline), counting records and payload bytes and flagging
    * TRUNCATION (a declared length running past the file — the
    * interrupted-shard signature, the H34 footer_fits idea at record
    * grain). CRCs are hopped, not verified (no crc32c in-plan);
    * the magic-less format means validity is structural: the first
    * record must fit. */
  def withTfRecords(df: DataFrame, binCol: String,
      maxRecords: Int = TfMaxRecords): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    // record offsets stay int: the next one is taken only after a record
    // that fits, so it never passes flen + 1
    var out = df.withColumn("_o1", lit(1))
    for (i <- 1 to maxRecords) {
      val o = col(s"_o$i")
      out = out
        .withColumn(s"_len$i", Bytes.le(bin, o, 8))
        // the length field itself is readable
        .withColumn(s"_hdr$i", coalesce(o + 7L <= flen, lit(false)))
        // the record is live iff its FULL envelope fits
        .withColumn(s"_ok$i", coalesce(
          col(s"_hdr$i") && col(s"_len$i") <= flen - o - 15L, lit(false)))
        // readable header whose envelope does NOT fit = truncation
        .withColumn(s"_tr$i", col(s"_hdr$i") && !col(s"_ok$i"))
        .withColumn(s"_o${i + 1}",
          when(col(s"_ok$i"), (o + 16L + col(s"_len$i")).cast("int")))
    }
    val nRec = (1 to maxRecords).map(i => col(s"_ok$i").cast("int")).reduce(_ + _)
    val payload = (1 to maxRecords)
      .map(i => when(col(s"_ok$i"), col(s"_len$i")).otherwise(0L)).reduce(_ + _)
    val truncated = (1 to maxRecords).map(i => col(s"_tr$i")).reduce(_ || _)
    out
      .withColumn("valid_tfrecord", col("_ok1").cast("int"))
      .withColumn("n_records", when(col("_ok1"), nRec))
      .withColumn("payload_bytes", when(col("_ok1"), payload))
      .withColumn("first_len", when(col("_ok1"), col("_len1")))
      .withColumn("truncated", when(col("_ok1"), truncated.cast("int")))
      .drop((1 to maxRecords + 1).map(i => s"_o$i") ++
        (1 to maxRecords).flatMap(i =>
          Seq(s"_len$i", s"_hdr$i", s"_ok$i", s"_tr$i")): _*)
  }

  /** H35 driver query: synthesize a TFRecord shard per asset — two
    * full records plus a third present on doc_id % 3 != 0; every 5th
    * doc TRUNCATES the last record's payload (declared length runs
    * past the file), every 9th doc is an empty/garbage shard (first
    * header does not fit). Formula oracle. */
  def mmTfrecordMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val hasThird = col("doc_id") % 3 =!= 0
    val l1 = (col("doc_id") % 40 + 1).cast("int")
    val l2 = (col("n_chars") % 60 + 1).cast("int")
    val l3 = (col("doc_id") % 20 + 1).cast("int")
    def rec(len: org.apache.spark.sql.Column,
        cut: org.apache.spark.sql.Column) = concat(
      Bytes.leHex(len, 8), lit("aabbccdd"),       // masked len crc (hopped)
      repeat(lit("00"), greatest(len - cut, lit(0)).cast("int")),
      when(cut > 0, lit("")).otherwise(lit("eeff0011"))) // data crc unless cut
    val full = concat(
      rec(l1, lit(0)), rec(l2, lit(0)),
      when(hasThird && !truncate, rec(l3, lit(0)))
        // the truncated leg declares l3 but ships half the payload
        .when(hasThird && truncate, rec(l3, shiftright(l3, 1) + 1))
        .otherwise(lit("")))
    val hx = when(garbage, lit("0102030405")).otherwise(full)
    withTfRecords(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_tfrecord", "n_records", "payload_bytes",
        "first_len", "truncated")
  }

  /** H36: safetensors header parse — the de-facto tensor-weights
    * container of the LLM ecosystem (huggingface/safetensors README:
    * `[u64le header_len][header_len bytes of JSON][tensor data]`).
    * The JSON header maps tensor names to dtype/shape/data_offsets;
    * everything a shard auditor needs — tensor count, dtypes, declared
    * data extent vs actual file size (the interrupted-download
    * signature) — reads from the header without touching a single
    * tensor byte. Field extraction uses get_json_object (a codegen'd
    * expression in Spark 4, verified non-fallback by
    * CodegenFallbackSpec); the staged _hlen/_json aliases keep the
    * plan linear (the H5 64 KB discipline). Per-row work only, zero
    * shuffle at any scale. */
  def withSafetensors(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    val out = df
      .withColumn("_hlen", Bytes.le(bin, lit(1), 8))
      .withColumn("_jok", coalesce(
        col("_hlen") > 0L && col("_hlen") <= flen - 8L, lit(false)))
      .withColumn("_json", when(col("_jok"),
        bin.substr(lit(9), col("_hlen").cast("int")).cast("string")))
    val json = col("_json")
    val valid = (col("_jok") && substring(json, 1, 1) === "{").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    out
      .withColumn("valid_st", valid)
      .withColumn("header_len", ifOk(col("_hlen")))
      // every tensor entry carries exactly one "dtype" key;
      // __metadata__ carries none — occurrence count IS tensor count
      .withColumn("n_tensors", ifOk(
        ((length(json) - length(replace(json, lit("\"dtype\"")))) / 7)
          .cast("int")))
      .withColumn("dtype", ifOk(get_json_object(json, "$.w.dtype")))
      .withColumn("t_rows", ifOk(
        get_json_object(json, "$.w.shape[0]").try_cast("int")))
      .withColumn("t_cols", ifOk(
        get_json_object(json, "$.w.shape[1]").try_cast("int")))
      .withColumn("declared_bytes", ifOk(greatest(
        coalesce(get_json_object(json, "$.w.data_offsets[1]").try_cast("long"), lit(0L)),
        coalesce(get_json_object(json, "$.b.data_offsets[1]").try_cast("long"), lit(0L)))))
      .withColumn("truncated", ifOk(
        (col("declared_bytes") > flen - 8L - col("_hlen")).cast("int")))
      .drop("_hlen", "_jok", "_json")
  }

  /** H36 driver query: synthesize a safetensors shard per asset — a
    * 2-d "w" tensor (dims from metadata, dtype cycling F32/F16/BF16),
    * a 1-d "b" tensor on even doc_ids, real data_offsets, and a
    * __metadata__ block (which must NOT count as a tensor); every 5th
    * doc ships only half the declared tensor bytes (truncation),
    * every 9th declares a header that overruns the file (invalid).
    * The oracle rebuilds the SAME JSON text and measures it, so the
    * u64 length read, the JSON slice, and every extracted field are
    * value-checked. */
  def mmSafetensorsMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val hasB = col("doc_id") % 2 === 0
    val r = (col("n_chars") % 16 + 1).cast("int")
    val c = (col("doc_id") % 8 + 1).cast("int")
    val dt = when(col("doc_id") % 3 === 0, "F32")
      .when(col("doc_id") % 3 === 1, "F16").otherwise("BF16")
    val isz = when(col("doc_id") % 3 === 0, 4).otherwise(2)
    val e1 = (r * c * isz).cast("long")
    val e2 = e1 + (c * isz).cast("long")
    val json = concat(
      lit("{\"__metadata__\":{\"format\":\"pt\"},\"w\":{\"dtype\":\""), dt,
      lit("\",\"shape\":["), r.cast("string"), lit(","), c.cast("string"),
      lit("],\"data_offsets\":[0,"), e1.cast("string"), lit("]}"),
      when(hasB, concat(
        lit(",\"b\":{\"dtype\":\""), dt,
        lit("\",\"shape\":["), c.cast("string"),
        lit("],\"data_offsets\":["), e1.cast("string"), lit(","),
        e2.cast("string"), lit("]}"))).otherwise(lit("")),
      lit("}"))
    val declared = when(hasB, e2).otherwise(e1)
    val avail = when(truncate, shiftright(declared, 1)).otherwise(declared)
    val bin = when(garbage, unhex(lit("ffffffff0000000000")))
      .otherwise(concat(
        unhex(Bytes.leHex(length(json), 8)),
        encode(json, "UTF-8"),
        unhex(repeat(lit("00"), avail.cast("int")))))
    withSafetensors(d.select(col("doc_id"), bin.as("_bin")), "_bin")
      .select("doc_id", "valid_st", "header_len", "n_tensors", "dtype",
        "t_rows", "t_cols", "declared_bytes", "truncated")
  }

  /** H37: NumPy .npy header parse (the npy format spec, v1.0): magic
    * \x93NUMPY, u8 major/minor, u16le header_len, then an ASCII
    * Python-dict header `{'descr': '<f4', 'fortran_order': False,
    * 'shape': (3, 4), }` space-padded so data starts 16-byte-aligned.
    * descr/fortran_order/shape extract with codegen'd regexes; the
    * declared data extent (Π shape × itemsize from descr) against the
    * actual file length is the truncation signature, and the
    * alignment of 10+header_len is re-checked (a mis-padded writer
    * breaks mmap'd readers). */
  def withNpyHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    val valid = (Bytes.magic(bin, lit(1), "934e554d5059") &&
      Bytes.u8(bin, lit(7)) === 1).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val out = df
      .withColumn("_vnpy", valid)
      .withColumn("_hlen", Bytes.le(bin, lit(9), 2))
      .withColumn("_hdr", when(col("_vnpy") === 1,
        bin.substr(lit(11), col("_hlen")).cast("string")))
      .withColumn("_descr",
        regexp_extract(col("_hdr"), "'descr': '([^']+)'", 1))
      .withColumn("_tup",
        regexp_extract(col("_hdr"), "'shape': \\(([0-9, ]*)\\)", 1))
    val d1 = nullif(regexp_extract(col("_tup"), "^([0-9]+)", 1), lit("")).try_cast("long")
    val d2 = nullif(regexp_extract(col("_tup"), ", ([0-9]+)", 1), lit("")).try_cast("long")
    val isz = nullif(regexp_extract(col("_descr"), "([0-9]+)", 1), lit("")).try_cast("int")
    // an extent past Long.MaxValue is null, not an overflow error
    val dataBytes = try_multiply(try_multiply(d1, coalesce(d2, lit(1L))), isz)
    out
      .withColumn("valid_npy", col("_vnpy"))
      .withColumn("header_len", ifOk(col("_hlen")))
      .withColumn("descr", ifOk(col("_descr")))
      .withColumn("fortran_order", ifOk(
        col("_hdr").contains("'fortran_order': True").cast("int")))
      .withColumn("ndim", ifOk(when(d2.isNotNull, 2).otherwise(1)))
      .withColumn("d1", ifOk(d1))
      .withColumn("d2", ifOk(d2))
      .withColumn("data_bytes", ifOk(dataBytes))
      .withColumn("truncated", ifOk(
        (lit(10L) + col("_hlen") + dataBytes > flen).cast("int")))
      .withColumn("aligned", ifOk(
        ((lit(10) + col("_hlen")) % 16 === 0).cast("int")))
      .drop("_vnpy", "_hlen", "_hdr", "_descr", "_tup")
  }

  /** H37 driver query: synthesize a .npy per asset — descr cycling
    * <f4/<f8/<i8, fortran_order True every 7th, 1-d shape `(N,)` on
    * doc_id%4==0 else 2-d `(R, C)`, header space-padded to the real
    * 16-byte alignment rule; every 5th doc ships half the data bytes
    * (truncation), every 9th has a corrupt magic. The oracle rebuilds
    * the dict text and the padding arithmetic, so the u16 length
    * read, the regex field extraction, and the alignment check are
    * all value-checked. */
  def mmNpyMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val oneD = col("doc_id") % 4 === 0
    val n = (col("n_chars") % 100 + 1).cast("int")
    val r = (col("n_chars") % 16 + 1).cast("int")
    val c = (col("doc_id") % 8 + 1).cast("int")
    val descr = when(col("doc_id") % 3 === 0, "<f4")
      .when(col("doc_id") % 3 === 1, "<f8").otherwise("<i8")
    val isz = when(col("doc_id") % 3 === 0, 4).otherwise(8)
    val ft = when(col("doc_id") % 7 === 0, "True").otherwise("False")
    val shp = when(oneD, concat(lit("("), n.cast("string"), lit(",)")))
      .otherwise(concat(lit("("), r.cast("string"), lit(", "),
        c.cast("string"), lit(")")))
    val dict = concat(lit("{'descr': '"), descr,
      lit("', 'fortran_order': "), ft, lit(", 'shape': "), shp, lit(", }"))
    // pad so 10 + header_len ≡ 0 (mod 16); header ends with \n
    val rawLen = length(dict) + 1
    val pad = (lit(16) - (lit(10) + rawLen) % 16) % 16
    val header = concat(dict, repeat(lit(" "), pad), lit("\n"))
    val nElems = when(oneD, n.cast("long")).otherwise((r * c).cast("long"))
    val dataBytes = nElems * isz
    val avail = when(truncate, shiftright(dataBytes, 1)).otherwise(dataBytes)
    val bin = when(garbage, unhex(lit("deadbeef00000000000000")))
      .otherwise(concat(
        unhex(concat(lit("934e554d5059" + "0100"), Bytes.leHex(length(header), 2))),
        encode(header, "UTF-8"),
        unhex(repeat(lit("00"), avail.cast("int")))))
    withNpyHeader(d.select(col("doc_id"), bin.as("_bin")), "_bin")
      .select("doc_id", "valid_npy", "header_len", "descr",
        "fortran_order", "ndim", "d1", "d2", "data_bytes", "truncated",
        "aligned")
  }

  /** H38: GGUF header parse (ggml's gguf.md spec) — the quantized-
    * model container of the llama.cpp ecosystem: magic "GGUF", u32le
    * version, u64le tensor_count, u64le metadata_kv_count, then KV
    * records of [u64le key_len][key][u32le value_type][value]. The
    * walk reads the counts and the FIRST KV (conventionally
    * general.architecture, a string — value type 8: u64le len +
    * bytes), guarding every hop against the file end: a declared
    * key_len running past the file is the truncated-pull signature.
    * All offsets past the fixed 32-byte header are ALIASED columns
    * (the 64 KB discipline). */
  def withGgufHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    val valid = Bytes.magic(bin, lit(1), "47475546").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val out = df
      .withColumn("_vg", valid)
      .withColumn("_klen", Bytes.le(bin, lit(25), 8))
      .withColumn("_kok", coalesce(
        col("_vg") === 1 && col("_klen") <= flen - 44L, lit(false)))
      .withColumn("_vlen",
        when(col("_kok"), Bytes.le(bin, (lit(37L) + col("_klen")).cast("int"), 8)))
    out
      .withColumn("valid_gguf", col("_vg"))
      .withColumn("version", ifOk(Bytes.le(bin, lit(5), 4).try_cast("int")))
      .withColumn("n_tensors", ifOk(Bytes.le(bin, lit(9), 8)))
      .withColumn("n_kv", ifOk(Bytes.le(bin, lit(17), 8)))
      .withColumn("key_len", ifOk(col("_klen")))
      .withColumn("first_key", when(col("_kok"),
        bin.substr(lit(33), col("_klen").cast("int")).cast("string")))
      .withColumn("value_type", when(col("_kok"),
        Bytes.le(bin, (lit(33L) + col("_klen")).cast("int"), 4).try_cast("int")))
      .withColumn("architecture", when(
        col("_kok") && col("value_type") === 8 &&
          col("_vlen") <= flen - 44L - col("_klen"),
        bin.substr((lit(45L) + col("_klen")).cast("int"),
          col("_vlen").cast("int")).cast("string")))
      .withColumn("truncated", ifOk((!col("_kok")).cast("int")))
      .drop("_vg", "_klen", "_kok", "_vlen")
  }

  /** H38 driver query: synthesize a GGUF prefix per asset — version 3
    * (2 every 4th doc), tensor/KV counts from metadata, first KV
    * "general.architecture" = llama/gpt2/bert cycling; every 5th doc
    * cuts the key mid-bytes (declared key_len overruns — truncated),
    * every 9th has a corrupt magic. Formula oracle. */
  def mmGgufMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val version = when(col("doc_id") % 4 === 0, 2).otherwise(3)
    val nT = (col("doc_id") % 5).cast("long")
    val nKv = (col("doc_id") % 7 + 1).cast("long")
    val arch = when(col("doc_id") % 3 === 0, "llama")
      .when(col("doc_id") % 3 === 1, "gpt2").otherwise("bert")
    val key = lit("general.architecture") // 20 bytes
    val fullTail = concat(
      unhex(Bytes.leHex(lit(20), 8)), encode(key, "UTF-8"),
      unhex(concat(Bytes.leHex(lit(8), 4), Bytes.leHex(length(arch), 8))),
      encode(arch, "UTF-8"))
    val cutTail = concat(unhex(Bytes.leHex(lit(20), 8)),
      encode(substring(key, 1, 10), "UTF-8"))
    val bin = when(garbage, unhex(lit("deadbeef")))
      .otherwise(concat(
        unhex(concat(lit("47475546"), Bytes.leHex(version, 4),
          Bytes.leHex(nT, 8), Bytes.leHex(nKv, 8))),
        when(truncate, cutTail).otherwise(fullTail)))
    withGgufHeader(d.select(col("doc_id"), bin.as("_bin")), "_bin")
      .select("doc_id", "valid_gguf", "version", "n_tensors", "n_kv",
        "key_len", "first_key", "value_type", "architecture", "truncated")
  }

  /** H39: Avro Object Container File header parse — magic "Obj\x01",
    * then the file-metadata map: a zigzag-varint entry count followed
    * by (varint-length string key, varint-length bytes value) pairs.
    * This is the first REAL varint decoding in the H family: each
    * field reads 1 continuation-bit-dispatched little-endian 7-bit
    * group pair (values here fit 2 bytes; a declared length needing
    * more is flagged, not mis-read), zigzag-decoded via a right
    * shift. The walk reads the entry count, the first key (the Avro
    * convention puts avro.codec / avro.schema here), its value when
    * it is the codec, and the second key's declared length vs the
    * file end (truncation). Every offset is an ALIASED column. */
  def withAvroHeader(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    // zigzag varint at a column offset: value and its encoded width
    def vint(off: org.apache.spark.sql.Column)
        : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val b0 = Bytes.u8(bin, off.cast("int"))
      val b1 = Bytes.u8(bin, (off + 1).cast("int"))
      val raw = when(b0 < 128, b0)
        .otherwise((b0.bitwiseAND(lit(127L))) + b1 * 128L)
      // zigzag: positive n encodes as 2n — decode is a halving
      (shiftright(raw, 1), when(b0 < 128, 1L).otherwise(2L))
    }
    val valid = Bytes.magic(bin, lit(1), "4f626a01").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val (nMeta, w0) = vint(lit(5L))
    val out0 = df
      .withColumn("_v", valid)
      .withColumn("_n", nMeta)
      .withColumn("_o1", lit(5L) + w0)
    val (k1len, w1) = vint(col("_o1"))
    val out1 = out0
      .withColumn("_k1len", k1len)
      .withColumn("_k1off", col("_o1") + w1)
      .withColumn("_k1ok", coalesce(
        col("_v") === 1 && col("_k1off") + col("_k1len") - 1L <= flen,
        lit(false)))
    val (v1len, w2) = vint(col("_k1off") + col("_k1len"))
    val out2 = out1
      .withColumn("_v1len", when(col("_k1ok"), v1len))
      .withColumn("_v1off", col("_k1off") + col("_k1len") + w2)
    val (k2len, w3) = vint(col("_v1off") + col("_v1len"))
    val out3 = out2
      .withColumn("_k2len", when(col("_k1ok"), k2len))
      .withColumn("_k2off", col("_v1off") + col("_v1len") + w3)
    val key1 = when(col("_k1ok"),
      bin.substr(col("_k1off").cast("int"), col("_k1len").cast("int")).cast("string"))
    // the second entry's declared key running past the file is the
    // truncated-container signature
    val trunc = coalesce(col("_k2off") + col("_k2len") - 1L > flen, lit(true))
    // the second VALUE's varint (the schema length) sits right after
    // key2 — the field whose z ≥ 128 exercises the 2-byte decode path
    val (v2len, _) = vint(col("_k2off") + col("_k2len"))
    out3
      .withColumn("valid_avro", col("_v"))
      .withColumn("n_meta", ifOk(col("_n")))
      .withColumn("first_key", key1)
      .withColumn("codec", when(col("_k1ok") && key1 === "avro.codec",
        bin.substr(col("_v1off").cast("int"), col("_v1len").cast("int")).cast("string")))
      .withColumn("second_key_len", when(col("_k1ok"), col("_k2len")))
      .withColumn("schema_len", when(col("_k1ok") && !trunc, v2len))
      .withColumn("truncated", ifOk(trunc.cast("int")))
      .drop("_v", "_n", "_o1", "_k1len", "_k1off", "_k1ok",
        "_v1len", "_v1off", "_k2len", "_k2off")
  }

  /** H39 driver query: synthesize an Avro OCF header per asset — two
    * metadata entries (avro.codec cycling null/deflate/snappy/zstd,
    * then avro.schema whose VARIABLE length crosses the 1-byte/2-byte
    * varint boundary: padding n_chars%120+40 drives schema lengths
    * through 63/64+), cut mid-second-key every 5th doc, corrupt magic
    * every 9th. The oracle rebuilds the schema string length and the
    * varint-width arithmetic, so both varint widths are
    * value-checked. */
  def mmAvroMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val codec = when(col("doc_id") % 4 === 0, "null")
      .when(col("doc_id") % 4 === 1, "deflate")
      .when(col("doc_id") % 4 === 2, "snappy").otherwise("zstandard")
    // schema length crosses the varint width boundary: 40..159 chars
    val pad = (col("n_chars") % 120 + 2).cast("int")
    val schema = concat(
      lit("{\"type\":\"record\",\"name\":\"r\",\"doc\":\""),
      repeat(lit("x"), pad), lit("\",\"fields\":[]}"))
    // zigzag-varint hex of a small non-negative int (≤ 2 bytes)
    def vhex(n: org.apache.spark.sql.Column) = {
      val z = n * 2
      when(z < 128, Bytes.beHex(z, 1))
        .otherwise(concat(
          Bytes.beHex(z.bitwiseAND(lit(127)).bitwiseOR(lit(128)), 1),
          Bytes.beHex(shiftright(z, 7), 1)))
    }
    val key1 = lit("avro.codec")   // 10 bytes
    val key2 = lit("avro.schema")  // 11 bytes
    val full = concat(
      unhex(concat(lit("4f626a01"), vhex(lit(2)), vhex(lit(10)))),
      encode(key1, "UTF-8"),
      unhex(vhex(length(codec))), encode(codec, "UTF-8"),
      unhex(vhex(lit(11))), encode(key2, "UTF-8"),
      unhex(vhex(length(schema))), encode(schema, "UTF-8"))
    val cut = concat(
      unhex(concat(lit("4f626a01"), vhex(lit(2)), vhex(lit(10)))),
      encode(key1, "UTF-8"),
      unhex(vhex(length(codec))), encode(codec, "UTF-8"),
      unhex(vhex(lit(11))), encode(substring(key2, 1, 4), "UTF-8"))
    val bin = when(garbage, unhex(lit("deadbeef00")))
      .otherwise(when(truncate, cut).otherwise(full))
    withAvroHeader(d.select(col("doc_id"), bin.as("_bin")), "_bin")
      .select("doc_id", "valid_avro", "n_meta", "first_key", "codec",
        "second_key_len", "schema_len", "truncated")
  }

  /** H40: Arrow IPC file envelope — "ARROW1\0\0" leading magic, and a
    * trailing [flatbuffer footer][u32le footer length]["ARROW1"]
    * triplet (the H34 parquet-trailer idea with the magic 6 bytes
    * long and the length BEFORE it): footer_fits is the
    * interrupted-upload detector any Arrow reader needs before
    * trusting the footer flatbuffer. */
  def withArrowTrailer(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    val valid = (flen >= 18L &&
      Bytes.magic(bin, lit(1), "4152524f57310000") &&
      Bytes.magic(bin, (flen - 5L).cast("int"), "4152524f5731")).cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val footerLen = Bytes.le(bin, (flen - 9L).cast("int"), 4)
    df
      .withColumn("valid_arrow", valid)
      .withColumn("file_bytes", ifOk(flen))
      .withColumn("footer_len", ifOk(footerLen))
      .withColumn("footer_fits",
        ifOk((lit(8L) + footerLen + 10L <= flen).cast("int")))
  }

  /** H40 driver query: body filler doc_id%23+1 bytes; the truncated
    * leg declares footer_len 500 past the file; corrupt trailing
    * magic every 6th. Formula oracle (the H34 shape). */
  def mmArrowMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val corrupt = col("doc_id") % 6 === 0
    val fill = (col("doc_id") % 23 + 1).cast("int")
    val declared = when(col("doc_id") % 4 === 0, fill + lit(500)).otherwise(fill)
    val hx = concat(
      lit("4152524f57310000"),
      repeat(lit("00"), fill),
      Bytes.leHex(declared, 4),
      when(corrupt, lit("4152524f5732")).otherwise(lit("4152524f5731")))
    withArrowTrailer(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_arrow", "file_bytes", "footer_len",
        "footer_fits")
  }

  /** H41: HDF5 superblock parse — the scientific/ML array store
    * (h5py model checkpoints and datasets ride it): signature
    * \x89HDF\r\n\x1a\n, then a VERSIONED superblock. Version 0 keeps
    * size-of-offsets/lengths at bytes 14/15 (after the free-space/
    * root-group/shared-header version bytes); version 2+ moved them
    * to bytes 10/11 and added a little-endian end-of-file address at
    * bytes 29-36 whose excess over the actual file length is the
    * definitive truncation signal (the spec's own crash-detection
    * field). Both version legs dispatch per row. */
  def withHdf5Superblock(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val flen = length(bin).cast("long")
    val valid = Bytes.magic(bin, lit(1), "894844460d0a1a0a").cast("int")
    def ifOk(c: org.apache.spark.sql.Column) = when(valid === 1, c)
    val ver = Bytes.u8(bin, lit(9))
    val v2 = ver >= 2
    val eof = Bytes.le(bin, lit(29), 8)
    df
      .withColumn("valid_hdf5", valid)
      .withColumn("sb_version", ifOk(ver))
      .withColumn("offset_size",
        ifOk(when(v2, Bytes.u8(bin, lit(10))).otherwise(Bytes.u8(bin, lit(14)))))
      .withColumn("length_size",
        ifOk(when(v2, Bytes.u8(bin, lit(11))).otherwise(Bytes.u8(bin, lit(15)))))
      .withColumn("eof_addr", ifOk(when(v2, eof)))
      .withColumn("truncated", ifOk(when(v2, (eof > flen).cast("int"))))
  }

  /** H41 driver query: version 0 legs (sizes at 14/15) on doc_id%3==0,
    * version 2 legs otherwise with a REAL eof address = the synthesized
    * file length, overstated by 4096 on the truncated leg (every 5th);
    * corrupt signature every 9th. Formula oracle. */
  def mmHdf5Meta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val garbage = col("doc_id") % 9 === 0
    val truncate = col("doc_id") % 5 === 0
    val isV0 = col("doc_id") % 3 === 0
    val osz = when(col("doc_id") % 2 === 0, 8).otherwise(4)
    val fill = (col("doc_id") % 31 + 1).cast("int")
    // v2 layout: sig(8) ver(1) osz(1) lsz(1) flags(1) base(8) ext(8)
    // eof(8 le @29) root(8) checksum(4) + body fill → flen = 48 + fill
    val flenV2 = (lit(48) + fill).cast("int")
    val eofDecl = when(truncate, flenV2 + lit(4096)).otherwise(flenV2)
    val v2hx = concat(
      lit("894844460d0a1a0a"), lit("02"),
      Bytes.beHex(osz, 1), Bytes.beHex(osz, 1),
      lit("00"), repeat(lit("00"), 16),
      Bytes.leHex(eofDecl, 4), lit("00000000"),
      repeat(lit("00"), 12),
      repeat(lit("00"), fill))
    // v0 layout: sig(8) ver(1)=00 fsver(1) rgver(1) res(1) shver(1)
    // osz(1 @14) lsz(1 @15) + tail
    val v0hx = concat(
      lit("894844460d0a1a0a"), lit("00"), lit("00000000"),
      Bytes.beHex(osz, 1), Bytes.beHex(osz, 1),
      repeat(lit("00"), 8))
    val hx = when(garbage, lit("89484446deadbeef00"))
      .otherwise(when(isV0, v0hx).otherwise(v2hx))
    withHdf5Superblock(d.select(col("doc_id"), unhex(hx).as("_bin")), "_bin")
      .select("doc_id", "valid_hdf5", "sb_version", "offset_size",
        "length_size", "eof_addr", "truncated")
  }

  // ----- H42/E20: perceptual image near-dup (dHash) -----------------

  /** H42: dHash — THE perceptual image fingerprint production
    * image-text pipelines (DataComp/LAION practice) dedup frames with
    * before any captioning spend: downscale to a 9×8 grayscale grid,
    * emit one bit per horizontally adjacent pixel pair
    * (left > right), 64 bits total; near-duplicate images (re-encodes,
    * small crops/noise) differ in a few bits, unrelated images in
    * ~32. No image codec exists in this container, so the DECODED
    * PIXELS are the deterministic synthetic stand-in for the H2
    * stub-decode contract: each doc's 9×8 grid derives from md5 of its
    * GROUP key (group = doc_id div 4 — "the same image re-encoded 4
    * ways"), one md5 per row with the 9 pixel bytes sliced from the
    * digest, plus a per-doc single-pixel brightness bump (the
    * re-encode noise; it flips ≤ 2 adjacent-comparison bits). The
    * whole hash is codegen'd expressions — md5/substring/conv/when —
    * zero shuffle, and the oracle re-derives every band from the same
    * formula in DuckDB.
    *
    * The 64 bits are emitted directly as FOUR 16-bit band integers
    * (rows 2b, 2b+1 → band b) — the E3 SimHash banding layout, so the
    * pair face blocks on band equality with no repacking. */
  val DHashGroup = 4
  val DHashNoise = 77
  /** Max Hamming distance for a verified near-dup pair: same-group
    * docs differ by ≤ 2 noise pixels → ≤ 4 bits; unrelated grids
    * differ in ~32. 6 keeps one bit of slack above the constructed
    * worst case while rejecting everything unrelated. */
  val DHashThreshold = 6

  private def dhashPixel(g: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column, r: Int, c: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("img|"), g.cast("string"), lit(s"|$r"))),
      c * 2 + 1, 2), 16, 10).cast("int") +
      when(docId % 72 === lit(r * 9 + c), DHashNoise).otherwise(0)

  /** The four 16-bit dHash bands for a doc_id column. */
  def dhashBands(docId: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val g = floor(docId / DHashGroup).cast("long")
    (0 until 4).map { b =>
      (0 until 16).map { k =>
        val r = 2 * b + k / 8; val c = k % 8
        when(dhashPixel(g, docId, r, c) > dhashPixel(g, docId, r, c + 1),
          lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _).cast("int").as(s"b$b")
    }
  }

  // ----- H48: REAL codec decode feeding the REAL dHash (r17 #6) -----

  /** The 9×8 md5 pixel grid as ONE array column (row-major, width 9)
    * — the SAME generating formula as [[dhashBands]], materialized as
    * pixel VALUES so a real encoder can turn them into image bytes. */
  private def dhashPixelGrid(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = floor(docId / DHashGroup).cast("long")
    array((for (r <- 0 until 8; c <- 0 until 9)
      yield dhashPixel(g, docId, r, c)): _*)
  }

  /** REAL PNG encode of a grayscale grid via the JDK's javax.imageio
    * (in java.desktop — no external codec dependency). 16-bit gray
    * (TYPE_USHORT_GRAY) because the grid's noise bump can exceed 255
    * (max 332) and 16-bit gray PNG round-trips raster samples
    * exactly. This is the test-fixture "camera": it exists to turn
    * the deterministic grid into genuine image FILES; the product
    * path is [[pngDecodeGray]] → [[dhashBandsFromPixels]]. */
  def pngEncodeGray16(px: Seq[Int], w: Int, h: Int): Array[Byte] = {
    require(px.length == w * h, s"grid ${px.length} != ${w}x$h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    var i = 0
    while (i < w * h) { img.getRaster.setSample(i % w, i / w, 0, px(i)); i += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A decoded grayscale raster (row-major pixel samples). */
  final case class GrayImage(width: Int, height: Int, px: Seq[Int])

  /** H48/H50/H51: the REAL image decoder — PNG/GIF/BMP (or any
    * ImageIO-readable format) bytes → gray pixel raster, via the
    * JDK's ImageIO. This is the decode step the H2 stub contract
    * marked as swap-on-cluster; for these three containers the JDK
    * ships the codec, so the faces run REAL bytes→pixels work.
    * Per-row JVM codec calls are the canonical UDF case (a Catalyst
    * Expression would wrap the same library call); everything around
    * it — binaryFile scan, hash arithmetic, banding — stays codegen'd
    * column work. Sample extraction dispatches on the decoded model:
    * palette formats (GIF decodes as indexed) and multi-band rasters
    * go through getRGB (the raster sample would be the palette INDEX —
    * wrong whenever the writer reorders the palette) and reduce to a
    * BT.601 luminance, exact for gray inputs and correct for color;
    * single-band non-indexed rasters (gray PNG/BMP) read raw samples,
    * which is also what preserves 16-bit gray past 255. */
  def imageDecodeGray(bytes: Array[Byte]): GrayImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val indexed =
      img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
    val multiband = img.getRaster.getNumBands > 1
    val px = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      px(i) =
        if (indexed || multiband) {
          // BT.601 integer luminance — NOT the blue channel: for a
          // true color image the three channels differ, and (rgb &
          // 0xFF) would silently hash the blue plane; for the gray
          // fixtures (r==g==b) this is exact since the weights sum
          // to 1000
          val rgb = img.getRGB(i % w, i / w)
          (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
        } else img.getRaster.getSample(i % w, i / w, 0)
      i += 1
    }
    GrayImage(w, h, px.toIndexedSeq)
  }

  /** The H48 face's historical name for [[imageDecodeGray]]. */
  def pngDecodeGray(bytes: Array[Byte]): GrayImage = imageDecodeGray(bytes)

  private lazy val decodeUdf = udf((b: Array[Byte]) => imageDecodeGray(b))

  /** dHash bands from a DECODED pixel array column (row-major, width
    * 9) — the same 64 adjacent-pixel comparisons as [[dhashBands]],
    * but over pixel VALUES: the hash input is whatever the decoder
    * produced, not the generating formula. */
  def dhashBandsFromPixels(px: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until 4).map { b =>
      (0 until 16).map { k =>
        val r = 2 * b + k / 8; val c = k % 8
        when(element_at(px, r * 9 + c + 1) > element_at(px, r * 9 + c + 2),
          lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _).cast("int").as(s"b$b")
    }

  /** H50/H51: 8-bit grayscale encode for the palette/legacy containers
    * (GIF, BMP) — the JDK writers for both; 8-bit because GIF is
    * palette-bounded at 256 entries (a ≤256-value gray raster maps
    * into the palette exactly, so decode∘encode stays pixel-exact —
    * [[imageDecodeGray]]'s getRGB path reads the gray value back
    * through the palette). */
  def gray8Encode(px: Seq[Int], w: Int, h: Int, fmt: String): Array[Byte] = {
    require(px.length == w * h, s"grid ${px.length} != ${w}x$h")
    require(px.forall(p => p >= 0 && p <= 255),
      s"8-bit gray encode needs samples in [0,255]")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    while (i < w * h) { img.getRaster.setSample(i % w, i / w, 0, px(i)); i += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** The dHash grid folded to 8-bit range (`% 256` of each sample —
    * non-negative, so the fold agrees across engines) — the H50/H51
    * generating formula: the 16-bit-capable PNG face keeps the raw
    * grid, the 8-bit containers get this one, and each face's oracle
    * re-derives its own bands from its own grid. */
  private def dhashPixelGrid8(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = floor(docId / DHashGroup).cast("long")
    array((for (r <- 0 until 8; c <- 0 until 9)
      yield dhashPixel(g, docId, r, c) % 256): _*)
  }

  private val mmRunId = java.util.UUID.randomUUID().toString.take(8)
  private def imgFixtureDir(dir: String, kind: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mm_$mmRunId/" +
      s"${kind}_${graft.store.GraftStore.dirKey(dir)}"

  /** Write one real image file per document (marker-gated, keyed by
    * corpus like every fixture dir) — the multimodal ingestion front
    * door's on-disk shape, so the decode faces read through the A10
    * binaryFile source exactly like production. The write is
    * DRIVER-side (r18 advice #4): an executor-side foreachPartition
    * writes to java.io.tmpdir on the EXECUTORS' local disks, which
    * only aliases the driver's in local mode — on a real cluster the
    * driver's binaryFile read would see a partial or empty fixture.
    * Driver-safe by construction: this is the test-fixture "camera"
    * (one grid row of 72 ints per doc), not the product decode path,
    * which stays fully distributed (binaryFile scan → per-row UDF). */
  private def ensureImageFixture(spark: SparkSession, dir: String,
      kind: String, ext: String, grid: org.apache.spark.sql.Column,
      encode: Seq[Int] => Array[Byte],
      corrupt: Long => Boolean): String = {
    val path = imgFixtureDir(dir, kind)
    val marker = new java.io.File(path, "_WRITTEN")
    if (!marker.exists()) {
      new java.io.File(path).mkdirs()
      Tables.documents(spark, dir)
        .select(col("doc_id"), grid.as("px"))
        .collect().foreach { r =>
          val id = r.getLong(0)
          val bytes = encode(r.getSeq[Int](1))
          // the A16 corruption formula: a corrupt file is TRUNCATED
          // mid-stream — what a failed crawl fetch actually delivers
          val out = if (corrupt(id)) bytes.take(20) else bytes
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, s"img_$id.$ext"), out)
        }
      marker.createNewFile()
    }
    path
  }

  def ensurePngFixture(spark: SparkSession, dir: String): String =
    ensureImageFixture(spark, dir, "png", "png",
      dhashPixelGrid(col("doc_id")), pngEncodeGray16(_, 9, 8), _ => false)

  /** H48 driver query: real PNG files → binaryFile source → REAL
    * ImageIO decode → the REAL dHash over DECODED pixels. The oracle
    * re-derives the bands from the generating formula, so a pass
    * proves decode∘encode is pixel-exact THROUGH the production hash
    * path — the H-family's stub faces are unchanged, this face is the
    * one whose pixels genuinely come from image bytes (r17 verdict
    * #6). At 100 TB the shape is the production one: binary scan,
    * per-row codec UDF, codegen'd hash arithmetic, no shuffle. */
  def mmDecodeDhash(spark: SparkSession, dir: String): DataFrame = {
    val path = ensurePngFixture(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(path)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"),
        decodeUdf(col("content")).as("img"))
      .select(Seq(col("doc_id"), col("img.width").as("width"),
        col("img.height").as("height")) ++
        dhashBandsFromPixels(col("img.px")): _*)
  }

  /** H49: decode with QUARANTINE — the A11/A16 corrupt-tolerance
    * contract applied to the codec path: a crawl-scale image corpus
    * always contains truncated/corrupt files, and ONE bad byte stream
    * must quarantine ONE row, never kill the job (FAILFAST) or vanish
    * (silent drop). Returns null on any decode failure; the face
    * turns that into an explicit ok/quarantine row class. */
  private lazy val decodeTryUdf =
    udf((b: Array[Byte]) =>
      try Some(pngDecodeGray(b)) catch { case _: Throwable => None })

  /** Corrupt-image fixture: the H48 PNGs, but every 9th document's
    * file TRUNCATED mid-stream (the A16 corruption formula) — what a
    * crawl actually delivers. */
  def ensurePngBadFixture(spark: SparkSession, dir: String): String =
    ensureImageFixture(spark, dir, "pngbad", "png",
      dhashPixelGrid(col("doc_id")), pngEncodeGray16(_, 9, 8), _ % 9 == 0)

  /** H50 fixture: real GIF files over the 8-bit grid, every 9th
    * truncated — decode exactness and quarantine exercised by ONE
    * fixture through a palette container. */
  def ensureGifFixture(spark: SparkSession, dir: String): String =
    ensureImageFixture(spark, dir, "gif", "gif",
      dhashPixelGrid8(col("doc_id")), gray8Encode(_, 9, 8, "gif"), _ % 9 == 0)

  /** H51 fixture: real BMP files over the 8-bit grid (clean — BMP is
    * the plain-raster container; the quarantine row class is pinned
    * on PNG and GIF). */
  def ensureBmpFixture(spark: SparkSession, dir: String): String =
    ensureImageFixture(spark, dir, "bmp", "bmp",
      dhashPixelGrid8(col("doc_id")), gray8Encode(_, 9, 8, "bmp"), _ => false)

  /** H49 driver query: per-image decode outcome over the corrupt
    * fixture — ok flag, dims where decodable, nulls where
    * quarantined. Every input row is accounted for (row-class
    * completeness: ok + quarantined = corpus), which is what lets a
    * production pipeline alert on decode-failure RATE rather than
    * discovering a silent hole at training time. */
  def mmDecodeQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val path = ensurePngBadFixture(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(path)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"),
        decodeTryUdf(col("content")).as("img"))
      .select(col("doc_id"),
        col("img").isNotNull.cast("int").as("ok"),
        col("img.width").as("width"),
        col("img.height").as("height"))
  }

  /** H50 driver query: real GIF files → binaryFile source → REAL
    * ImageIO decode (through the palette: GIF decodes indexed, the
    * gray value reads back via getRGB) → the production dHash over
    * DECODED pixels, with the H49 quarantine contract in the SAME
    * face: every 9th file is truncated, decodes to null, and
    * surfaces as ok=0 with null bands — ok + quarantined = corpus.
    * The oracle re-derives the bands from the 8-bit generating
    * formula and the quarantine class from the corruption formula, so
    * a pass proves decode∘encode is pixel-exact through a SECOND real
    * container (r18 verdict #1 — the H-family's real-decode face was
    * PNG-only). */
  def mmGifDecode(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureGifFixture(spark, dir)
    val bands = dhashBandsFromPixels(col("img.px")).zipWithIndex.map {
      case (b, i) =>
        when(col("img").isNotNull, b).otherwise(lit(null)).cast("int").as(s"b$i")
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gif").load(path)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.gif$", 1)
          .cast("long").as("doc_id"),
        decodeTryUdf(col("content")).as("img"))
      .select(col("doc_id") +:
        col("img").isNotNull.cast("int").as("ok") +: bands: _*)
  }

  /** H51 driver query: real BMP files → binaryFile → REAL decode →
    * dHash — the third real container (plain uncompressed raster,
    * where GIF is palette and PNG is filtered+deflate: the three JDK
    * codecs cover the three classical encoding families). */
  def mmBmpDecode(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureBmpFixture(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bmp").load(path)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.bmp$", 1)
          .cast("long").as("doc_id"),
        decodeUdf(col("content")).as("img"))
      .select(Seq(col("doc_id"), col("img.width").as("width"),
        col("img.height").as("height")) ++
        dhashBandsFromPixels(col("img.px")): _*)
  }

  /** The dHash band table, persisted once per (session, corpus) —
    * the store discipline: THREE driver faces (mm_dhash,
    * mm_dhash_pairs ×3 plan references, mm_dhash_admit) would
    * otherwise each re-evaluate the 64-comparison pixel formula per
    * doc. Tiny table (one row of five ints per doc); the build is the
    * mm-labeled bench thunk. */
  private def dhashTable(spark: SparkSession, dir: String): String =
    graft.store.GraftStore.ensurePlain(spark,
      s"graft_dhash_${graft.store.GraftStore.dirKey(dir)}") {
      Tables.documents(spark, dir)
        .select(col("doc_id") +: dhashBands(col("doc_id")): _*)
    }

  /** Force the persisted dHash + vid-pair tables (bench build thunk). */
  def warmStores(spark: SparkSession, dir: String): Unit = {
    dhashTable(spark, dir); vidPairsTable(spark, dir)
    ensurePngFixture(spark, dir); ensurePngBadFixture(spark, dir)
    ensureGifFixture(spark, dir); ensureBmpFixture(spark, dir); ()
  }

  /** H42 driver query: per-asset dHash bands. */
  def mmDhash(spark: SparkSession, dir: String): DataFrame =
    spark.table(dhashTable(spark, dir))

  /** (doc_id, bi, bv) band rows of a (doc_id, b0..b3) frame — the
    * shared E20/E21 blocking layout (r16 review: one spelling, three
    * faces). */
  def dhashBanded(h: DataFrame): DataFrame =
    (0 until 4).map(b =>
      h.select(col("doc_id"), lit(b).as("bi"), col(s"b$b").as("bv")))
      .reduce(_ unionAll _)

  /** Exact 64-bit Hamming distance between two band-column sets. */
  def dhashHamming(a: Seq[org.apache.spark.sql.Column],
      b: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    a.zip(b).map { case (x, y) => bit_count(x.bitwiseXOR(y)) }
      .reduce(_ + _).cast("int")

  /** The 64-bit hash reassembled from the four 16-bit bands. */
  private def dhashLong(b: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    b(0).cast("long")
      .bitwiseOR(shiftleft(b(1).cast("long"), 16))
      .bitwiseOR(shiftleft(b(2).cast("long"), 32))
      .bitwiseOR(shiftleft(b(3).cast("long"), 48))

  /** `n` SUB-bands of the 64-bit hash (widths ⌊64/n⌋, remainder to the
    * last). Pigeonhole: two hashes within Hamming distance n−1 agree
    * on at least one sub-band — the guarantee the four 16-bit bands
    * give only up to distance 3. The I55 sink blocks on
    * threshold+1 = 7 sub-bands (9-10 bits) because it takes ARBITRARY
    * external hashes whose bit differences spread anywhere; the
    * narrower bands trade candidate mass (~n/2^width random collision
    * rate — the recall/mass dial a corpus above ~10⁸ images tunes by
    * dropping the threshold or adding a coarse prefilter). */
  def dhashSubBands(b: Seq[org.apache.spark.sql.Column],
      n: Int): Seq[org.apache.spark.sql.Column] = {
    val v = dhashLong(b)
    val w = 64 / n
    (0 until n).map { j =>
      val width = if (j == n - 1) 64 - w * (n - 1) else w
      shiftrightunsigned(v, j * w).bitwiseAND(lit((1L << width) - 1L))
    }
  }

  /** E20: image near-dup PAIRS — Hamming-band blocking (the E3
    * banding idiom: two hashes within Hamming distance d agree on at
    * least one of d+1 bit bands — at threshold 6 and 4 bands any
    * true pair shares a band BY PIGEONHOLE when its distance is ≤ 3
    * per unshared band; the constructed near-dups differ in ≤ 2
    * bands, so ≥ 2 bands match exactly), bucket-join on
    * (band_idx, band_value) — never all-pairs — then exact Hamming
    * verification via bit_count(xor) over the four bands. Shape: one
    * union-explode to 4·N band rows, one equality bucket join, two
    * doc-keyed hash joins for verification. */
  def mmDhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val h = mmDhash(spark, dir)
    val banded = dhashBanded(h)
    val cand = banded.select(col("doc_id").as("ida"), col("bi"), col("bv"))
      .join(banded.select(col("doc_id").as("idb"), col("bi"), col("bv")),
        Seq("bi", "bv"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val ha = h.select(col("doc_id").as("ida") +:
      (0 until 4).map(b => col(s"b$b").as(s"xa$b")): _*)
    val hb = h.select(col("doc_id").as("idb") +:
      (0 until 4).map(b => col(s"b$b").as(s"xb$b")): _*)
    cand.join(ha, "ida").join(hb, "idb")
      .withColumn("hamming", dhashHamming(
        (0 until 4).map(b => col(s"xa$b")), (0 until 4).map(b => col(s"xb$b"))))
      .filter(col("hamming") <= DHashThreshold)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"), col("hamming"))
  }

  /** E22: image SURVIVOR list — the keep-list the near-dup pairs
    * exist to produce (E6's shape on the H42 hash): connected
    * components over the verified pairs, min-id canonical per
    * cluster, one row per image with its canonical and the kept bit.
    * Clusters ride the same star-contraction CC every dedup face
    * uses; at 100 TB the pair frame is band-blocked (linear), the CC
    * is O(log C) rounds over pair-scale frames. */
  def mmDhashSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = mmDhashPairs(spark, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val cc = graft.graph.Graphs.componentsGuarded(pairs)
    spark.table(dhashTable(spark, dir)).select(col("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .cast("int").as("is_kept"))
  }

  /** E21: INCREMENTAL image admission — the daily-batch production
    * shape for the image corpus (E7's discipline on the H42 hash):
    * admit only INCOMING images (the non-train side of the G5 hash
    * split) with no perceptual near-duplicate in the HISTORICAL
    * corpus (the train side). Candidates come from the same
    * Hamming-band blocking as E20, but INCOMING × HISTORICAL only —
    * the incremental frontier never pairs against itself, and at
    * 100 TB the historical side's bands read from the persisted hash
    * table, never recomputed from pixels. Emits per incoming image
    * the candidate count, the min verified Hamming distance (null =
    * no candidate survived banding), and the admit bit. */
  def mmDhashAdmit(spark: SparkSession, dir: String): DataFrame = {
    def isHist(id: org.apache.spark.sql.Column) =
      graft.text.TextQueries.isTrainSplit(id)
    val h = spark.table(dhashTable(spark, dir))
    val banded = dhashBanded(h)
    val cand = banded.filter(!isHist(col("doc_id")))
      .select(col("doc_id").as("ida"), col("bi"), col("bv"))
      .join(banded.filter(isHist(col("doc_id")))
        .select(col("doc_id").as("idb"), col("bi"), col("bv")), Seq("bi", "bv"))
      .select("ida", "idb").distinct()
    val ha = h.select(col("doc_id").as("ida") +:
      (0 until 4).map(b => col(s"b$b").as(s"xa$b")): _*)
    val hb = h.select(col("doc_id").as("idb") +:
      (0 until 4).map(b => col(s"b$b").as(s"xb$b")): _*)
    val verified = cand.join(ha, "ida").join(hb, "idb")
      .withColumn("hamming", dhashHamming(
        (0 until 4).map(b => col(s"xa$b")), (0 until 4).map(b => col(s"xb$b"))))
      .groupBy(col("ida").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        min(col("hamming")).as("min_hamming"))
    h.select(col("doc_id")).filter(!isHist(col("doc_id")))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("min_hamming"),
        (coalesce(col("min_hamming"), lit(64)) > DHashThreshold)
          .cast("int").as("admit"))
  }

  // ----- H43/E23: audio near-dup (offset-invariant fingerprint) -----

  /** H43: per-frame audio subfingerprints — the Haitsma-Kalker 2002 /
    * Chromaprint shape: a clip is a SEQUENCE of per-frame spectral
    * hashes, not one global hash, because the canonical audio
    * near-dup (same track re-encoded, padded, or trimmed) is TIME
    * SHIFTED — a whole-clip hash (dHash's geometry) breaks under a
    * one-frame shift, while a frame sequence still matches at an
    * offset. No audio codec exists in this container, so the decoded
    * PCM stands in deterministically (the H2 stub-decode contract):
    * track g = doc_id/3 has a base frame sequence (16 bits from md5
    * of (track, frame)), and each of its 3 re-encodes is shifted by
    * s = doc_id%3 leading pad frames (doc-specific pad hashes — the
    * "different silence/encoder priming" reality) plus ONE glitched
    * frame (bit 0 flipped at frame doc_id%24 — the lossy-re-encode
    * corruption that forces count-based verification instead of
    * whole-sequence equality). Pure per-row expressions, zero
    * shuffle; the oracle re-derives every frame from the formula. */
  val AfpGroup = 3
  val AfpFrames = 24
  /** Verified-pair floor on aligned bigram count: a true pair overlaps
    * ≥ 24−2 frames → ≥ 21 aligned bigrams, minus ≤ 2 interior glitches
    * × 2 bigrams each → ≥ 17; 16 leaves one of slack while a false
    * pair would need 16 independent 32-bit collisions at one offset. */
  val AfpMinRun = 16

  private def h16(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(x), 1, 4), 16, 10).cast("int")

  /** The 16-bit subfingerprint of clip `docId` at frame `t`. */
  def afpSubfp(docId: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = floor(docId / AfpGroup).cast("long")
    val s = docId % AfpGroup
    val raw = when(t < s,
      h16(concat(lit("afppad|"), docId.cast("string"), lit("|"), t.cast("string"))))
      .otherwise(
        h16(concat(lit("afp|"), g.cast("string"), lit("|"), (t - s).cast("string"))))
    when(t === docId % AfpFrames, raw.bitwiseXOR(lit(1))).otherwise(raw)
  }

  /** H43 driver query: the per-clip frame-subfingerprint table. */
  def mmAfp(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0), lit(AfpFrames - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        afpSubfp(col("doc_id"), col("pos")).as("subfp"))

  /** E23: offset-invariant audio near-dup pairs — the Haitsma-Kalker
    * search, Spark-first: block on BIGRAMS of consecutive
    * subfingerprints (32 bits of key — the value space that keeps the
    * equality join's candidate mass at true-pairs + ~(rows²/2³²)
    * noise, where single 16-bit frames would square into the join),
    * then verify ALIGNMENT, not similarity: group candidates by
    * (clip_a, clip_b, offset = t_b − t_a) and keep pairs with ≥
    * [[AfpMinRun]] aligned bigrams at ONE offset. The offset
    * histogram is what makes the matcher shift-invariant — a true
    * re-encode concentrates its matches at exactly the pad-length
    * delta, noise spreads thin across offsets. The bigram frames are
    * formula-recomputed per (doc, t), NOT window-shifted — two md5s
    * per row instead of a per-doc sort shuffle. Shapes: one equality
    * bucket join on the 32-bit key, one (a, b, offset) aggregation;
    * never all-pairs. */
  def mmAfpPairs(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0), lit(AfpFrames - 2))).as("t"))
      .select(col("doc_id"), col("t"),
        afpSubfp(col("doc_id"), col("t")).as("v1"),
        afpSubfp(col("doc_id"), col("t") + 1).as("v2"))
    val a = bg.select(col("doc_id").as("doc_a"), col("t").as("ta"),
      col("v1"), col("v2"))
    val b = bg.select(col("doc_id").as("doc_b"), col("t").as("tb"),
      col("v1"), col("v2"))
    a.join(b, Seq("v1", "v2"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("tb") - col("ta")).as("offset"))
      .agg(count(lit(1)).as("n_aligned"))
      .filter(col("n_aligned") >= AfpMinRun)
  }

  /** The afp formula oracle's shared frame CTE (the dhashHashCte
    * convention: generated next to the Scala arithmetic). */
  private lazy val afpFrameCte: String =
    s"""fr AS (
       |  SELECT doc_id, doc_id // $AfpGroup AS g, doc_id % $AfpGroup AS s,
       |    unnest(range(0, $AfpFrames))::int AS t
       |  FROM documents
       |),
       |fp AS MATERIALIZED (
       |  SELECT doc_id, t,
       |    CASE WHEN t = doc_id % $AfpFrames THEN xor(v, 1) ELSE v END AS subfp
       |  FROM (
       |    SELECT doc_id, t,
       |      CASE WHEN t < s
       |        THEN ('0x' || substr(md5('afppad|' || doc_id::varchar || '|' || t::varchar), 1, 4))::int
       |        ELSE ('0x' || substr(md5('afp|' || g::varchar || '|' || (t - s)::varchar), 1, 4))::int
       |      END AS v
       |    FROM fr)
       |)""".stripMargin

  private def dhashPxSql(r: Int, c: Int): String =
    s"((('0x' || substr(md5('img|' || g::varchar || '|$r'), ${2 * c + 1}, 2))::int)" +
      s" + (CASE WHEN doc_id % 72 = ${r * 9 + c} THEN $DHashNoise ELSE 0 END))"

  private def dhashBandSql(b: Int): String =
    (0 until 16).map { k =>
      val r = 2 * b + k / 8; val c = k % 8
      s"(CASE WHEN ${dhashPxSql(r, c)} > ${dhashPxSql(r, c + 1)} THEN ${1 << k} ELSE 0 END)"
    }.mkString("(", " + ", ")::int")

  /** The dHash formula oracle's shared hash CTE — every band value
    * re-derived in DuckDB from the generating pixel formula (the K53
    * spreadSql convention: generated next to the Scala arithmetic so
    * the two cannot drift). */
  private lazy val dhashHashCte: String =
    s"""gd AS (SELECT doc_id, doc_id // $DHashGroup AS g FROM documents),
       |h AS MATERIALIZED (SELECT doc_id, ${(0 until 4)
        .map(b => dhashBandSql(b) + s" AS b$b").mkString(", ")} FROM gd)""".stripMargin

  /** The H50/H51 8-bit-grid bands: the same generating formula with
    * each sample folded `% 256` (non-negative → engines agree) — the
    * grid the GIF/BMP fixtures encode. */
  private def dhashBand8Sql(b: Int): String =
    (0 until 16).map { k =>
      val r = 2 * b + k / 8; val c = k % 8
      s"(CASE WHEN (${dhashPxSql(r, c)} % 256) > (${dhashPxSql(r, c + 1)} % 256)" +
        s" THEN ${1 << k} ELSE 0 END)"
    }.mkString("(", " + ", ")::int")

  private lazy val dhash8Cte: String =
    s"""gd AS (SELECT doc_id, doc_id // $DHashGroup AS g FROM documents),
       |h8 AS MATERIALIZED (SELECT doc_id, ${(0 until 4)
        .map(b => dhashBand8Sql(b) + s" AS b$b").mkString(", ")} FROM gd)""".stripMargin

  // ----- H46/E25: video temporal near-dup (frame-dHash sequences) ---

  /** H46: per-frame perceptual hash sequences — the video composition
    * of three existing pieces (r16 verdict #4): H3's frame sampling
    * gives a clip AS a sequence, H42's dHash fingerprints each frame
    * perceptually, and E23's subsequence blocking makes the match
    * OFFSET-INVARIANT (the canonical video near-dup — same footage
    * re-encoded with different leader/padding — is time shifted, so
    * any whole-clip hash breaks where a frame sequence still aligns).
    * No video codec in this container, so decoded frames stand in
    * deterministically per the H2 stub contract: video g = doc_id/3
    * has a base frame sequence (each frame's 64-bit dHash as four
    * 16-bit bands from md5 of (video, frame, band)), each of its 3
    * re-encodes shifted by s = doc_id%3 leader frames (doc-specific
    * pad hashes) plus ONE flipped bit (band doc_id%4 of frame
    * doc_id%[[VidFrames]] — the re-encode noise that forces
    * band-robust blocking: a bigram key over FULL 64-bit hashes
    * would break on the noisy frame, while ≥ 3 of its 4 band keys
    * still match). Pure per-row expressions, zero shuffle. */
  val VidGroup = 3
  val VidFrames = 16
  /** Verified-pair floor on aligned band-bigrams counted per frame
    * position: a true pair overlaps ≥ 16−2 base frames → ≥ 13 aligned
    * bigram positions (each matching on ≥ 3 clean bands); a false
    * pair would need 10 independent 32-bit band-bigram collisions at
    * ONE offset. */
  val VidMinRun = 10

  /** 16-bit band `b` of the frame-`t` dHash of clip `docId`. */
  def vidBand(docId: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column = {
    val g = floor(docId / VidGroup).cast("long")
    val s = docId % VidGroup
    val raw = when(t < s,
      h16(concat(lit("vidpad|"), docId.cast("string"), lit("|"),
        t.cast("string"), lit(s"|$b"))))
      .otherwise(h16(concat(lit("vid|"), g.cast("string"), lit("|"),
        (t - s).cast("string"), lit(s"|$b"))))
    when(t === docId % VidFrames && docId % 4 === b,
      raw.bitwiseXOR(lit(1))).otherwise(raw)
  }

  /** H46 driver query: the per-clip frame-band table (long form —
    * one row per (clip, frame, band)). */
  def mmVidDhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(sequence(lit(0), lit(VidFrames - 1))).as("pos"))
      .select(col("doc_id"), col("pos"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), vidBand(col("doc_id"), col("pos"), b).as("bv"))): _*))
        .as("x"))
      .select(col("doc_id"), col("pos"), col("x.band").as("band"), col("x.bv").as("bv"))

  /** E25: offset-invariant video near-dup pairs — E23's alignment
    * verification over H46's band sequences: block on (band index,
    * band(t), band(t+1)) bigram keys (32 bits of value + the band
    * index; per-frame noise breaks at most one of the four band
    * keys, so every true bigram position still blocks on ≥ 3),
    * dedupe candidate (a, b, ta, tb) across bands, then keep pairs
    * with ≥ [[VidMinRun]] aligned positions at ONE offset — the
    * offset histogram is the shift invariance. Shapes: one equality
    * bucket join + one aggregation; never all-pairs, never a
    * per-clip sort (frames are formula-recomputed, not
    * window-shifted). */
  /** The verified pair table, PERSISTED once per (session, corpus) —
    * the dhashTable discipline: two driver faces (mm_vid_pairs,
    * mm_vid_survivors) would otherwise each re-run the bigram frame
    * (1.2M md5 evaluations per SIDE of the self-join at sf0.1 — the
    * checkpoint bench measured 4.2 s + 4.5 s for the pair); the
    * store pays the join once and both faces read a few-hundred-row
    * table. The bigram frame itself is checkpointed inside the build
    * so its two self-join sides share one evaluation. */
  private def vidPairsTable(spark: SparkSession, dir: String): String =
    graft.store.GraftStore.ensurePlain(spark,
      s"graft_vidpairs_${graft.store.GraftStore.dirKey(dir)}") {
      val bg = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(sequence(lit(0), lit(VidFrames - 2))).as("t"))
        .select(col("doc_id"), col("t"), explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            vidBand(col("doc_id"), col("t"), b).as("v1"),
            vidBand(col("doc_id"), col("t") + 1, b).as("v2"))): _*)).as("x"))
        .select(col("doc_id"), col("t"), col("x.band").as("band"),
          col("x.v1").as("v1"), col("x.v2").as("v2"))
        .localCheckpoint(eager = true)
      val a = bg.select(col("doc_id").as("doc_a"), col("t").as("ta"),
        col("band"), col("v1"), col("v2"))
      val b = bg.select(col("doc_id").as("doc_b"), col("t").as("tb"),
        col("band"), col("v1"), col("v2"))
      a.join(b, Seq("band", "v1", "v2"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ta", "tb").distinct()
        .groupBy(col("doc_a"), col("doc_b"),
          (col("tb") - col("ta")).as("offset"))
        .agg(count(lit(1)).as("n_aligned"))
        .filter(col("n_aligned") >= VidMinRun)
    }

  def mmVidPairs(spark: SparkSession, dir: String): DataFrame =
    spark.table(vidPairsTable(spark, dir))

  /** E25 survivor face: connected components over verified clip pairs
    * (the mmDhashSurvivors convention — min-id canonical, guarded
    * pair-scale CC). */
  def mmVidSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = mmVidPairs(spark, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v")).distinct()
    val cc = graft.graph.Graphs.componentsGuarded(pairs)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .cast("int").as("is_kept"))
  }

  /** The video-frame formula oracle's shared CTE (the afpFrameCte
    * convention: generated next to the Scala arithmetic). */
  private lazy val vidFrameCte: String =
    s"""vfr AS (
       |  SELECT doc_id, doc_id // $VidGroup AS g, doc_id % $VidGroup AS s,
       |    unnest(range(0, $VidFrames))::int AS t
       |  FROM documents
       |),
       |vbx AS (SELECT doc_id, g, s, t, unnest(range(0, 4))::int AS b FROM vfr),
       |vfp AS MATERIALIZED (
       |  SELECT doc_id, t, b,
       |    CASE WHEN t = doc_id % $VidFrames AND b = doc_id % 4
       |      THEN xor(v, 1) ELSE v END AS bv
       |  FROM (
       |    SELECT doc_id, t, b,
       |      CASE WHEN t < s
       |        THEN ('0x' || substr(md5('vidpad|' || doc_id::varchar || '|' || t::varchar || '|' || b::varchar), 1, 4))::int
       |        ELSE ('0x' || substr(md5('vid|' || g::varchar || '|' || (t - s)::varchar || '|' || b::varchar), 1, 4))::int
       |      END AS v
       |    FROM vbx)
       |)""".stripMargin

  private lazy val vidPairsCte: String =
    s"""vbg AS (
       |  SELECT x.doc_id, x.t, x.b, x.bv AS v1, y.bv AS v2
       |  FROM vfp x JOIN vfp y
       |    ON y.doc_id = x.doc_id AND y.t = x.t + 1 AND y.b = x.b
       |),
       |vcd AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.t AS ta, b.t AS tb
       |  FROM vbg a JOIN vbg b
       |    ON a.b = b.b AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id
       |),
       |vpairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, (tb - ta)::int AS "offset", count(*) AS n_aligned
       |  FROM vcd GROUP BY 1, 2, 3 HAVING count(*) >= $VidMinRun
       |)""".stripMargin

  // ----- H44/H45: cross-modal alignment (CLIP-score shape) ----------

  /** H44: image↔caption alignment scoring — THE admission filter every
    * published multimodal corpus gates on (LAION's CLIP-score ≥ 0.28,
    * DataComp's learned thresholds): embed both modalities into one
    * space, score cosine per PAIR, admit above a threshold. No vision
    * model exists in this container, so the EMBEDDINGS are the
    * deterministic stub under the H2 decode contract (the dHash pixel
    * convention applied to the embedding step): the image tower embeds
    * image GROUP g = doc_id div [[DHashGroup]] ("the same image
    * re-encoded 4 ways" — one md5, 8 signed 16-bit dims sliced from
    * the digest), and the caption tower embeds as the image embedding
    * of the caption's SUBJECT plus bounded per-doc noise (captions of
    * the same image vary in wording, not meaning). One doc in
    * [[ClipMismatch]] carries a caption describing a DIFFERENT image
    * (subject group g + large prime) — the misalignment population the
    * filter exists to catch. All codegen'd md5/substring/conv/when
    * arithmetic, zero shuffle per pair; the cosine is 8 double
    * products summed in one fixed left-to-right chain, so both engines
    * run identical IEEE operations in identical order and round(…, 4)
    * absorbs the last ulp (the graph_pagerank contract).
    *
    * 100 TB shape: per-pair scoring is a pure projection over the
    * (image, caption) table — embeds ride WITH the rows, nothing
    * joins, nothing shuffles; the model forward pass slots into the
    * H2 mapPartitions batch contract where the md5 stub sits now. */
  /** 16 dims from TWO md5 digests per tower (32 hex chars = 8 four-hex
    * slices each): 8 dims left the retrieval face's random-pair cosine
    * tail fat enough that ~half the banded admissions were noise
    * (σ = 1/√8 ≈ 0.35, and band collision conditions on shared signs,
    * fattening the tail further); at 16 dims σ = 0.25 and the
    * conditioned tail above 0.8 collapses — the spec pins ≥ 90%
    * aligned admissions. */
  val ClipDims = 16
  val ClipMismatch = 5
  /** Admission threshold on the ROUNDED cosine: aligned pairs land
    * ≈ 0.95-0.99 (noise rms ≈ 0.25 of signal rms), mismatched pairs
    * are near-orthogonal random vectors. */
  val ClipThreshold = 0.8

  private def clipSlice(h: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
    conv(substring(h, 4 * (j % 8) + 1, 4), 16, 10).cast("int")

  private def clipEmbCols(key: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val h1 = md5(key); val h2 = md5(concat(key, lit("#2")))
    (0 until ClipDims).map(j => clipSlice(if (j < 8) h1 else h2, j) - 32768)
  }

  /** Caption embedding: subject image embedding + bounded noise
    * (% 16384 − 8192: modulo on non-negative ints agrees across
    * engines; integer division would not — floor vs truncate). */
  private def clipCapCols(subjectG: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val nk = concat(lit("clipcap|"), docId.cast("string"))
    val n1 = md5(nk); val n2 = md5(concat(nk, lit("#2")))
    clipEmbCols(concat(lit("clipimg|"), subjectG.cast("string")))
      .zipWithIndex.map { case (base, j) =>
        base + (clipSlice(if (j < 8) n1 else n2, j) % 16384 - 8192)
      }
  }

  /** Cosine of two fixed-width integer embeddings, in double, rounded
    * to 4 — every term cast to double BEFORE multiplying (the sums
    * overflow int32 in both engines otherwise) and summed
    * left-to-right. */
  private def clipCosine(a: Seq[org.apache.spark.sql.Column],
      b: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    val dot = a.zip(b).map { case (x, y) => x.cast("double") * y }.reduce(_ + _)
    val na = sqrt(a.map(x => x.cast("double") * x).reduce(_ + _))
    val nb = sqrt(b.map(x => x.cast("double") * x).reduce(_ + _))
    round(dot / (na * nb), 4)
  }

  private def clipFrame(spark: SparkSession, dir: String): DataFrame = {
    val g = floor(col("doc_id") / DHashGroup).cast("long")
    val subj = when(col("doc_id") % ClipMismatch === 0, g + 999983L).otherwise(g)
    Tables.documents(spark, dir).select(
      col("doc_id"), g.as("g"),
      array(clipEmbCols(concat(lit("clipimg|"), g.cast("string"))): _*).as("img"),
      array(clipCapCols(subj, col("doc_id")): _*).as("cap"))
  }

  /** H44 driver query: per-pair CLIP score + admission flag. */
  /** The H44 score as ONE column expression over a doc_id — shared by
    * the batch face and the I58 streaming sink, so stream ≡ batch is
    * true by construction (the knScoreAgainst discipline). */
  def clipScoreCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = floor(docId / DHashGroup).cast("long")
    val subj = when(docId % ClipMismatch === 0, g + 999983L).otherwise(g)
    clipCosine(clipEmbCols(concat(lit("clipimg|"), g.cast("string"))),
      clipCapCols(subj, docId))
  }

  def mmClipScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), clipScoreCol(col("doc_id")).as("clip_score"))
      .withColumn("admitted",
        (col("clip_score") >= ClipThreshold).cast("int"))

  /** H45: corpus×corpus cross-modal RETRIEVAL — every image's admitted
    * captions from OTHER documents, NEVER all-pairs: both towers block
    * on sign-pattern bands ([[ClipBands]] = 4 bands × 4 sign bits over
    * the 16 dims — the E3 SimHash banding idiom on the embedding's own
    * hyperplanes), and a candidate must agree on ≥ [[ClipMinBands]]
    * of them. Aligned caption/image pairs share most sign bits (a dim
    * flips only when |component| < |noise| — ≈ 7.6%/dim, band clean
    * ≈ 0.73), so a pair survives 2-of-4 blocking ≈ 94% — measured per
    * round by [[clipDial]], never quoted from prose. At production
    * dims (512+) the same plan widens the bands (16-bit
    * random-hyperplane bands, collision mass 1/65536 per band — the
    * F-family LSH layout) instead of raising the count. Candidates
    * verify by exact cosine ≥ [[ClipThreshold]]; same-group aligned
    * captions admit, mismatched and cross-group pairs drop. */
  /** Sign-band count for retrieval blocking: 4 bands × 4 sign bits
    * over the 16 dims. */
  val ClipBands = 4
  /** Bands a candidate pair must agree on — the recall/mass dial
    * (the E9 budget idea): at ≥ 1 of 4 the 4-bit bands pass
    * ~n²·0.23 random pairs to scoring (12.9 s at sf0.1, the slowest
    * query in the suite); at ≥ 2 the random mass drops ~10×
    * (P ≈ C(4,2)/16² tail) while an aligned pair still survives
    * w.p. ≈ 94% (per-band clean ≈ 0.73 at the constructed 7.6%/dim
    * flip rate). At production dims the dial is band WIDTH; here it
    * is band COUNT — same trade, measured not guessed. */
  val ClipMinBands = 2

  /** Element columns of an embedding array column. */
  private def clipEl(c: String): Seq[org.apache.spark.sql.Column] =
    (0 until ClipDims).map(j => element_at(col(c), j + 1))

  /** The banded candidate generator — ONE definition shared by the
    * retrieval face and [[clipDial]] (r17 review: a private copy in
    * the dial would let the measured pipeline drift from the
    * production one, the exact failure the dial exists to catch). */
  private def clipCandidates(f: DataFrame, minBands: Int): DataFrame = {
    // r20 (guide §2.3: shuffle fewer bytes — here, JOIN fewer rows):
    // the blocking key is a COMBINATION of minBands bands, one union
    // leg per C(ClipBands, minBands) combo, instead of one leg per
    // single band + a count(*) >= minBands filter after the join. A
    // pair agrees on >= minBands bands iff it collides on >= 1 combo
    // key (any minBands-subset of its agreeing bands IS a combo), so
    // the candidate SET is identical by construction — but the join
    // runs on 4·minBands-bit keys instead of 4-bit ones: at minBands=2
    // the random collision mass per leg drops 16× (1/256 vs 1/16),
    // and the measured join intermediate fell 6.3M → ~0.8M rows at
    // sf0.1 (mm_clip_pixels 8.3 → measured below; same candidates).
    // At production band widths the same composition holds (combo
    // key = concatenated band values). minBands=1 degenerates to the
    // original single-band legs, so the dial's exact-mass probe is
    // unchanged.
    //
    // r20 probe, kept as the union spelling: a posexplode(array(band
    // values)) variant reads the checkpointed frame once per tower
    // instead of once per leg, but measured 1.6-1.8× SLOWER at
    // sf0.1 (4.5 → 7.3-8.1 s on mm_clip_retrieval, A/B'd both ways in
    // plans/r20) — the per-leg branches keep `bi` a literal, which
    // the probe side evidently executes better than the generator
    // shape. The re-scans read the eager localCheckpoint
    // (materialized rows), never recompute the upstream corpus, so
    // the union costs combo-count linear passes of metadata-scale
    // rows — the measured trade wins (guide §1).
    val combos = (0 until ClipBands).combinations(minBands).toSeq
    def bandVal(c: String, b: Int) =
      (0 until 4).map(k =>
        when(element_at(col(c), 4 * b + k + 1) > 0, lit(1 << k))
          .otherwise(lit(0))).reduce(_ + _)
    def banded(c: String, idAs: String): DataFrame =
      combos.zipWithIndex.map { case (combo, ci) =>
        f.select(col("doc_id").as(idAs), lit(ci).as("bi"),
          combo.map(b => bandVal(c, b))
            .reduce((hi, lo) => hi * 16 + lo).as("bv"))
      }.reduce(_ unionAll _)
    banded("img", "img_doc")
      .join(banded("cap", "cap_doc"), Seq("bi", "bv"))
      .filter(col("img_doc") =!= col("cap_doc"))
      .select("img_doc", "cap_doc")
      .distinct()
  }

  /** Candidates joined back to their embeddings and cosine-scored —
    * the verification stage, shared like [[clipCandidates]]. */
  private def clipVerify(f: DataFrame, cand: DataFrame): DataFrame = {
    val img = f.select(col("doc_id").as("img_doc"), col("img"))
    val cap = f.select(col("doc_id").as("cap_doc"), col("cap"))
    // r20 (guide §2.5/§2.2): the candidate pairs are two longs per row,
    // so AQE's bytes-based coalescing packs the join output into 1-4
    // partitions — and then the scoring stage (the CPU-dense part: a
    // 3×16-term cosine per pair) runs nearly single-threaded (measured:
    // the whole verify stage 7.5 s in 4 tasks at sf0.1 on 550k pairs,
    // 1.4-1.7 s spread). Hash-repartition AFTER the joins, right below
    // the cosine projection, to core-count parallelism: the partition
    // count derives from the cluster (defaultParallelism), not a local
    // constant, and at any scale a CPU-bound stage wants ≥ one
    // partition per core regardless of how few bytes the rows carry
    // (AQE sizes stages by bytes and cannot see per-row CPU cost).
    val par = f.sparkSession.sparkContext.defaultParallelism
    cand.join(img, "img_doc").join(cap, "cap_doc")
      .repartition(par, col("img_doc"), col("cap_doc"))
      .select(col("img_doc"), col("cap_doc"),
        clipCosine(clipEl("img"), clipEl("cap")).as("clip_score"))
      .filter(col("clip_score") >= ClipThreshold)
  }

  def mmClipRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val f = clipFrame(spark, dir).localCheckpoint(eager = true)
    clipVerify(f, clipCandidates(f, ClipMinBands))
  }

  // ----- H52: real-pixel CLIP retrieval (r18 verdict #2) -----------

  /** ±1 projection weights for the pixel→embedding pooled-patch
    * projection, derived from md5 at PLAN time (weight i is a literal
    * in both the Spark plan and the generated oracle SQL — a
    * dictionary-scale constant, exactly like a real model's frozen
    * projection matrix rides a broadcast). */
  private lazy val clipPxSign: IndexedSeq[Int] = (0 until 72).map { i =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"clipw|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1 else -1
  }

  /** The pixel tower: 16-dim integer embedding from a DECODED 72-px
    * raster — dim j pools the ±1-signed, 128-CENTERED pixels i ≡ j
    * (mod 16) (a trivial but REAL projection: every component is
    * arithmetic over pixel values that came from image bytes, not
    * from a formula). Centering is load-bearing: uncentered uniform
    * pixels put 127.5·Σsigns — a constant shared by EVERY group — in
    * each dim wherever a patch's signs don't balance, and the whole
    * space collapses onto one direction (measured: 185k pairs ≥ 0.8
    * at sf0.01 uncentered vs ~1.5k centered). */
  private def clipPxEmbCols(px: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until ClipDims).map { j =>
      (j until 72 by ClipDims)
        .map(i => (element_at(px, i + 1) - 128) * clipPxSign(i))
        .reduce(_ + _).cast("int")
    }

  /** The caption tower for the pixel face: the SAME projection applied
    * to the subject group's BASE grid (the generating formula without
    * the per-doc bump — captions describe the subject, not one
    * rendering's noise), plus bounded per-doc noise (% 128 − 64 on
    * non-negative md5 slices — engines agree). Mismatched docs
    * (doc_id % ClipMismatch = 0) caption a far-away group, the class
    * retrieval must reject. */
  private def clipPxCapCols(docId: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val g = floor(docId / DHashGroup).cast("long")
    val cg = when(docId % ClipMismatch === 0, g + 999983L).otherwise(g)
    val nk = concat(lit("clippx|"), docId.cast("string"))
    val n1 = md5(nk); val n2 = md5(concat(nk, lit("#2")))
    def basePx(i: Int): org.apache.spark.sql.Column = {
      val r = i / 9; val c = i % 9
      conv(substring(md5(concat(lit("img|"), cg.cast("string"), lit(s"|$r"))),
        c * 2 + 1, 2), 16, 10).cast("int")
    }
    (0 until ClipDims).map { j =>
      val base = (j until 72 by ClipDims)
        .map(i => (basePx(i) - 128) * clipPxSign(i)).reduce(_ + _)
      (base + (clipSlice(if (j < 8) n1 else n2, j) % 128 - 64)).cast("int")
    }
  }

  /** H52 driver query: the image pipeline oracled END TO END —
    * bytes → pixels → vector → banded retrieval: real PNG files
    * (H48's fixture) decode through ImageIO, the DECODED pixels
    * project to the image-tower embedding, captions embed from the
    * generating formula (the text tower), and retrieval runs the
    * PRODUCTION H45 plan (shared clipCandidates/clipVerify — sign
    * bands, ≥ ClipMinBands agreement, exact-cosine verify). The
    * oracle recomputes the image embedding from the generating pixel
    * formula — decode∘encode is pixel-exact (H48), so formula
    * embeddings equal decoded-pixel embeddings, and a pass proves the
    * whole chain, not just the hash step (r18 verdict #2: until this
    * face, real decode fed only dHash while CLIP ran formula-built
    * embeddings). Scale shape: binaryFile scan + per-row codec UDF +
    * codegen'd projection, then the same banded blocking as H45 —
    * never all-pairs. */
  def mmClipPixels(spark: SparkSession, dir: String): DataFrame = {
    val path = ensurePngFixture(spark, dir)
    // decoded-tower checkpoint FIRST (r20): the binaryFile scan of
    // many small files plans one split per ~32 files (openCost
    // charging), and a join downstream of the opaque decode UDF
    // carries a garbage size estimate — both poisoned everything
    // below: the banded self-join inherited join-inflated stats and
    // planned a SortMergeJoin (two exchanges + sorts over the ~6M
    // collision rows) where the formula face gets a BroadcastHashJoin.
    // Checkpointing the decoded tower restores honest (scan-sized)
    // stats for the planner downstream.
    val imgs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(path)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"),
        decodeUdf(col("content")).as("dec"))
      .select(col("doc_id"),
        array(clipPxEmbCols(col("dec.px")): _*).as("img"))
      .localCheckpoint(eager = true)
    // caption tower AFTER the join (r20): the cap embedding is a pure
    // function of doc_id, but projected before the join it was
    // computed for EVERY documents row (~80 md5 slices each) and then
    // ~90% discarded — Catalyst does not push projections through
    // joins selectively. Joining the bare doc_id first and deriving
    // cap from the surviving rows computes the tower only for docs
    // that actually have an image; identical rows by construction.
    // The rebalance hint sizes f's partitioning from its ACTUAL bytes
    // (AQE coalescing), not the file-count-derived scan split: the
    // embedding rows are ~100× smaller than their openCost-charged
    // source files, and the banded stage fans every f partition out
    // 8 ways (4 bands × 2 towers) — at sf0.1 that was 157 → 1256
    // near-empty tasks of pure scheduling overhead; at scale the same
    // rule still spreads real bytes over real partitions.
    val f = imgs.join(Tables.documents(spark, dir).select("doc_id"), "doc_id")
      .select(col("doc_id"), col("img"),
        array(clipPxCapCols(col("doc_id")): _*).as("cap"))
      .hint("rebalance")
      .localCheckpoint(eager = true)
    clipVerify(f, clipCandidates(f, ClipMinBands))
  }

  /** The H45 recall dial (the E9 containmentDial idea): on a
    * hash-sampled doc slice (1/7), measure the ≥[[ClipMinBands]]-band
    * blocking against EXACT threshold retrieval (brute-force cosine on
    * the sample — quadratic, which is exactly why it runs on a sample
    * and only in the bench): (minBands, recall, candidate-mass ratio,
    * banded pairs, exact pairs). Committed per round next to e9_dial
    * so the 94%-recall claim is a living number, not one round's
    * prose. */
  def clipDial(spark: SparkSession, dir: String): (Int, Double, Double, Long, Long) = {
    // sample whole GROUPS (1/7 by hash of the group key): a per-doc
    // sample would break up the very same-group pairs whose recall is
    // being measured
    val f = clipFrame(spark, dir)
      .filter(floor(col("doc_id") / DHashGroup) % 7 === 0)
      .localCheckpoint(eager = true)
    def el(p: String, c: String) =
      (0 until ClipDims).map(j => element_at(col(s"$p.$c"), j + 1))
    val pairs = f.as("x").join(f.as("y"),
      col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("img_doc"), col("y.doc_id").as("cap_doc"),
        clipCosine(el("x", "img"), el("y", "cap")).as("s"))
    val exact = pairs.filter(col("s") >= ClipThreshold).count()
    // the SAME candidate generator and verifier the retrieval face
    // runs — shared definitions, so the dial cannot measure a stale
    // copy of the pipeline. The checkpointed candidate frame is bound
    // once and reused for both the verify count and the mass count
    // (r17 advice #5: rebuilding it re-ran the banded self-join the
    // checkpoint had just materialized).
    val cand = clipCandidates(f, ClipMinBands).localCheckpoint(eager = true)
    val banded = clipVerify(f, cand).count()
    val candN = cand.count()
    val candAll = clipCandidates(f, 1).count()
    val recall = if (exact == 0) 1.0 else banded.toDouble / exact
    val mass = if (candAll == 0) 1.0 else candN.toDouble / candAll
    (ClipMinBands, recall, mass, banded, exact)
  }

  // ----- r18 (r17 verdict #5): PRODUCTION-WIDTH dial rows -----------

  /** H45 dial at PRODUCTION WIDTH. The 16-dim face's dial varies band
    * COUNT because 16 dims only fit 4 bands of 4 sign bits; at real
    * CLIP width the dial is band WIDTH and table count. This dial
    * synthesizes [[ClipWideDims]]-dim embeddings with the SAME
    * group/mismatch/noise construction as the H44 face (md5-sliced
    * int16 base, bounded per-doc caption noise) and measures the
    * production-shaped blocking — [[ClipWideBands]] tables of
    * [[ClipWideBandBits]] sign bits at ≥[[ClipWideMinBands]]
    * agreement — against exact wide-cosine retrieval on a group-hash
    * sample. Mass is reported as the CANDIDATE FRACTION of the
    * quadratic pair space: at 16-bit bands a random pair collides
    * w.p. ≈ bands·2⁻¹⁶, so multi-band agreement is no longer needed —
    * exactly the band-count→band-width translation the toy dial
    * cannot show. Bench-only telemetry (committed per round in
    * clip_dial_wide). */
  val ClipWideDims = 512
  val ClipWideBands = 8
  val ClipWideBandBits = 16
  val ClipWideMinBands = 1

  /** Unsigned 16-bit md5 slices, [[ClipWideDims]] of them, as ONE
    * array expression (one md5 per 8 dims, 4 hex chars per dim). */
  private def wideSliceU(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(ClipWideDims - 1)), j =>
      conv(md5(concat(key, lit("|"), floor(j / 8).cast("string")))
        .substr(((j % 8) * 4 + 1).cast("int"), lit(4)), 16, 10).cast("long"))

  private def wideEmb(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(wideSliceU(key), x => x - 32768L)

  /** cap = img(subject group) + bounded per-doc noise — the H44
    * construction at wide dims (noise ∈ [−8192, 8191] per dim ⇒
    * per-sign-bit flip rate ≈ 6%, aligned cosine ≈ 0.97). */
  private def wideCap(subj: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(wideEmb(concat(lit("clipimgW|"), subj.cast("string"))),
      wideSliceU(concat(lit("clipcapW|"), docId.cast("string"))),
      (x, u) => x + (u % 16384L) - 8192L)

  private def cosWide(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0L), (s, v) => s + v).cast("double")
    val na = aggregate(transform(a, x => x * x),
      lit(0L), (s, v) => s + v).cast("double")
    val nb = aggregate(transform(b, x => x * x),
      lit(0L), (s, v) => s + v).cast("double")
    dot / sqrt(na * nb)
  }

  private def wideBandVal(arr: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column =
    (0 until ClipWideBandBits).map(k =>
      when(element_at(arr, b * ClipWideBandBits + k + 1) > 0, lit(1 << k))
        .otherwise(lit(0))).reduce(_ + _)

  private def clipWideFrame(spark: SparkSession, dir: String): DataFrame = {
    val g = floor(col("doc_id") / DHashGroup).cast("long")
    val subj = when(col("doc_id") % ClipMismatch === 0, g + 999983L).otherwise(g)
    // whole-GROUP sample, 1/14 (the clipDial rule; wider dims make the
    // exact side 32× heavier per pair, so the sample halves)
    Tables.documents(spark, dir)
      .filter(floor(col("doc_id") / DHashGroup) % 14 === 0)
      .select(col("doc_id"),
        wideEmb(concat(lit("clipimgW|"), g.cast("string"))).as("img"),
        wideCap(subj, col("doc_id")).as("cap"))
      .localCheckpoint(eager = true)
  }

  /** → (dims, bands, min_bands, recall, candidate fraction of the
    * quadratic pair space, banded-verified pairs, exact pairs). */
  def clipDialWide(spark: SparkSession, dir: String): (Int, Int, Int, Double, Double, Long, Long) = {
    val f = clipWideFrame(spark, dir)
    def banded(c: String, idAs: String): DataFrame =
      (0 until ClipWideBands).map(b =>
        f.select(col("doc_id").as(idAs), lit(b).as("bi"),
          wideBandVal(col(c), b).as("bv"))).reduce(_ unionAll _)
    val cand = banded("img", "img_doc")
      .join(banded("cap", "cap_doc"), Seq("bi", "bv"))
      .filter(col("img_doc") =!= col("cap_doc"))
      .groupBy("img_doc", "cap_doc").agg(count(lit(1)).as("_nb"))
      .filter(col("_nb") >= ClipWideMinBands)
      .select("img_doc", "cap_doc").localCheckpoint(eager = true)
    val img = f.select(col("doc_id").as("img_doc"), col("img"))
    val cap = f.select(col("doc_id").as("cap_doc"), col("cap"))
    val verified = cand.join(img, "img_doc").join(cap, "cap_doc")
      .filter(cosWide(col("img"), col("cap")) >= ClipThreshold).count()
    val exact = f.as("x").join(f.as("y"), col("x.doc_id") =!= col("y.doc_id"))
      .filter(cosWide(col("x.img"), col("y.cap")) >= ClipThreshold).count()
    val n = f.count()
    val candN = cand.count()
    val allPairs = n * (n - 1)
    val recall = if (exact == 0) 1.0 else verified.toDouble / exact
    val frac = if (allPairs == 0) 0.0 else candN.toDouble / allPairs
    (ClipWideDims, ClipWideBands, ClipWideMinBands, recall, frac, verified, exact)
  }

  /** H42 dial at PRODUCTION WIDTH: 256-bit perceptual hash (17×16
    * grid — fleet-scale image dedup runs 256-bit hashes where the toy
    * face runs 64), one 16-bit band per row = 16 bands, the same
    * group/noise construction (one bumped pixel per doc flips ≤ 2
    * adjacent comparisons). Measures ≥1-of-16 banding against exact
    * Hamming ≤ [[DHashThreshold]] on a group-hash sample; mass =
    * candidate fraction of all unordered pairs. The production
    * question it pins: does widening the HASH keep banding recall at
    * 1.0 while the per-band random-collision rate stays 2⁻¹⁶ — i.e.
    * the band count scales with hash width, the collision math does
    * not change. Bench-only telemetry (dhash_dial_wide). */
  val DHashWideRows = 16
  val DHashWideCols = 17

  private def dhashWidePixel(g: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column, r: Int, c: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("imgW|"), g.cast("string"),
      lit(s"|$r|${c / 8}"))), (c % 8) * 2 + 1, 2), 16, 10).cast("int") +
      when(docId % (DHashWideRows * DHashWideCols) === lit(r * DHashWideCols + c),
        DHashNoise).otherwise(lit(0))

  private def dhashWideBand(g: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column =
    (0 until DHashWideCols - 1).map(c =>
      when(dhashWidePixel(g, docId, r, c) > dhashWidePixel(g, docId, r, c + 1),
        lit(1 << c)).otherwise(lit(0))).reduce(_ + _).cast("int")

  /** → (hash bits, bands, recall, candidate fraction, banded-verified
    * pairs, exact pairs). */
  def dhashDialWide(spark: SparkSession, dir: String): (Int, Int, Double, Double, Long, Long) = {
    val gex = floor(col("doc_id") / DHashGroup).cast("long")
    val f = Tables.documents(spark, dir)
      .filter(floor(col("doc_id") / DHashGroup) % 7 === 0)
      .select(col("doc_id") +: (0 until DHashWideRows).map(r =>
        dhashWideBand(gex, col("doc_id"), r).as(s"b$r")): _*)
      .localCheckpoint(eager = true)
    val banded = (0 until DHashWideRows).map(b =>
      f.select(col("doc_id"), lit(b).as("bi"), col(s"b$b").as("bv")))
      .reduce(_ unionAll _)
    val cand = banded.select(col("doc_id").as("ida"), col("bi"), col("bv"))
      .join(banded.select(col("doc_id").as("idb"), col("bi"), col("bv")),
        Seq("bi", "bv"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct().localCheckpoint(eager = true)
    val ha = f.select(col("doc_id").as("ida") +:
      (0 until DHashWideRows).map(b => col(s"b$b").as(s"xa$b")): _*)
    val hb = f.select(col("doc_id").as("idb") +:
      (0 until DHashWideRows).map(b => col(s"b$b").as(s"xb$b")): _*)
    def ham(pre: String, post: String) = dhashHamming(
      (0 until DHashWideRows).map(b => col(s"$pre$b")),
      (0 until DHashWideRows).map(b => col(s"$post$b")))
    val verified = cand.join(ha, "ida").join(hb, "idb")
      .filter(ham("xa", "xb") <= DHashThreshold).count()
    val exact = f.as("x").join(f.as("y"), col("x.doc_id") < col("y.doc_id"))
      .filter(dhashHamming(
        (0 until DHashWideRows).map(b => col(s"x.b$b")),
        (0 until DHashWideRows).map(b => col(s"y.b$b"))) <= DHashThreshold)
      .count()
    val n = f.count()
    val candN = cand.count()
    val allPairs = n * (n - 1) / 2
    val recall = if (exact == 0) 1.0 else verified.toDouble / exact
    val frac = if (allPairs == 0) 0.0 else candN.toDouble / allPairs
    (DHashWideRows * (DHashWideCols - 1), DHashWideRows, recall, frac,
      verified, exact)
  }

  /** Shared oracle CTE: the embedding frame re-derived from the same
    * md5-slice formula (every term cast to double before any product —
    * DuckDB's checked int32 arithmetic would otherwise overflow where
    * Spark wraps). */
  private lazy val clipEmbCte: String = {
    def sliceSql(keyExpr: String, j: Int): String = {
      val key = if (j < 8) keyExpr else s"$keyExpr || '#2'"
      s"('0x' || substr(md5($key), ${4 * (j % 8) + 1}, 4))::int"
    }
    def embSql(keyExpr: String, j: Int): String =
      s"(${sliceSql(keyExpr, j)} - 32768)"
    def capSql(j: Int): String =
      s"(${embSql("'clipimg|' || cg::varchar", j)} + " +
        s"((${sliceSql("'clipcap|' || doc_id::varchar", j)}) % 16384 - 8192))"
    val imgCols = (0 until ClipDims)
      .map(j => s"${embSql("'clipimg|' || g::varchar", j)} AS i$j").mkString(", ")
    val capCols = (0 until ClipDims).map(j => s"${capSql(j)} AS c$j").mkString(", ")
    s"""ge AS (
       |  SELECT doc_id, doc_id // $DHashGroup AS g,
       |    CASE WHEN doc_id % $ClipMismatch = 0
       |      THEN doc_id // $DHashGroup + 999983 ELSE doc_id // $DHashGroup END AS cg
       |  FROM documents
       |),
       |emb AS MATERIALIZED (SELECT doc_id, $imgCols, $capCols FROM ge)""".stripMargin
  }

  /** cosine(iN…, cN…) as left-associated double sums — the exact
    * operation order the Spark expression chain runs. */
  private def clipCosSql(ip: String, cp: String): String = {
    val dot = (0 until ClipDims).map(j => s"$ip$j::double * $cp$j").mkString(" + ")
    val ni = (0 until ClipDims).map(j => s"$ip$j::double * $ip$j").mkString(" + ")
    val nc = (0 until ClipDims).map(j => s"$cp$j::double * $cp$j").mkString(" + ")
    s"round(($dot) / (sqrt($ni) * sqrt($nc)), 4)"
  }

  /** The H45/H52 retrieval oracle body over any `emb(doc_id, i0…,
    * c0…)` CTE — banded candidate join + exact-cosine verification,
    * ONE spelling for both embedding sources (r18 verdict #2: the
    * pixel face must run the same retrieval, so its oracle must
    * too). */
  private def clipRetrievalOracleSql(embCte: String): String = {
    def bandSql(p: String, b: Int): String =
      (0 until 4).map(k =>
        s"(CASE WHEN $p${4 * b + k} > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString("(", " + ", ")")
    val bands = (p: String, id: String) => (0 until ClipBands).map(b =>
      s"SELECT doc_id AS $id, $b AS bi, ${bandSql(p, b)} AS bv FROM emb")
      .mkString(" UNION ALL ")
    s"""WITH $embCte,
       |ib AS (${bands("i", "img_doc")}),
       |cb AS (${bands("c", "cap_doc")}),
       |cand AS (
       |  SELECT img_doc, cap_doc FROM ib JOIN cb USING (bi, bv)
       |  WHERE img_doc <> cap_doc
       |  GROUP BY img_doc, cap_doc HAVING count(*) >= $ClipMinBands
       |)
       |SELECT img_doc, cap_doc, clip_score FROM (
       |  SELECT x.img_doc, x.cap_doc,
       |    ${clipCosSql("a.i", "b.c")} AS clip_score
       |  FROM cand x JOIN emb a ON a.doc_id = x.img_doc
       |    JOIN emb b ON b.doc_id = x.cap_doc
       |) WHERE clip_score >= $ClipThreshold""".stripMargin
  }

  /** The H52 embedding CTE: image tower = the ±1 pooled-patch
    * projection over the PER-DOC generating grid (== the decoded
    * pixels, by H48's exactness), caption tower = the same projection
    * over the subject group's BASE grid plus bounded per-doc noise —
    * generated next to the Scala arithmetic so the two cannot
    * drift. */
  private lazy val clipPxCte: String = {
    def noiseSql(j: Int): String = {
      val key = if (j < 8) "'clippx|' || doc_id::varchar"
                else "'clippx|' || doc_id::varchar || '#2'"
      s"(('0x' || substr(md5($key), ${4 * (j % 8) + 1}, 4))::int % 128 - 64)"
    }
    def imgDimSql(j: Int): String =
      (j until 72 by ClipDims).map { i =>
        s"((${dhashPxSql(i / 9, i % 9)} - 128) * ${clipPxSign(i)})"
      }.mkString("(", " + ", ")")
    def capBaseSql(j: Int): String =
      (j until 72 by ClipDims).map { i =>
        val r = i / 9; val c = i % 9
        s"(((('0x' || substr(md5('img|' || cg::varchar || '|$r'), " +
          s"${2 * c + 1}, 2))::int) - 128) * ${clipPxSign(i)})"
      }.mkString("(", " + ", ")")
    val imgCols = (0 until ClipDims)
      .map(j => s"${imgDimSql(j)} AS i$j").mkString(", ")
    val capCols = (0 until ClipDims)
      .map(j => s"(${capBaseSql(j)} + ${noiseSql(j)}) AS c$j").mkString(", ")
    s"""gd AS (
       |  SELECT doc_id, doc_id // $DHashGroup AS g,
       |    CASE WHEN doc_id % $ClipMismatch = 0
       |      THEN doc_id // $DHashGroup + 999983 ELSE doc_id // $DHashGroup END AS cg
       |  FROM documents
       |),
       |emb AS MATERIALIZED (SELECT doc_id, $imgCols, $capCols FROM gd)""".stripMargin
  }

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "mm_features" -> (mmFeatures _),
    "mm_dhash" -> (mmDhash _),
    "mm_decode_dhash" -> (mmDecodeDhash _),
    "mm_decode_quarantine" -> (mmDecodeQuarantine _),
    "mm_gif_decode" -> (mmGifDecode _),
    "mm_bmp_decode" -> (mmBmpDecode _),
    "mm_dhash_pairs" -> (mmDhashPairs _),
    "mm_dhash_admit" -> (mmDhashAdmit _),
    "mm_dhash_survivors" -> (mmDhashSurvivors _),
    "mm_afp" -> (mmAfp _),
    "mm_afp_pairs" -> (mmAfpPairs _),
    "mm_clip_score" -> (mmClipScore _),
    "mm_clip_retrieval" -> (mmClipRetrieval _),
    "mm_clip_pixels" -> (mmClipPixels _),
    "mm_vid_dhash" -> (mmVidDhash _),
    "mm_vid_pairs" -> (mmVidPairs _),
    "mm_vid_survivors" -> (mmVidSurvivors _),
    "mm_frames"   -> (mmFrames _),
    "mm_decode"   -> (mmDecode _),
    "mm_png_dims" -> (mmPngDims _),
    "mm_jpeg_dims" -> (mmJpegDims _),
    "mm_wav_meta" -> (mmWavMeta _),
    "mm_mp4_meta" -> (mmMp4Meta _),
    "mm_bmp_dims" -> (mmBmpDims _),
    "mm_webp_dims" -> (mmWebpDims _),
    "mm_gif_dims" -> (mmGifDims _),
    "mm_tiff_dims" -> (mmTiffDims _),
    "mm_flac_meta" -> (mmFlacMeta _),
    "mm_exif"      -> (mmExifMeta _),
    "mm_mp3_meta"  -> (mmMp3Meta _),
    "mm_png_chunks" -> (mmPngChunks _),
    "mm_exif_gps"  -> (mmExifGps _),
    "mm_id3_tags"  -> (mmId3Tags _),
    "mm_ico_dims"  -> (mmIcoDims _),
    "mm_ogg_meta"  -> (mmOggMeta _),
    "mm_zip_entry" -> (mmZipEntry _),
    "mm_tar_meta"  -> (mmTarMeta _),
    "mm_gzip_meta" -> (mmGzipMeta _),
    "mm_midi_meta" -> (mmMidiMeta _),
    "mm_pdf_info"  -> (mmPdfInfo _),
    "mm_svg_dims"  -> (mmSvgDims _),
    "mm_avi_meta"  -> (mmAviMeta _),
    "mm_ebml_meta" -> (mmEbmlMeta _),
    "mm_elf_meta"  -> (mmElfMeta _),
    "mm_pe_meta"   -> (mmPeMeta _),
    "mm_zstd_meta" -> (mmZstdMeta _),
    "mm_lz4_meta"  -> (mmLz4Meta _),
    "mm_sqlite_meta" -> (mmSqliteMeta _),
    "mm_pcap_meta" -> (mmPcapMeta _),
    "mm_parquet_meta" -> (mmParquetMeta _),
    "mm_tfrecord_meta" -> (mmTfrecordMeta _),
    "mm_safetensors_meta" -> (mmSafetensorsMeta _),
    "mm_npy_meta" -> (mmNpyMeta _),
    "mm_gguf_meta" -> (mmGgufMeta _),
    "mm_avro_meta" -> (mmAvroMeta _),
    "mm_arrow_meta" -> (mmArrowMeta _),
    "mm_hdf5_meta" -> (mmHdf5Meta _),
  )


  def oracleSql: Map[String, String] = Map(
    "mm_afp" ->
      s"""WITH $afpFrameCte
         |SELECT doc_id, t AS pos, subfp FROM fp""".stripMargin,
    // H46: every frame band re-derived from the generating formula
    "mm_vid_dhash" ->
      s"""WITH $vidFrameCte
         |SELECT doc_id, t AS pos, b AS band, bv FROM vfp""".stripMargin,
    // E25: the band-bigram blocking + offset-histogram verification
    "mm_vid_pairs" ->
      s"""WITH $vidFrameCte,
         |$vidPairsCte
         |SELECT doc_a, doc_b, "offset", n_aligned FROM vpairs""".stripMargin,
    // E25 survivors: min-label recursive closure over verified pairs
    // (the mm_dhash_survivors convention)
    "mm_vid_survivors" ->
      s"""WITH RECURSIVE $vidFrameCte,
         |$vidPairsCte,
         |vund AS (SELECT doc_a AS u, doc_b AS v FROM vpairs
         |  UNION SELECT doc_b, doc_a FROM vpairs),
         |vclosure(id, lbl) AS (
         |  SELECT u, u FROM vund
         |  UNION
         |  SELECT vund.v, c.lbl FROM vclosure c JOIN vund ON vund.u = c.id
         |  WHERE c.lbl < vund.v
         |),
         |vcomp AS (SELECT id, min(lbl) AS component FROM vclosure GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(vcomp.component, d.doc_id) AS canonical_id,
         |  (coalesce(vcomp.component, d.doc_id) = d.doc_id)::int AS is_kept
         |FROM documents d LEFT JOIN vcomp ON vcomp.id = d.doc_id""".stripMargin,
    // H44: the per-pair score re-derived from the same embedding
    // formula, cosine in the same left-to-right double order
    "mm_clip_score" ->
      s"""WITH $clipEmbCte
         |SELECT doc_id, ${clipCosSql("i", "c")} AS clip_score,
         |  (CASE WHEN ${clipCosSql("i", "c")} >= $ClipThreshold
         |    THEN 1 ELSE 0 END)::int AS admitted
         |FROM emb""".stripMargin,
    // H45: the banded candidate join + exact-cosine verification,
    // re-derived from the same sign-band formula
    "mm_clip_retrieval" -> clipRetrievalOracleSql(clipEmbCte),
    // H52: the SAME retrieval body over the pixel-projection
    // embeddings — image tower re-derived from the generating grid
    // (== decoded pixels by H48 exactness), caption tower from the
    // base grid + noise formula
    "mm_clip_pixels" -> clipRetrievalOracleSql(clipPxCte),
    // E23: the bigram self-join + offset-histogram verification,
    // re-derived from the same frame formula
    "mm_afp_pairs" ->
      s"""WITH $afpFrameCte,
         |bg AS (
         |  SELECT a.doc_id, a.t, a.subfp AS v1, b.subfp AS v2
         |  FROM fp a JOIN fp b ON a.doc_id = b.doc_id AND b.t = a.t + 1
         |)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  (y.t - x.t)::int AS offset, count(*) AS n_aligned
         |FROM bg x JOIN bg y
         |  ON x.v1 = y.v1 AND x.v2 = y.v2 AND x.doc_id < y.doc_id
         |GROUP BY 1, 2, y.t - x.t
         |HAVING count(*) >= $AfpMinRun""".stripMargin,
    "mm_dhash" ->
      s"""WITH $dhashHashCte
         |SELECT doc_id, b0, b1, b2, b3 FROM h""".stripMargin,
    // H48: the REAL-decode face — the oracle is the generating
    // formula, so a pass proves decode(encode(grid)) == grid through
    // the production dHash arithmetic
    "mm_decode_dhash" ->
      s"""WITH $dhashHashCte
         |SELECT doc_id, 9 AS width, 8 AS height, b0, b1, b2, b3 FROM h""".stripMargin,
    // H49: the corruption is BY FORMULA (every 9th file truncated), so
    // the quarantine row class is exactly derivable
    "mm_decode_quarantine" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS ok,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 9 END AS width,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 8 END AS height
        |FROM documents""".stripMargin,
    // H50: the SECOND real container — bands re-derived from the
    // 8-bit generating grid, quarantine class from the corruption
    // formula; a pass proves decode∘encode through the GIF palette
    "mm_gif_decode" ->
      s"""WITH $dhash8Cte
         |SELECT doc_id,
         |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS ok,
         |  ${(0 until 4).map(b =>
            s"CASE WHEN doc_id % 9 = 0 THEN NULL ELSE b$b END AS b$b")
            .mkString(", ")}
         |FROM h8""".stripMargin,
    // H51: the THIRD real container (plain raster)
    "mm_bmp_decode" ->
      s"""WITH $dhash8Cte
         |SELECT doc_id, 9 AS width, 8 AS height, b0, b1, b2, b3 FROM h8""".stripMargin,
    "mm_dhash_pairs" ->
      s"""WITH $dhashHashCte,
         |bands AS (${(0 until 4)
          .map(b => s"SELECT doc_id, $b AS bi, b$b AS bv FROM h")
          .mkString(" UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
         |  FROM bands x JOIN bands y
         |    ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
         |)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT c.ida AS doc_a, c.idb AS doc_b,
         |    (bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1)) +
         |     bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)))::int AS hamming
         |  FROM cand c
         |  JOIN h ha ON ha.doc_id = c.ida
         |  JOIN h hb ON hb.doc_id = c.idb
         |) WHERE hamming <= $DHashThreshold""".stripMargin,
    // E22: the CC closure is the dedup_survivors oracle idiom — a
    // recursive min-label reachability with the lbl < v pruning
    "mm_dhash_survivors" ->
      s"""WITH RECURSIVE $dhashHashCte,
         |bands AS (${(0 until 4)
          .map(b => s"SELECT doc_id, $b AS bi, b$b AS bv FROM h")
          .mkString(" UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
         |  FROM bands x JOIN bands y
         |    ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
         |),
         |hp AS (
         |  SELECT ida AS u, idb AS v FROM (
         |    SELECT c.ida, c.idb,
         |      (bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1)) +
         |       bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))) AS hamming
         |    FROM cand c
         |    JOIN h ha ON ha.doc_id = c.ida
         |    JOIN h hb ON hb.doc_id = c.idb
         |  ) WHERE hamming <= $DHashThreshold
         |),
         |und AS (SELECT u, v FROM hp UNION SELECT v, u FROM hp),
         |closure(id, lbl) AS (
         |  SELECT u, u FROM und
         |  UNION
         |  SELECT und.v, c.lbl FROM closure c JOIN und ON und.u = c.id
         |  WHERE c.lbl < und.v
         |),
         |comp AS (SELECT id, min(lbl) AS component FROM closure GROUP BY id)
         |SELECT hh.doc_id,
         |  coalesce(comp.component, hh.doc_id) AS canonical_id,
         |  (coalesce(comp.component, hh.doc_id) = hh.doc_id)::int AS is_kept
         |FROM h hh LEFT JOIN comp ON comp.id = hh.doc_id""".stripMargin,
    "mm_dhash_admit" ->
      s"""WITH $dhashHashCte,
         |sp AS MATERIALIZED (
         |  SELECT doc_id, b0, b1, b2, b3,
         |    ('0x' || substr(md5('split|' || doc_id::varchar), 1, 4))::int
         |      < ${graft.text.TextQueries.TrainBucketMax} AS hist
         |  FROM h
         |),
         |bands AS (${(0 until 4)
          .map(b => s"SELECT doc_id, hist, $b AS bi, b$b AS bv FROM sp")
          .mkString(" UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
         |  FROM bands x JOIN bands y ON x.bi = y.bi AND x.bv = y.bv
         |  WHERE NOT x.hist AND y.hist
         |),
         |v AS (
         |  SELECT c.ida AS doc_id, count(*)::bigint AS n_candidates,
         |    min(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
         |        bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)))::int
         |      AS min_hamming
         |  FROM cand c JOIN sp a ON a.doc_id = c.ida JOIN sp b ON b.doc_id = c.idb
         |  GROUP BY 1
         |)
         |SELECT s.doc_id, coalesce(v.n_candidates, 0)::bigint AS n_candidates,
         |  v.min_hamming,
         |  (CASE WHEN coalesce(v.min_hamming, 64) > $DHashThreshold
         |        THEN 1 ELSE 0 END)::int AS admit
         |FROM sp s LEFT JOIN v ON v.doc_id = s.doc_id
         |WHERE NOT s.hist""".stripMargin,
    // mirrors mmSafetensorsMeta: the oracle REBUILDS the JSON header
    // text and measures it, so the u64 length read, the JSON slice,
    // and every extracted field are value-checked. Garbage every 9th,
    // truncated data every 5th, "b" tensor on even doc_ids.
    "mm_safetensors_meta" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    n_chars % 16 + 1 AS r, doc_id % 8 + 1 AS c,
        |    CASE doc_id % 3 WHEN 0 THEN 'F32' WHEN 1 THEN 'F16'
        |         ELSE 'BF16' END AS dt,
        |    CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 2 END AS isz,
        |    doc_id % 9 = 0 AS garbage, doc_id % 5 = 0 AS trunc,
        |    doc_id % 2 = 0 AS hasb
        |  FROM documents),
        |j AS (
        |  SELECT *, r*c*isz AS e1, r*c*isz + c*isz AS e2,
        |    '{"__metadata__":{"format":"pt"},"w":{"dtype":"' || dt ||
        |    '","shape":[' || r || ',' || c || '],"data_offsets":[0,' ||
        |    (r*c*isz) || ']}' ||
        |    CASE WHEN hasb THEN ',"b":{"dtype":"' || dt || '","shape":['
        |      || c || '],"data_offsets":[' || (r*c*isz) || ',' ||
        |      (r*c*isz + c*isz) || ']}' ELSE '' END || '}' AS hdr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN garbage THEN 0 ELSE 1 END AS valid_st,
        |  CASE WHEN garbage THEN NULL ELSE length(hdr) END::bigint AS header_len,
        |  CASE WHEN garbage THEN NULL WHEN hasb THEN 2 ELSE 1 END::int AS n_tensors,
        |  CASE WHEN garbage THEN NULL ELSE dt END AS dtype,
        |  CASE WHEN garbage THEN NULL ELSE r END::int AS t_rows,
        |  CASE WHEN garbage THEN NULL ELSE c END::int AS t_cols,
        |  CASE WHEN garbage THEN NULL WHEN hasb THEN e2 ELSE e1
        |       END::bigint AS declared_bytes,
        |  CASE WHEN garbage THEN NULL WHEN trunc THEN 1 ELSE 0
        |       END::int AS truncated
        |FROM j""".stripMargin,
    // mirrors mmNpyMeta: dict text + 16-byte padding arithmetic
    // rebuilt textually; garbage every 9th, truncated every 5th,
    // 1-d shape every 4th, fortran_order True every 7th
    "mm_npy_meta" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    doc_id % 9 = 0 AS garbage, doc_id % 5 = 0 AS trunc,
        |    doc_id % 4 = 0 AS oned,
        |    n_chars % 100 + 1 AS n, n_chars % 16 + 1 AS r,
        |    doc_id % 8 + 1 AS c,
        |    CASE doc_id % 3 WHEN 0 THEN '<f4' WHEN 1 THEN '<f8'
        |         ELSE '<i8' END AS descr,
        |    CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 8 END AS isz,
        |    CASE WHEN doc_id % 7 = 0 THEN 'True' ELSE 'False' END AS ft
        |  FROM documents),
        |j AS (
        |  SELECT *,
        |    CASE WHEN oned THEN '(' || n || ',)'
        |         ELSE '(' || r || ', ' || c || ')' END AS shp,
        |    CASE WHEN oned THEN n ELSE r*c END AS nelems
        |  FROM t),
        |k AS (
        |  SELECT *, length('{''descr'': ''' || descr ||
        |    ''', ''fortran_order'': ' || ft || ', ''shape'': ' || shp ||
        |    ', }') + 1 AS rawlen
        |  FROM j),
        |m AS (SELECT *,
        |  rawlen + (16 - (10 + rawlen) % 16) % 16 AS hlen FROM k)
        |SELECT doc_id,
        |  CASE WHEN garbage THEN 0 ELSE 1 END AS valid_npy,
        |  CASE WHEN garbage THEN NULL ELSE hlen END::int AS header_len,
        |  CASE WHEN garbage THEN NULL ELSE descr END AS descr,
        |  CASE WHEN garbage THEN NULL WHEN doc_id % 7 = 0 THEN 1 ELSE 0
        |       END::int AS fortran_order,
        |  CASE WHEN garbage THEN NULL WHEN oned THEN 1 ELSE 2 END::int AS ndim,
        |  CASE WHEN garbage THEN NULL WHEN oned THEN n ELSE r END::bigint AS d1,
        |  CASE WHEN garbage OR oned THEN NULL ELSE c END::bigint AS d2,
        |  CASE WHEN garbage THEN NULL ELSE nelems * isz END::bigint AS data_bytes,
        |  CASE WHEN garbage THEN NULL WHEN trunc THEN 1 ELSE 0
        |       END::int AS truncated,
        |  CASE WHEN garbage THEN NULL ELSE 1 END::int AS aligned
        |FROM m""".stripMargin,
    // mirrors mmAvroMeta: schema_len rebuilds the schema text and
    // measures it (the field whose varint crosses the 1/2-byte
    // boundary); garbage every 9th, cut mid-second-key every 5th
    "mm_avro_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_avro,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 2 END::bigint AS n_meta,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE 'avro.codec' END AS first_key,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE CASE doc_id % 4 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
        |            WHEN 2 THEN 'snappy' ELSE 'zstandard' END END AS codec,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 11 END::bigint AS second_key_len,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 5 = 0 THEN NULL
        |       ELSE length('{"type":"record","name":"r","doc":"' ||
        |            repeat('x', (n_chars % 120 + 2)::int) ||
        |            '","fields":[]}') END::bigint AS schema_len,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END::int AS truncated
        |FROM documents""".stripMargin,
    // mirrors mmArrowMeta: file = 8 + fill + 4 + 6 bytes; truncated
    // leg declares fill+500; corrupt trailing magic every 6th
    "mm_arrow_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 6 = 0 THEN 0 ELSE 1 END AS valid_arrow,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       ELSE doc_id % 23 + 1 + 18 END::bigint AS file_bytes,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN doc_id % 23 + 1 + 500
        |       ELSE doc_id % 23 + 1 END::bigint AS footer_len,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END::int AS footer_fits
        |FROM documents""".stripMargin,
    // mirrors mmHdf5Meta: v0 legs every 3rd (no eof field), v2 legs
    // otherwise with eof = true length (+4096 on the truncated 5ths);
    // corrupt signature every 9th
    "mm_hdf5_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_hdf5,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 0 ELSE 2 END::int AS sb_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 8 ELSE 4 END::int AS offset_size,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 8 ELSE 4 END::int AS length_size,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 3 = 0 THEN NULL
        |       ELSE 48 + doc_id % 31 + 1 +
        |            CASE WHEN doc_id % 5 = 0 THEN 4096 ELSE 0 END
        |  END::bigint AS eof_addr,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 3 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END::int AS truncated
        |FROM documents""".stripMargin,
    // mirrors mmGgufMeta by the generating formulas: garbage every
    // 9th, key cut mid-bytes every 5th, version 2 every 4th
    "mm_gguf_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_gguf,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 2 ELSE 3 END::int AS version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE doc_id % 5 END::bigint AS n_tensors,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE doc_id % 7 + 1 END::bigint AS n_kv,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 20 END::bigint AS key_len,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 5 = 0 THEN NULL
        |       ELSE 'general.architecture' END AS first_key,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 5 = 0 THEN NULL
        |       ELSE 8 END::int AS value_type,
        |  CASE WHEN doc_id % 9 = 0 OR doc_id % 5 = 0 THEN NULL
        |       ELSE CASE doc_id % 3 WHEN 0 THEN 'llama'
        |            WHEN 1 THEN 'gpt2' ELSE 'bert' END END AS architecture,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END::int AS truncated
        |FROM documents""".stripMargin,
    // mirrors mmTfrecordMeta: l1 = doc_id%40+1, l2 = n_chars%60+1,
    // third record on doc_id%3!=0 (len doc_id%20+1), truncated when
    // also doc_id%5=0, garbage shard every 9th
    "mm_tfrecord_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_tfrecord,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 0 THEN 3
        |       ELSE 2 END::int AS n_records,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 0
        |         THEN (doc_id % 40 + 1) + (n_chars % 60 + 1) + (doc_id % 20 + 1)
        |       ELSE (doc_id % 40 + 1) + (n_chars % 60 + 1)
        |  END::bigint AS payload_bytes,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE doc_id % 40 + 1 END::bigint AS first_len,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 3 <> 0 AND doc_id % 5 = 0 THEN 1
        |       ELSE 0 END::int AS truncated
        |FROM documents""".stripMargin,

    // mirrors mmParquetMeta: file = 4 + fill + 8 bytes trailer;
    // truncated leg declares fill+1000; every 6th corrupt tail magic
    "mm_parquet_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 6 = 0 THEN 0 ELSE 1 END AS valid_parquet,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       ELSE doc_id % 19 + 1 + 12 END::bigint AS file_bytes,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN doc_id % 19 + 1 + 1000
        |       ELSE doc_id % 19 + 1 END::bigint AS footer_len,
        |  CASE WHEN doc_id % 6 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END::int AS footer_fits
        |FROM documents""".stripMargin,
    // mirrors mmSqliteMeta: page size 2^(doc_id%7+9) except the
    // big leg's literal 1 → 65536; every 9th corrupt
    "mm_sqlite_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_sqlite,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 5 = 0 THEN 65536
        |       ELSE (2 ** (doc_id % 7 + 9))::int END::int AS page_size,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'wal' ELSE 'legacy' END AS write_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE n_chars % 100000 + 1 END::bigint AS n_pages,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE CASE doc_id % 3 + 1 WHEN 1 THEN 'utf8'
        |            WHEN 2 THEN 'utf16le' ELSE 'utf16be' END END AS encoding,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE (n_chars % 100000 + 1)
        |         * (CASE WHEN doc_id % 5 = 0 THEN 65536
        |            ELSE (2 ** (doc_id % 7 + 9))::bigint END)
        |  END::bigint AS db_bytes
        |FROM documents""".stripMargin,
    // mirrors mmPcapMeta: leg 0 LE-µs, 1 BE-µs, 2 LE-ns; linktype
    // cycles [1,101,105,113,228]; every 10th corrupt
    "mm_pcap_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END AS valid_pcap,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       WHEN doc_id % 3 = 1 THEN 'be' ELSE 'le' END AS byte_order,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       WHEN doc_id % 3 = 2 THEN 'ns' ELSE 'us' END AS ts_resolution,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE '2.4' END AS version,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE n_chars % 65536 + 64 END::bigint AS snaplen,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 101
        |            WHEN 2 THEN 105 WHEN 3 THEN 113 ELSE 228 END
        |  END::int AS linktype,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE CASE doc_id % 5 WHEN 0 THEN 'ethernet' WHEN 1 THEN 'raw_ip'
        |            WHEN 2 THEN 'ieee802_11' WHEN 3 THEN 'linux_sll'
        |            ELSE 'other' END
        |  END AS link_name
        |FROM documents""".stripMargin,
    // mirrors mmZstdMeta by the generating formulas; every 7th corrupt.
    // 2**(10+exp) is exact in both engines' doubles at these exponents.
    "mm_zstd_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS valid_zstd,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END::int AS single_segment,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END::int AS has_checksum,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN doc_id % 200 + 10
        |       WHEN doc_id % 3 = 1 THEN
        |         (2 ** (10 + n_chars % 12))::bigint
        |           + ((2 ** (10 + n_chars % 12))::bigint // 8) * (doc_id % 8)
        |       ELSE (2 ** (10 + doc_id % 10))::bigint
        |  END::bigint AS window_size,
        |  CASE WHEN doc_id % 7 <> 0 AND doc_id % 3 = 2
        |       THEN doc_id % 65536 END::bigint AS dict_id,
        |  CASE WHEN doc_id % 7 = 0 OR doc_id % 3 = 2 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN doc_id % 200 + 10
        |       ELSE n_chars % 60000 + 256
        |  END::bigint AS content_size
        |FROM documents""".stripMargin,
    // mirrors mmLz4Meta by the generating formulas; every 8th corrupt
    "mm_lz4_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 8 = 0 THEN 0 ELSE 1 END AS valid_lz4,
        |  CASE WHEN doc_id % 8 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END::int AS block_indep,
        |  CASE WHEN doc_id % 8 = 0 THEN NULL
        |       WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END::int AS block_checksum,
        |  CASE WHEN doc_id % 8 = 0 THEN NULL
        |       WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END::int AS content_checksum,
        |  CASE WHEN doc_id % 8 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN
        |         CASE WHEN doc_id % 2 = 0 THEN 64 ELSE 256 END
        |       WHEN doc_id % 3 = 1 THEN 4096 ELSE 256
        |  END::int AS block_max_kb,
        |  CASE WHEN doc_id % 8 = 0 OR doc_id % 3 = 1 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN n_chars % 100000 + 5
        |       ELSE n_chars % 1000 + 1
        |  END::bigint AS content_size,
        |  CASE WHEN doc_id % 8 <> 0 AND doc_id % 3 = 2
        |       THEN doc_id % 100000 END::bigint AS dict_id
        |FROM documents""".stripMargin,
    // mirrors mmElfMeta by the generating formulas; every 11th corrupt
    "mm_elf_meta" -> {
      val machCase = ElfMachines.zipWithIndex
        .map { case ((id, _), i) => s"WHEN $i THEN $id" }.mkString(" ")
      val nameCase = ElfMachines.zipWithIndex
        .map { case ((_, nm), i) => s"WHEN $i THEN '$nm'" }.mkString(" ")
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS valid_elf,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |       WHEN doc_id % 2 + 1 = 2 THEN 64 ELSE 32 END::int AS bits,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |       WHEN n_chars % 2 + 1 = 2 THEN 'BE' ELSE 'LE' END AS endianness,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |       ELSE CASE doc_id % 4 + 1 WHEN 1 THEN 'REL' WHEN 2 THEN 'EXEC'
         |            WHEN 3 THEN 'DYN' ELSE 'CORE' END END AS elf_type,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |       ELSE CASE doc_id % ${ElfMachines.size} $machCase END END::int AS machine_id,
         |  CASE WHEN doc_id % 11 = 0 THEN NULL
         |       ELSE CASE doc_id % ${ElfMachines.size} $nameCase END END AS machine
         |FROM documents""".stripMargin
    },
    // mirrors mmPeMeta: pe_off = 64 + the variable DOS stub; every
    // 13th corrupt
    "mm_pe_meta" -> {
      val machCase = PeMachines.zipWithIndex
        .map { case ((id, _), i) => s"WHEN $i THEN $id" }.mkString(" ")
      val nameCase = PeMachines.zipWithIndex
        .map { case ((_, nm), i) => s"WHEN $i THEN '$nm'" }.mkString(" ")
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS valid_mz,
         |  CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS valid_pe,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL
         |       ELSE 64 + (doc_id % 8) * 4 END::int AS pe_off,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL
         |       ELSE CASE doc_id % ${PeMachines.size} $machCase END END::int AS machine_id,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL
         |       ELSE CASE doc_id % ${PeMachines.size} $nameCase END END AS machine,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars % 12 + 1 END::int AS n_sections,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id * 7 % 100000000 END::bigint AS timestamp,
         |  CASE WHEN doc_id % 13 = 0 THEN NULL
         |       WHEN doc_id % 2 = 0 THEN 'PE32+' ELSE 'PE32' END AS format
         |FROM documents""".stripMargin
    },
    // mirrors mmEbmlMeta by the generating formulas: vint width 2 on
    // every 4th doc, payload 23 + doctype length, every 9th doc
    // corrupt (all parsed fields null)
    "mm_ebml_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_ebml,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS hdr_vint_len,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE (23 + CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 8 END) END::bigint AS header_size,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (n_chars % 2 + 1) END::int AS ebml_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       WHEN doc_id % 2 = 1 THEN 'webm' ELSE 'matroska' END AS doctype,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (doc_id % 4 + 1) END::int AS doctype_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (doc_id % 2 = 1)::int END AS is_webm
        |FROM documents""".stripMargin,
    // mirrors mmAviMeta by the generating formulas: hdrl_off by chunk
    // arithmetic (12 RIFF header bytes, optional 8+junkLen JUNK)
    "mm_avi_meta" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    ((n_chars % 4 + 1) * 16667)::bigint AS usec,
        |    (doc_id % 3000 + 30)::bigint AS frames,
        |    (doc_id % 2 + 1)::int AS streams,
        |    (n_chars % 1280 + 16)::int AS w,
        |    (doc_id % 720 + 16)::int AS h,
        |    CASE WHEN doc_id % 3 <> 0 THEN ((doc_id % 12) * 2 + 2 + 8) ELSE 0 END AS junk_span
        |  FROM documents
        |)
        |SELECT doc_id, 1 AS valid_avi, (13 + junk_span)::int AS hdrl_off,
        |  usec AS usec_per_frame, frames AS total_frames,
        |  streams AS n_streams, w AS width, h AS height,
        |  round(1000000.0 / usec, 4) AS fps,
        |  round((usec * frames)::double / 1000.0, 4) AS duration_ms
        |FROM g""".stripMargin,
    // mirrors mmMidiMeta by the generating formula: every 13th doc is
    // corrupt (all parsed fields null), SMPTE flag on every 4th
    "mm_midi_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS valid_midi,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE (doc_id % 3)::int END AS format,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE (doc_id % 15 + 1)::int END AS ntrks,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END::int AS smpte,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE (n_chars % 960 + 24)::int END AS division,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE (n_chars % 4096)::bigint END AS first_track_len
        |FROM documents""".stripMargin,
    // mirrors mmSvgDims: width/height only on even docs, viewBox
    // fallback on odd, corrupt on every 11th
    "mm_svg_dims" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS valid_svg,
        |  CASE WHEN doc_id % 11 = 0 OR doc_id % 2 <> 0 THEN NULL
        |       ELSE (n_chars % 1200 + 1)::int END AS width,
        |  CASE WHEN doc_id % 11 = 0 OR doc_id % 2 <> 0 THEN NULL
        |       ELSE (doc_id % 800 + 1)::int END AS height,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE (n_chars % 1200 + 1)::int END AS eff_w,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE (doc_id % 800 + 1)::int END AS eff_h
        |FROM documents""".stripMargin,
    // mirrors mmPdfInfo: corrupt header on every 9th (all fields null)
    "mm_pdf_info" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_pdf,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL
        |       ELSE '1.' || (doc_id % 8) END AS pdf_version,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (doc_id % 6 + 1)::int END AS n_objs,
        |  CASE WHEN doc_id % 9 = 0 THEN NULL ELSE n_chars END AS startxref
        |FROM documents""".stripMargin,
    "mm_tar_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_tar,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE doc_id % 3
        |       WHEN 0 THEN 'docs/doc_' || doc_id || '.txt'
        |       WHEN 1 THEN 'docs/dir_' || doc_id || '/'
        |       ELSE 'docs/link_' || doc_id END) END AS name,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 0 THEN n_chars % 10000 + 1
        |      ELSE 0 END)::bigint END AS size,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (1700000000 + doc_id)::bigint END AS mtime,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE doc_id % 3 WHEN 0 THEN 'file' WHEN 1 THEN 'dir'
        |      ELSE 'symlink' END) END AS entry_type,
        |  CASE WHEN doc_id % 9 <> 0 THEN 'builder' END AS uname
        |FROM documents""".stripMargin,

    "mm_gzip_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS valid_gzip,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::int END AS has_name,
        |  CASE WHEN doc_id % 11 <> 0 THEN 0::int END AS has_extra,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END)::int END AS is_text,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (1600000000 + doc_id * 60)::bigint END AS mtime,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 2 THEN 'fastest' ELSE 'best' END)
        |  END AS xfl_hint,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 1 THEN 'fat' ELSE 'unix' END)
        |  END AS os_name,
        |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 = 0 THEN
        |    'doc_' || doc_id || '.json' END AS fname
        |FROM documents""".stripMargin,

    "mm_zip_entry" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS valid_zip,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 0 THEN 'stored' ELSE 'deflated' END)
        |  END AS method,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (doc_id * 2654435761 % 4294967296)::bigint END AS crc32,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 0 THEN n_chars % 500 + 20
        |      ELSE (n_chars % 5000 + 100) // 3 + 18 END)::bigint
        |  END AS compressed_size,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE WHEN doc_id % 3 = 0 THEN n_chars % 500 + 20
        |      ELSE n_chars % 5000 + 100 END)::bigint
        |  END AS uncompressed_size,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 19
        |      ELSE 9 END)::int END AS name_len,
        |  CASE WHEN doc_id % 9 <> 0 THEN
        |    (CASE doc_id % 3 WHEN 0 THEN 'mimetype'
        |      WHEN 1 THEN '[Content_Types].xml'
        |      ELSE 'data.json' END) END AS filename
        |FROM documents""".stripMargin,

    "mm_ogg_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS valid_ogg,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)::int END AS is_bos,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)::int END AS is_eos,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 7 <> 0 THEN 0
        |      ELSE (doc_id % 1000) * 100 END)::bigint END AS granule,
        |  CASE WHEN doc_id % 11 <> 0 THEN (doc_id % 100000)::bigint END AS serial,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 7 <> 0 THEN 0
        |      ELSE doc_id % 50 + 1 END)::bigint END AS page_seq,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 7 <> 0 THEN 2 ELSE 1 END)::int END AS n_segments,
        |  CASE WHEN doc_id % 11 <> 0 THEN
        |    (CASE WHEN doc_id % 7 <> 0 THEN 30 + n_chars % 200
        |      ELSE n_chars % 200 END)::int END AS body_len,
        |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 <> 0
        |    THEN (doc_id % 2 + 1)::int END AS channels,
        |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 <> 0 THEN
        |    (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 WHEN 3 THEN 44100
        |      WHEN 4 THEN 48000 END)::bigint END AS sample_rate
        |FROM documents""".stripMargin,

    "mm_features" ->
      """SELECT doc_id, octet_length(text::BLOB) AS byte_len, md5(text) AS payload_md5,
        |  'text/plain' AS mime, lang, source, n_chars
        |FROM documents""".stripMargin,

    "mm_frames" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    unnest(range(0, (octet_length(text::BLOB) + ${FrameBytes - 1}) // $FrameBytes))::int AS frame_idx
         |  FROM documents
         |)
         |SELECT doc_id, frame_idx,
         |  md5(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_md5,
         |  length(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_len
         |FROM f""".stripMargin,

    "mm_png_dims" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    '$PngSigHex' || '0000000d' || '49484452'
         |      || lpad(lower(hex(n_chars % 1024 + 1)), 8, '0')
         |      || lpad(lower(hex(doc_id % 768 + 1)), 8, '0')
         |      || '0806000000' AS hx
         |  FROM documents
         |)
         |SELECT doc_id,
         |  (substr(hx, 1, 16) = '$PngSigHex')::int AS valid_sig,
         |  ('0x' || substr(hx, 33, 8))::bigint AS width,
         |  ('0x' || substr(hx, 41, 8))::bigint AS height
         |FROM b""".stripMargin,

    // Independent derivation: the oracle never parses bytes — it
    // recomputes marker, dims, AND the SOF byte offset from the
    // generating formulas (segment arithmetic: 3 after SOI, +18 APP0,
    // +4+p optional COM, +4+q APP1), so the Spark-side scan must hop
    // every variable-length segment exactly right to hash-match.
    "mm_jpeg_dims" ->
      """SELECT doc_id,
        |  1 AS valid_soi,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ffc2' ELSE 'ffc0' END AS sof_marker,
        |  (25 + (n_chars % 13 + 1)
        |     + CASE WHEN doc_id % 3 <> 0 THEN 4 + (doc_id % 17 + 1) ELSE 0 END)::int AS sof_off,
        |  (n_chars % 512 + 16)::int AS width,
        |  (doc_id % 384 + 16)::int AS height
        |FROM documents""".stripMargin,

    // Independent derivation, like mm_jpeg_dims: the oracle recomputes
    // channels/rate/frames from the generating formulas and fmt_off
    // from chunk arithmetic (12 RIFF/WAVE bytes, optional 8+listLen
    // LIST chunk, 8-byte fmt header → payload), never parsing bytes —
    // so the Spark-side little-endian reads and the chunk walk are both
    // value-checked.
    "mm_wav_meta" -> {
      val rateCase = WavRates.zipWithIndex
        .map { case (r, i) => s"WHEN $i THEN $r" }.mkString(" ")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    (doc_id % 2 + 1)::int AS channels,
         |    (CASE n_chars % ${WavRates.size} $rateCase END)::bigint AS sample_rate,
         |    (n_chars % 1000 + 1)::bigint AS n_frames,
         |    CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 10) * 2 + 4 + 8 ELSE 0 END AS list_span
         |  FROM documents
         |)
         |SELECT doc_id, 1 AS valid_riff,
         |  (13 + list_span + 8)::int AS fmt_off,
         |  channels, sample_rate,
         |  16 AS bits_per_sample, (channels * 2)::int AS block_align,
         |  (n_frames * channels * 2)::bigint AS data_size, n_frames,
         |  round((n_frames * 1000)::double / sample_rate, 4) AS duration_ms
         |FROM g""".stripMargin
    },

    // Independent derivation (the mm_jpeg/wav convention): moov_off by
    // box arithmetic (20 ftyp bytes, optional 8+freeLen free box),
    // timescale/duration/mdat from the generating formulas — the
    // Spark-side box walk and big-endian reads are both value-checked.
    // Every 5th asset's mdat uses the largesize encoding (16-byte
    // header), so its declared size is data_len + 16, not + 8.
    "mm_mp4_meta" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    ((n_chars % 4 + 1) * 600)::bigint AS timescale,
        |    (doc_id % 9000 + 600)::bigint AS duration_ticks,
        |    (n_chars % 2048 + 8)::bigint AS data_len,
        |    CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 11 + 1) + 8 ELSE 0 END AS free_span,
        |    CASE WHEN doc_id % 5 = 0 THEN 16 ELSE 8 END AS mdat_header
        |  FROM documents
        |)
        |SELECT doc_id, 1 AS valid_ftyp,
        |  (1 + 20 + free_span)::int AS moov_off,
        |  timescale, duration_ticks,
        |  (data_len + mdat_header)::bigint AS mdat_size,
        |  round(duration_ticks::double / timescale, 6) AS duration_s
        |FROM g""".stripMargin,

    // independent derivation from the generating formulas (the
    // mm_jpeg/wav/mp4 convention) — sign handling and LE byte order
    // on the Spark side are both value-checked
    "mm_bmp_dims" ->
      """SELECT doc_id, 1 AS valid_bmp,
        |  (n_chars % 1024 + 16)::bigint AS width,
        |  (doc_id % 512 + 16)::bigint AS height,
        |  (doc_id % 4 = 0)::int AS top_down,
        |  CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 32 END AS bpp
        |FROM documents""".stripMargin,

    // independent derivation from the generating formulas — variant
    // dispatch, the 14-bit masks, the VP8L bit-unpack, and the 24-bit
    // LE canvas reads are all value-checked against these
    "mm_webp_dims" ->
      """SELECT doc_id, 1 AS valid_webp,
        |  CASE doc_id % 3 WHEN 0 THEN 'VP8 ' WHEN 1 THEN 'VP8L'
        |    ELSE 'VP8X' END AS variant,
        |  (n_chars % 1024 + 16)::bigint AS width,
        |  (doc_id % 512 + 16)::bigint AS height
        |FROM documents""".stripMargin,

    // formula-derived, with the packed-byte bit fields value-checked:
    // 0x93 → GCT present, size bits 3 (+1 = 4); 0x70 → no GCT, bits 1
    "mm_gif_dims" ->
      """SELECT doc_id, 1 AS valid_gif,
        |  CASE WHEN doc_id % 2 = 0 THEN '89a' ELSE '87a' END AS version,
        |  (n_chars % 1024 + 16)::int AS width,
        |  (doc_id % 512 + 16)::int AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_gct,
        |  CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 1 END AS gct_bits
        |FROM documents""".stripMargin,

    // formula-derived; byte order, the SHORT/LONG width dispatch, and
    // the left-justified inline rule are all value-checked
    "mm_tiff_dims" ->
      """SELECT doc_id, 1 AS valid_tiff,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  (n_chars % 1024 + 16)::bigint AS width,
        |  (doc_id % 512 + 16)::bigint AS height
        |FROM documents""".stripMargin,

    // formula-derived: pHYs/tEXt values from the generating formulas;
    // the either-order chunk walk is value-checked by doc parity
    "mm_png_chunks" ->
      """SELECT doc_id, 1 AS valid_png,
        |  (n_chars % 5000 + 72)::bigint AS phys_x,
        |  (doc_id % 5000 + 72)::bigint AS phys_y,
        |  1 AS phys_unit,
        |  (doc_id % 40 + 6)::bigint AS text_len
        |FROM documents""".stripMargin,

    // frame_off by syncsafe arithmetic (11 + tag payload when the tag
    // is present), bitrate/rate through the same published tables;
    // the bit-field packing on the Spark side is value-checked
    "mm_mp3_meta" -> {
      val brCase = Mp3Bitrates.zipWithIndex
        .map { case (b, i) => s"WHEN ${i + 1} THEN $b" }.mkString(" ")
      val srCase = Mp3Rates.zipWithIndex
        .map { case (r, i) => s"WHEN $i THEN $r" }.mkString(" ")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 14 + 1 $brCase END)::int AS bitrate_kbps,
         |    (CASE doc_id % 3 $srCase END)::int AS sample_rate,
         |    ((doc_id + n_chars) % 2)::int AS padding,
         |    CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 200 + 4) ELSE NULL END AS tag_len
         |  FROM documents
         |)
         |SELECT doc_id, 1 AS valid_mp3,
         |  (tag_len IS NOT NULL)::int AS has_id3,
         |  coalesce(tag_len + 11, 1)::int AS frame_off,
         |  bitrate_kbps, sample_rate, padding,
         |  (bitrate_kbps * 144000 // sample_rate + padding)::bigint AS frame_len
         |FROM g""".stripMargin
    },

    // app1_off derived independently by segment arithmetic (2 SOI
    // bytes + optional 4+payload APP0 → 1-based marker position);
    // byte order and orientation from the generating formulas
    "mm_exif" ->
      """SELECT doc_id, 1 AS valid_exif,
        |  (3 + CASE WHEN doc_id % 3 <> 0
        |     THEN 4 + (doc_id % 16 + 4) ELSE 0 END)::int AS app1_off,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  (doc_id % 8 + 1)::int AS orientation
        |FROM documents""".stripMargin,

    // formula-derived: datetime from the generating format string,
    // lat/lon as exact signed integer milli-arcseconds —
    // sign·(deg·3600000 + min·60000 + secMs) — so both engines
    // compute in ℤ and the r8 round(,6) decimal-tie class cannot
    // occur; the pointer-following and rational dereferences are
    // value-checked against these formulas
    "mm_exif_gps" ->
      """SELECT doc_id, 1 AS valid_exif,
        |  printf('2020:%02d:%02d %02d:%02d:%02d',
        |    doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24,
        |    doc_id % 60, (doc_id * 7) % 60) AS datetime_original,
        |  (((doc_id % 90) * 3600000 + (doc_id % 60) * 60000
        |      + (doc_id * 37) % 60000)
        |    * CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)::bigint AS lat_mas,
        |  (((doc_id % 180) * 3600000 + ((doc_id * 3) % 60) * 60000
        |      + (doc_id * 53) % 60000)
        |    * CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END)::bigint AS lon_mas
        |FROM documents""".stripMargin,

    // formula-derived incl. the 0-means-256 quirk and the cursor
    // rejection leg
    "mm_ico_dims" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS valid_ico,
        |  CASE WHEN doc_id % 5 <> 0 THEN (doc_id % 3 + 1)::int END AS n_images,
        |  CASE WHEN doc_id % 5 <> 0 THEN
        |    (CASE WHEN doc_id % 8 = 0 THEN 256 ELSE doc_id % 255 + 1 END)::int
        |  END AS width,
        |  CASE WHEN doc_id % 5 <> 0 THEN
        |    (CASE WHEN doc_id % 8 = 0 THEN 256 ELSE n_chars % 255 + 1 END)::int
        |  END AS height,
        |  CASE WHEN doc_id % 5 <> 0 THEN
        |    (CASE doc_id % 5 WHEN 1 THEN 4 WHEN 2 THEN 8 WHEN 3 THEN 24
        |      WHEN 4 THEN 32 END)::int
        |  END AS bpp
        |FROM documents""".stripMargin,

    // formula-derived: the tag walk's frame ids/sizes/order are
    // value-checked by reprinting the generating strings; n_frames
    // counts the conditional TALB, absent tag nulls everything
    "mm_id3_tags" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS valid_id3,
        |  CASE WHEN doc_id % 3 <> 0
        |    THEN CASE WHEN doc_id % 4 <> 0 THEN 3 ELSE 2 END END AS n_frames,
        |  CASE WHEN doc_id % 3 <> 0 THEN 'Title_' || (doc_id % 50) END AS title,
        |  CASE WHEN doc_id % 3 <> 0 THEN 'Artist_' || (doc_id % 20) END AS artist,
        |  CASE WHEN doc_id % 3 <> 0 AND doc_id % 4 <> 0
        |    THEN 'Album_' || (doc_id % 7) END AS album
        |FROM documents""".stripMargin,

    // formula-derived; the 20/3/5/36-bit unpack (incl. the 36-bit
    // span crossing the lo-u32 boundary on every 5th asset) is
    // value-checked. Duration rounds at 6 — tie-free for every rate
    // in the synthetic set (see withFlacInfo's scaladoc).
    "mm_flac_meta" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 22050
        |       ELSE 44100 END)::bigint AS sample_rate,
        |    (doc_id % 8 + 1)::int AS channels,
        |    (CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END)::int AS bits_per_sample,
        |    ((n_chars % 100000)
        |      + CASE WHEN doc_id % 5 = 0 THEN 8589934592 ELSE 0 END)::bigint
        |      AS total_samples
        |  FROM documents
        |)
        |SELECT doc_id, 1 AS valid_flac, 4096 AS min_block, 4096 AS max_block,
        |  sample_rate, channels, bits_per_sample, total_samples,
        |  round(total_samples::double / sample_rate, 6) AS duration_sec
        |FROM g""".stripMargin,

    "mm_decode" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS h, unnest(range(0, 8))::int AS dim_idx
        |  FROM documents
        |)
        |SELECT doc_id, dim_idx,
        |  round((('0x' || substr(h, dim_idx * 4 + 1, 4))::int / 65536.0), 4) AS value
        |FROM d""".stripMargin,
  )
}
