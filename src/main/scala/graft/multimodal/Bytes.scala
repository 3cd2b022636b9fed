package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The byte-field codec of the multimodal header parsers and of the
  * synthesizers that write their test streams: every fixed-width read
  * of a binary column and every hex write of a field is spelled here,
  * once, as pure codegen'd expressions (substring on binary + hex +
  * conv on the read side; hex + lpad, byte-reversed for little-endian,
  * on the write side).
  *
  * Offsets are 1-based byte positions, as Spark's `substr` counts
  * them; a read that starts past the end of the stream is null.
  *
  * Cast policy: a field of 1-3 bytes reads as int, one of 4-8 bytes as
  * long, so every value of width up to 4 is exact. A value that does
  * not fit its result type (an 8-byte field at or above 2^63, a
  * variable-width field too wide for its target) reads as null: the
  * parsers' guards then freeze the walk, where an ANSI cast or checked
  * multiplication would fail the whole query. */
private[multimodal] object Bytes {

  private def intOrLong(width: Int): String = if (width <= 3) "int" else "long"

  /** Lowercase hex of the `n` bytes at `off`. */
  def hexAt(bin: Column, off: Column, n: Int): Column =
    lower(hex(bin.substr(off, lit(n))))

  /** True when the bytes at `off` spell `magicHex` (lowercase hex). */
  def magic(bin: Column, off: Column, magicHex: String): Column =
    hexAt(bin, off, magicHex.length / 2) === magicHex

  /** Decimal digits of the big-endian bytes at `off`. */
  private def digits(bin: Column, off: Column, width: Column): Column =
    conv(hex(bin.substr(off, width)), 16, 10)

  /** Unsigned big-endian field of `width` (1-8) bytes at `off`. */
  def be(bin: Column, off: Column, width: Int): Column =
    if (width <= 4) digits(bin, off, lit(width)).cast(intOrLong(width))
    else digits(bin, off, lit(width)).try_cast("long")

  /** Unsigned big-endian field whose byte width is a per-row column,
    * read as `to` ("int" or "long"); a value that does not fit, or a
    * width over 8 bytes, is null. */
  def be(bin: Column, off: Column, width: Column, to: String): Column =
    when(width <= 8, digits(bin, off, width).try_cast(to))

  /** Unsigned byte at `off`. */
  def u8(bin: Column, off: Column): Column = be(bin, off, 1)

  /** Unsigned little-endian field of `width` (1-4 or 8) bytes at `off`:
    * the bytes are combined arithmetically, least significant first. An
    * 8-byte field is two u32 halves; one whose high half has the top bit
    * set overflows the long product and reads as null. */
  def le(bin: Column, off: Column, width: Int): Column =
    if (width == 8) le(bin, off, 4) + try_multiply(le(bin, off + 4, 4), lit(4294967296L))
    else {
      require(width >= 1 && width <= 4, s"unsupported little-endian width $width")
      val t = intOrLong(width)
      (0 until width).map { i =>
        val b = digits(bin, if (i == 0) off else off + i, lit(1)).cast(t)
        if (i == 0) b else b * (if (t == "int") lit(1 << (8 * i)) else lit(1L << (8 * i)))
      }.reduce(_ + _)
    }

  /** `p`, a position computed from fields read out of `bin`, as an int
    * offset, or null when it lies past the end of `bin`: a pointer out
    * of the stream freezes the walk instead of overflowing an int. */
  def pos(bin: Column, p: Column): Column = when(p <= length(bin), p.cast("int"))

  /** Unsigned field whose byte order is decided per row: little-endian
    * where `isLe` holds, big-endian otherwise. */
  def uint(bin: Column, off: Column, width: Int, isLe: Column): Column =
    when(isLe, le(bin, off, width)).otherwise(be(bin, off, width))

  /** Signed little-endian i32 (two's complement) at `off`, as a long. */
  def i32le(bin: Column, off: Column): Column = {
    val u = le(bin, off, 4)
    when(u >= 2147483648L, u - 4294967296L).otherwise(u)
  }

  /** ID3v2 syncsafe integer: 4 bytes at `off` holding 7 bits each. The
    * high bit of every byte is kept clear so a size can never fake an
    * MPEG frame sync; it is masked on read. */
  def syncsafe(bin: Column, off: Column): Column =
    (0 until 4).map { i =>
      val b = u8(bin, if (i == 0) off else off + i).bitwiseAND(lit(0x7f))
      if (i == 3) b else shiftleft(b, 7 * (3 - i))
    }.reduce(_ + _)

  /** `c` (< 2^28) as a 4-byte syncsafe field. */
  def syncsafeHex(c: Column): Column =
    concat((0 until 4).map { i =>
      beHex((if (i == 3) c else shiftright(c, 7 * (3 - i))).bitwiseAND(lit(0x7f)), 1)
    }: _*)

  /** `c` as a `width`-byte big-endian field: 2·width lowercase hex
    * digits of its low `width` bytes. */
  def beHex(c: Column, width: Int): Column = {
    val v = if (width < 8) c.cast("long").bitwiseAND(lit((1L << (8 * width)) - 1))
      else c.cast("long")
    lpad(lower(hex(v)), 2 * width, "0")
  }

  /** `c` as a `width`-byte little-endian field: the big-endian digits
    * with the byte order reversed (reversing the string reverses the
    * nibbles in each byte too, so each pair is swapped back). `c` is
    * referenced once, so a large value expression is not copied per
    * byte. */
  def leHex(c: Column, width: Int): Column =
    regexp_replace(reverse(beHex(c, width)), "(.)(.)", "$2$1")

  /** `c` as a `width`-byte field in the per-row byte order `isLe`. */
  def hexField(c: Column, width: Int, isLe: Column): Column =
    when(isLe, leHex(c, width)).otherwise(beHex(c, width))
}
