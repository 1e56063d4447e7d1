package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1

/** The one bounds-checked byte reader every binary parser reads through:
  * little-endian `u8`..`u64`, the big-endian reads of SQLite and the media
  * probes, a Latin-1 string, a slice, and the capped inflate.
  *
  * Every bound is compared in Long, so a negative offset, or one that
  * overflowed `Int` on its way here (`u32(...).toInt` of a crafted field,
  * `base + size` near `Int.MaxValue`), throws [[ParseFailure]], never an
  * index exception: one malformed file fails only itself.
  */
private[graft] object Bin {

  /** `off` as an index, when `[off, off + n)` lies inside `b`. */
  @inline private def at(b: Array[Byte], off: Long, n: Long): Int = {
    if (off < 0 || n < 0 || off > b.length - n)
      throw new ParseFailure(s"read of $n bytes at $off outside ${b.length}")
    off.toInt
  }

  def u8(b: Array[Byte], off: Long): Int = b(at(b, off, 1)) & 0xff

  def u16(b: Array[Byte], off: Long): Int = {
    val o = at(b, off, 2)
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  }

  def u32(b: Array[Byte], off: Long): Long = {
    val o = at(b, off, 4)
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  }

  def u64(b: Array[Byte], off: Long): Long = u32(b, off) | (u32(b, off + 4) << 32)

  def be16(b: Array[Byte], off: Long): Int = {
    val o = at(b, off, 2)
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  }

  def be32(b: Array[Byte], off: Long): Long = {
    val o = at(b, off, 4)
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  }

  def be64(b: Array[Byte], off: Long): Long = (be32(b, off) << 32) | be32(b, off + 4)

  /** `len` bytes at `off` as ISO-8859-1 (byte-transparent) text. */
  def latin1(b: Array[Byte], off: Long, len: Long): String =
    new String(b, at(b, off, len), len.toInt, ISO_8859_1)

  /** A copy of the `len` bytes at `off`. */
  def slice(b: Array[Byte], off: Long, len: Long): Array[Byte] = {
    val o = at(b, off, len)
    java.util.Arrays.copyOfRange(b, o, o + len.toInt)
  }

  /** DEFLATE decode (zlib-wrapped, or raw when `nowrap`) of at most `cap`
    * output bytes: the decompression-bomb guard. Corrupt data, a stream
    * that stalls before its end marker (truncated input, or a demand for
    * a preset dictionary, which would otherwise spin forever) and output
    * past `cap` each throw [[ParseFailure]].
    */
  def inflate(data: Array[Byte], nowrap: Boolean, cap: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.min(data.length.toLong * 4, 1 << 16).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new ParseFailure(s"inflate: corrupt deflate data (${e.getMessage})")
          }
        if (n == 0 && !inf.finished())
          throw new ParseFailure(
            if (inf.needsDictionary()) "inflate: stream demands a preset dictionary (unsupported)"
            else "inflate: stream ends before its end marker (truncated data)")
        if (out.size() + n > cap) throw new ParseFailure(s"inflate: output exceeds cap $cap")
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }
}
