package graft.core.db

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure
import graft.core.Bin.{latin1, u8, u16, u32}

/** dBase .dbf tables (the xBase file format, published since dBASE III;
  * Tika's `DBFParser` surface) — the fixed-width record era's CSV, still
  * common in GIS shapefile bundles and legacy exports.
  *
  * Wire format: header `version(1) yymmdd(3) nRecords(u32le)
  * headerSize(u16le) recordSize(u16le) ...`, then 32-byte field
  * descriptors (`name(11, NUL-padded) type(1) ... length(1 at +16)
  * decimals(1 at +17)`) terminated by 0x0D, then fixed-width records —
  * each `flag(1)` (0x20 active, 0x2A deleted) followed by the fields
  * packed at their declared widths, values space-padded latin1.
  *
  * Text renders header + active rows tab-joined / newline-joined (the
  * [[Sqlite.tables]] / csv convention), values trimmed; deleted rows
  * skipped. There is no magic number, so [[isDbf]] validates structure:
  * known version byte, plausible date, descriptor area sized consistently
  * with `headerSize` and 0x0D-terminated, record geometry fitting the
  * payload. Malformed input throws [[ParseFailure]].
  */
object Dbf {

  private val Versions = Set(0x02, 0x03, 0x04, 0x05, 0x30, 0x31, 0x83, 0x8b, 0xf5)

  /** Structural sniff — strict enough that random binaries and the other
    * magic-less formats (tar, cpio) can't collide.
    */
  def isDbf(bytes: Array[Byte]): Boolean =
    try {
      if (bytes.length < 65) return false
      if (!Versions.contains(bytes(0) & 0xff)) return false
      val month = bytes(2) & 0xff
      val day = bytes(3) & 0xff
      if (month < 1 || month > 12 || day < 1 || day > 31) return false
      val headerSize = u16(bytes, 8)
      val recordSize = u16(bytes, 10)
      // descriptor area: 32-byte slots between offset 32 and the 0x0D
      if (headerSize < 65 || headerSize > bytes.length) return false
      if ((headerSize - 33) % 32 != 0) return false
      if (u8(bytes, headerSize - 1) != 0x0d) return false
      recordSize >= 1
    } catch { case _: ParseFailure => false }

  final case class Field(name: String, ftype: Char, length: Int)

  final case class Table(fields: Vector[Field], rows: Vector[Vector[String]])

  def parse(bytes: Array[Byte], maxCells: Int = 200000): Table = {
    if (!isDbf(bytes)) throw new ParseFailure("not a dbf table")
    val nRecords = u32(bytes, 4)
    val headerSize = u16(bytes, 8)
    val recordSize = u16(bytes, 10)
    val nFields = (headerSize - 33) / 32
    if (nFields < 1 || nFields > 255)
      throw new ParseFailure(s"dbf: implausible field count $nFields")
    val fields = (0 until nFields).map { i =>
      val o = 32 + i * 32
      var end = o
      while (end < o + 11 && u8(bytes, end) != 0) end += 1
      val name = latin1(bytes, o, end - o)
      if (name.isEmpty) throw new ParseFailure(s"dbf: empty name for field $i")
      val t = u8(bytes, o + 11).toChar
      val len = u8(bytes, o + 16)
      if (len < 1) throw new ParseFailure(s"dbf: zero-width field $name")
      Field(name, t, len)
    }.toVector
    val widths = fields.map(_.length).sum
    if (widths + 1 != recordSize)
      throw new ParseFailure(s"dbf: field widths $widths+1 disagree with record size $recordSize")
    if (nRecords * recordSize + headerSize > bytes.length)
      throw new ParseFailure("dbf: declared records past file end")
    if (nRecords * nFields > maxCells)
      throw new ParseFailure("dbf: cell count exceeds cap")
    val rows = Vector.newBuilder[Vector[String]]
    var r = 0L
    while (r < nRecords) {
      val off = headerSize + (r * recordSize).toInt
      if (u8(bytes, off) != 0x2a) { // deleted rows skipped
        var p = off + 1
        rows += fields.map { f =>
          val v = latin1(bytes, p, f.length).trim
          p += f.length
          v
        }
      }
      r += 1
    }
    Table(fields, rows.result())
  }

  /** Header + active rows, tab-joined / newline-joined — the shared
    * tabular text convention.
    */
  def text(bytes: Array[Byte], maxCells: Int = 200000): String = {
    val t = parse(bytes, maxCells)
    (t.fields.map(_.name) +: t.rows).map(_.mkString("\t")).mkString("\n")
  }

  /** Deterministic fixture writer: character fields sized to the longest
    * value, dBASE III version byte, active records, EOF marker.
    */
  def build(fields: Seq[String], rows: Seq[Seq[String]]): Array[Byte] = {
    require(fields.nonEmpty && fields.forall(f => f.nonEmpty && f.length <= 10))
    require(rows.forall(_.length == fields.length))
    val widths = fields.indices.map { i =>
      math.max(1, (rows.map(_(i).getBytes(StandardCharsets.ISO_8859_1).length) :+ 1).max)
    }
    require(widths.forall(_ <= 255), "dbf field width exceeds the 1-byte limit")
    val recordSize = widths.sum + 1
    val headerSize = 32 + fields.length * 32 + 1
    val out = new java.io.ByteArrayOutputStream()
    val h = new Array[Byte](32)
    h(0) = 0x03 // dBASE III, no memo
    h(1) = 24; h(2) = 1; h(3) = 15 // yymmdd
    h(4) = (rows.length & 0xff).toByte
    h(5) = ((rows.length >> 8) & 0xff).toByte
    h(6) = ((rows.length >> 16) & 0xff).toByte
    h(7) = ((rows.length >> 24) & 0xff).toByte
    h(8) = (headerSize & 0xff).toByte; h(9) = ((headerSize >> 8) & 0xff).toByte
    h(10) = (recordSize & 0xff).toByte; h(11) = ((recordSize >> 8) & 0xff).toByte
    out.write(h)
    fields.zipWithIndex.foreach { case (f, i) =>
      val d = new Array[Byte](32)
      val nb = f.getBytes(StandardCharsets.ISO_8859_1)
      System.arraycopy(nb, 0, d, 0, nb.length)
      d(11) = 'C'.toByte
      d(16) = widths(i).toByte
      out.write(d)
    }
    out.write(0x0d)
    rows.foreach { row =>
      out.write(0x20) // active
      row.zipWithIndex.foreach { case (v, i) =>
        val vb = v.getBytes(StandardCharsets.ISO_8859_1)
        out.write(vb)
        var pad = widths(i) - vb.length
        while (pad > 0) { out.write(0x20); pad -= 1 }
      }
    }
    out.write(0x1a)
    out.toByteArray
  }
}
