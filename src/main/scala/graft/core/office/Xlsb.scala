package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.{Bin, ParseFailure}
import graft.core.Bin.{slice, u32, u64}

/** Binary Excel (`.xlsb`, [MS-XLSB] — the POI XSSFB surface Tika routes
  * through its package detector): an OOXML zip whose parts are BIFF12
  * record streams instead of XML — `xl/worksheets/sheetN.bin` cells,
  * `xl/sharedStrings.bin` SST.
  *
  * Record framing: a 1-2-byte record id (7 bits per byte, high bit
  * continues) and a 1-4-byte length varint, then the payload. Cells
  * carry an 8-byte cell header (column u32, style/flags u32) and a typed
  * value — shared-string index (BrtCellIsst), inline string (BrtCellSt),
  * RK-packed number (BrtCellRk), or xnum (BrtCellReal). Rows open with
  * BrtRowHdr.
  *
  * Output follows the house tabular convention (tab cells, newline
  * rows — same as Xls/Xlsx). Malformed framing throws [[ParseFailure]].
  */
object Xlsb {

  // BIFF12 record ids ([MS-XLSB] 2.3)
  private final val BrtRowHdr = 0
  private final val BrtCellRk = 2
  private final val BrtCellBool = 4
  private final val BrtCellReal = 5
  private final val BrtCellSt = 6
  private final val BrtCellIsst = 7
  private final val BrtSSTItem = 19
  private final val BrtBeginSst = 159

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < b.length
    def u8(): Int = { val v = Bin.u8(b, pos); pos += 1; v }
    def recordId(): Int = {
      val a = u8()
      if ((a & 0x80) == 0) a else (a & 0x7f) | (u8() << 7)
    }
    def recordLen(): Int = {
      var v = 0; var shift = 0; var i = 0
      while (i < 4) {
        val x = u8()
        v |= (x & 0x7f) << shift
        if ((x & 0x80) == 0) return v
        shift += 7; i += 1
      }
      throw new ParseFailure("xlsb: record length varint too long")
    }
    def bytes(n: Int): Array[Byte] = { val out = slice(b, pos, n); pos += n; out }
  }

  /** XLWideString / RichStr text: cch u32 + UTF-16LE, at `off` (RichStr
    * callers pass the offset past the flags byte).
    */
  private def wideString(b: Array[Byte], off: Int): String = {
    val cch = u32(b, off)
    if (cch > (1 << 20)) throw new ParseFailure("xlsb: string length lies")
    new String(slice(b, off + 4, cch * 2), StandardCharsets.UTF_16LE)
  }

  /** RK-packed number rendered the way the sibling readers render cell
    * values: integers plainly, 100ths with two decimals, doubles via
    * Double.toString.
    */
  private def rkText(rk: Long): String = {
    val fX100 = (rk & 1) != 0
    val fInt = (rk & 2) != 0
    if (fInt) {
      val v = (rk.toInt) >> 2 // arithmetic shift keeps the sign
      if (!fX100) v.toString
      else if (v % 100 == 0) (v / 100).toString
      else (v / 100.0).toString
    } else {
      val d = java.lang.Double.longBitsToDouble((rk & ~3L) << 32)
      val v = if (fX100) d / 100.0 else d
      if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString
    }
  }

  def sharedStrings(part: Array[Byte]): Vector[String] = {
    val r = new Reader(part)
    val out = Vector.newBuilder[String]
    var n = 0
    while (r.hasMore) {
      val id = r.recordId()
      val len = r.recordLen()
      val payload = r.bytes(len)
      id match {
        case BrtSSTItem =>
          n += 1
          if (n > (1 << 20)) throw new ParseFailure("xlsb: sst flood")
          if (payload.isEmpty) throw new ParseFailure("xlsb: empty SSTItem")
          out += wideString(payload, 1) // past the RichStr flags byte
        case BrtBeginSst => // counts; not needed for the walk
        case _ =>
      }
    }
    out.result()
  }

  /** One sheet part's tabular text. Cells sort by declared column within
    * each row (record order is not guaranteed column order).
    */
  def sheetText(part: Array[Byte], shared: Vector[String]): String = {
    val r = new Reader(part)
    val lines = Vector.newBuilder[String]
    var row = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var inRow = false
    var nCells = 0
    def flush(): Unit = {
      if (inRow) lines += row.sortBy(_._1).map(_._2).mkString("\t")
      row = scala.collection.mutable.ArrayBuffer.empty
    }
    while (r.hasMore) {
      val id = r.recordId()
      val len = r.recordLen()
      val payload = r.bytes(len)
      nCells += 1
      if (nCells > (1 << 22)) throw new ParseFailure("xlsb: record flood")
      id match {
        case BrtRowHdr =>
          flush(); inRow = true
        case BrtCellIsst =>
          val isst = u32(payload, 8)
          if (isst >= shared.length) throw new ParseFailure(s"xlsb: shared-string index $isst out of range")
          row += ((u32(payload, 0), shared(isst.toInt)))
        case BrtCellSt =>
          row += ((u32(payload, 0), wideString(payload, 8)))
        case BrtCellRk =>
          row += ((u32(payload, 0), rkText(u32(payload, 8))))
        case BrtCellReal =>
          val d = java.lang.Double.longBitsToDouble(u64(payload, 8))
          row += ((u32(payload, 0), if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString))
        case BrtCellBool =>
          row += ((u32(payload, 0), if (Bin.u8(payload, 8) != 0) "TRUE" else "FALSE"))
        case _ => // blanks, errors, formatting, begin/end markers: no text
      }
    }
    flush()
    lines.result().mkString("\n")
  }

  // ------------------------------------------------------ fixture writer

  private def varint(v: Int): Array[Byte] = {
    require(v >= 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    do {
      val b = x & 0x7f; x >>= 7
      out += (if (x != 0) b | 0x80 else b).toByte
    } while (x != 0)
    out.toArray
  }

  private def record(id: Int, payload: Array[Byte]): Array[Byte] = {
    val idBytes =
      if (id < 0x80) Array(id.toByte)
      else Array((id & 0x7f | 0x80).toByte, (id >> 7).toByte)
    idBytes ++ varint(payload.length) ++ payload
  }

  private def w32(v: Long): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Deterministic .xlsb package: same (value, isNumber) rows API as
    * `Xls.buildMinimal`. Strings dedupe through the SST; integer numbers
    * write as RK ints.
    */
  def buildMinimal(rows: Seq[Seq[(String, Boolean)]]): Array[Byte] = {
    val strings = rows.flatten.collect { case (v, false) => v }.distinct
    val idx = strings.zipWithIndex.toMap

    val sst = new java.io.ByteArrayOutputStream()
    sst.write(record(BrtBeginSst, w32(strings.length.toLong) ++ w32(strings.length.toLong)))
    strings.foreach { s =>
      val chars = s.getBytes(StandardCharsets.UTF_16LE)
      sst.write(record(BrtSSTItem, Array[Byte](0) ++ w32(s.length.toLong) ++ chars))
    }
    sst.write(record(160, Array.emptyByteArray)) // BrtEndSst

    val sheet = new java.io.ByteArrayOutputStream()
    sheet.write(record(145, Array.emptyByteArray)) // BrtBeginSheetData
    rows.zipWithIndex.foreach { case (cells, rw) =>
      // BrtRowHdr: rw + the fixed format fields (17 bytes of defaults)
      sheet.write(record(BrtRowHdr, w32(rw.toLong) ++ new Array[Byte](13)))
      cells.zipWithIndex.foreach { case ((v, isNum), col) =>
        val cell = w32(col.toLong) ++ w32(0L)
        if (!isNum) sheet.write(record(BrtCellIsst, cell ++ w32(idx(v).toLong)))
        else v.toLongOption match {
          case Some(n) if n >= -(1L << 29) && n < (1L << 29) =>
            sheet.write(record(BrtCellRk, cell ++ w32(((n << 2) | 2L) & 0xffffffffL)))
          case _ =>
            val bits = java.lang.Double.doubleToLongBits(v.toDouble)
            sheet.write(record(BrtCellReal, cell ++ w32(bits & 0xffffffffL) ++ w32(bits >>> 32)))
        }
      }
    }
    sheet.write(record(146, Array.emptyByteArray)) // BrtEndSheetData

    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="bin" ContentType="application/vnd.ms-excel.sheet.binary.macroEnabled.main"/></Types>"""
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", contentTypes.getBytes(StandardCharsets.UTF_8)),
      ("xl/sharedStrings.bin", sst.toByteArray),
      ("xl/worksheets/sheet1.bin", sheet.toByteArray)))
  }
}
