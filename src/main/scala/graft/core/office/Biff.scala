package graft.core.office

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import graft.core.ParseFailure

/** Legacy Excel (`.xls`, BIFF8) and PowerPoint (`.ppt`) binary text
  * extraction over [[Cfb]] — the reference's POI ExcelExtractor /
  * PowerPointExtractor paths, built from the published MS-XLS / MS-PPT
  * record formats. Together with [[WordDoc]] this completes the legacy
  * Office trio, mirroring the OOXML trio in [[Docx]]/[[Xlsx]]/[[Pptx]].
  *
  * Both formats are length-prefixed record streams:
  *  - BIFF8 records are `u16 type, u16 len, payload`; the shared-string
  *    table (SST 0x00FC) holds XLUnicodeRichExtendedStrings whose flags
  *    byte picks compressed-8-bit vs UTF-16LE storage, LABELSST cells
  *    (0x00FD) reference it by index, NUMBER cells (0x0203) carry an
  *    IEEE double;
  *  - PPT records are `u16 verInstance, u16 type, u32 len`; containers
  *    (verInstance low nibble 0xF) nest, TextCharsAtom (0x0FA0, UTF-16LE)
  *    and TextBytesAtom (0x0FA8, cp1252) carry the text.
  *
  * Cells render to the tab-joined-rows / newline-joined-paragraphs
  * convention shared with [[Xlsx]]/[[Pptx]], so the legacy and OOXML
  * routes produce comparable text for the same logical content.
  * Malformed input throws [[ParseFailure]] — never a task failure.
  */
object Biff {

  private[core] val Cp1252: Charset = Charset.forName("windows-1252")
  private[core] val Utf16Le: Charset = Charset.forName("UTF-16LE")
}

object Xls {
  import Biff._
  import graft.core.Bin.{slice, u8, u16, u32}

  def isXls(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(e => e._1 == "Workbook" || e._1 == "Book")

  private final val RecBof = 0x0809
  private final val RecEof = 0x000a
  private final val RecSst = 0x00fc
  private final val RecLabelSst = 0x00fd
  private final val RecNumber = 0x0203
  private final val RecContinue = 0x003c

  /** Render an IEEE cell value the way the xlsx fixtures carry `<v>`:
    * integral doubles print without a decimal point.
    */
  private def renderNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Parse one XLUnicodeRichExtendedString at `off`; returns (string,
    * next offset). Rich-text runs and ext data are skipped by their
    * declared sizes (the subset real SSTs in our scope use).
    */
  private def xlString(b: Array[Byte], off: Int): (String, Int) = {
    val cch = u16(b, off)
    val flags = u8(b, off + 2)
    var p = off + 3
    val cRun = if ((flags & 0x08) != 0) { val v = u16(b, p); p += 2; v } else 0
    val cbExt = if ((flags & 0x04) != 0) { val v = u32(b, p); p += 4; v } else 0L
    val wide = (flags & 0x01) != 0 // fHighByte: UTF-16LE, else compressed cp1252
    val n = if (wide) 2 * cch else cch
    val s = new String(slice(b, p, n), if (wide) Utf16Le else Cp1252)
    p += n
    // LONG arithmetic: a crafted cbExt near 2^31 would wrap the Int offset
    // negative and slip past the bounds check
    val pL = p.toLong + cRun.toLong * 4 + cbExt
    if (pL > b.length) throw new ParseFailure("xls: sst rich/ext data past end")
    (s, pL.toInt)
  }

  /** Extract the workbook text: cells grouped by row, columns sorted,
    * tab-joined; rows newline-joined — the [[Xlsx.sheetText]] convention.
    */
  def text(entries: Seq[(String, Option[Array[Byte]])]): String = {
    val book0 = entries.collectFirst {
      case (n, Some(b)) if n == "Workbook" || n == "Book" => b
    }.getOrElse(throw new ParseFailure("xls: Workbook stream missing or refused"))
    // FilePass-encrypted workbooks silently open under the POI default
    // passwords (empty / VelvetSweatshop); real passwords classify
    val book = XlsCrypt.decryptIfNeeded(book0)

    // pass 1: record directory, merging CONTINUE payloads into their
    // predecessor (SSTs larger than the 64 KiB record cap span continues;
    // our subset splits at string boundaries, so concatenation
    // reconstructs the logical payload — mid-string flag restarts are
    // out of scope and fail closed as ParseFailure in xlString)
    final case class Rec(rt: Int, payload: Array[Byte])
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var off = 0
    while (off + 4 <= book.length) {
      val rt = u16(book, off)
      val len = u16(book, off + 2)
      val p = off + 4
      val payload = slice(book, p, len)
      if (rt == RecContinue) {
        if (recs.isEmpty) throw new ParseFailure("xls: continue record with no predecessor")
        val prev = recs.last
        recs(recs.length - 1) = Rec(prev.rt, prev.payload ++ payload)
      } else recs += Rec(rt, payload)
      off = p + len
    }
    if (!recs.exists(_.rt == RecBof)) throw new ParseFailure("xls: no BOF record")

    // pass 2: text content
    var sst = Vector.empty[String]
    val cells = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    recs.foreach { case Rec(rt, b) =>
      rt match {
        case RecSst =>
          val unique = u32(b, 4).toInt
          if (unique < 0 || unique > b.length) throw new ParseFailure("xls: sst count implausible")
          var q = 8
          val acc = Vector.newBuilder[String]
          var k = 0
          while (k < unique) {
            val (s, q2) = xlString(b, q)
            acc += s; q = q2; k += 1
          }
          sst = acc.result()
        case RecLabelSst =>
          if (b.length < 10) throw new ParseFailure("xls: labelsst record too short")
          val row = u16(b, 0); val col = u16(b, 2)
          val isst = u32(b, 6).toInt
          if (isst < 0 || isst >= sst.length)
            throw new ParseFailure(s"xls: labelsst index $isst outside sst of ${sst.length}")
          cells += ((row, col, sst(isst)))
        case RecNumber =>
          if (b.length < 14) throw new ParseFailure("xls: number record too short")
          val row = u16(b, 0); val col = u16(b, 2)
          val bits = ByteBuffer.wrap(b, 6, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
          cells += ((row, col, renderNum(bits)))
        case _ => () // BOF, formats, dimensions, EOF: irrelevant to text
      }
    }
    cells.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._2).map(_._3).mkString("\t") }
      .mkString("\n")
  }

  /** Deterministic minimal BIFF8 workbook: one SST carrying every string
    * cell (alternating compressed/UTF-16 storage to exercise both
    * decoders), LABELSST + NUMBER cell records. `rows` follows the
    * [[Xlsx.buildMinimal]] convention: (value, isNumber).
    */
  def buildStreams(rows: Seq[Seq[(String, Boolean)]]): Seq[(String, Array[Byte])] = {
    val strings = rows.flatten.collect { case (v, false) => v }.distinct
    val idx = strings.zipWithIndex.toMap
    val out = new java.io.ByteArrayOutputStream()
    def rec(rt: Int, payload: Array[Byte]): Unit = {
      val h = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(rt.toShort); h.putShort(payload.length.toShort)
      out.write(h.array()); out.write(payload)
    }
    rec(RecBof, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0x0600.toShort); b.putShort(0x0005.toShort) // BIFF8, workbook globals
      b.array()
    })
    // SST, split across CONTINUE records at string boundaries whenever a
    // chunk would pass 8 KiB — BIFF records cap at 64 KiB, so one big SST
    // record would silently truncate its u16 length for large documents
    locally {
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var cur = new java.io.ByteArrayOutputStream()
      val cnt = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      cnt.putInt(strings.length); cnt.putInt(strings.length)
      cur.write(cnt.array())
      strings.zipWithIndex.foreach { case (s, i) =>
        if (s.length > 0xffff)
          throw new ParseFailure("xls: string exceeds the BIFF8 cch limit")
        val ascii = s.forall(_ < 0x80)
        val utf16 = !ascii || i % 2 == 1 // alternate storage for coverage
        val h = ByteBuffer.allocate(3).order(ByteOrder.LITTLE_ENDIAN)
        h.putShort(s.length.toShort); h.put((if (utf16) 1 else 0).toByte)
        val payload = s.getBytes(if (utf16) Utf16Le else Cp1252)
        if (payload.length + 3 > 0xffff)
          throw new ParseFailure("xls: string too large for one record (mid-string continuation unsupported)")
        if (cur.size() + 3 + payload.length > 8192 && cur.size() > 0) {
          chunks += cur.toByteArray; cur = new java.io.ByteArrayOutputStream()
        }
        cur.write(h.array()); cur.write(payload)
      }
      chunks += cur.toByteArray
      rec(RecSst, chunks.head)
      chunks.tail.foreach(c => rec(RecContinue, c))
    }
    if (rows.length > 0x10000)
      throw new ParseFailure("xls: row count exceeds the BIFF8 sheet limit")
    rows.zipWithIndex.foreach { case (cs, r) =>
      cs.zipWithIndex.foreach { case ((v, isNum), c) =>
        if (isNum) rec(RecNumber, {
          val b = ByteBuffer.allocate(14).order(ByteOrder.LITTLE_ENDIAN)
          b.putShort(r.toShort); b.putShort(c.toShort); b.putShort(0.toShort)
          b.putDouble(v.toDouble)
          b.array()
        })
        else rec(RecLabelSst, {
          val b = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
          b.putShort(r.toShort); b.putShort(c.toShort); b.putShort(0.toShort)
          b.putInt(idx(v))
          b.array()
        })
      }
    }
    rec(RecEof, Array.empty)
    Seq(("Workbook", out.toByteArray))
  }

  def build(rows: Seq[Seq[(String, Boolean)]]): Array[Byte] =
    Cfb.build(buildStreams(rows))
}

object Ppt {
  import Biff._
  import graft.core.Bin.{u16, u32}

  def isPpt(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(_._1 == "PowerPoint Document")

  private final val TextCharsAtom = 0x0fa0
  private final val TextBytesAtom = 0x0fa8

  /** Extract slide text: every text atom in record order, newline-joined
    * (the [[Pptx.slideText]] convention). Iterative container walk with
    * an explicit worklist — crafted deep nesting must classify, not
    * overflow the stack.
    */
  def text(entries: Seq[(String, Option[Array[Byte]])]): String = {
    val doc = entries.collectFirst { case ("PowerPoint Document", Some(b)) => b }
      .getOrElse(throw new ParseFailure("ppt: PowerPoint Document stream missing or refused"))
    val texts = Vector.newBuilder[String]
    // worklist of (start, end) record ranges; on meeting a container the
    // remainder of the current range is pushed FIRST, then the container
    // body, so atoms emit in document order exactly like the recursive
    // walk would — without recursion (crafted deep nesting must classify,
    // not overflow the stack)
    val stack = new java.util.ArrayDeque[(Int, Int)]
    stack.push((0, doc.length))
    var steps = 0
    while (!stack.isEmpty) {
      val (start, end) = stack.pop()
      var off = start
      var descend = false
      while (!descend && off + 8 <= end) {
        steps += 1
        if (steps > 1000000) throw new ParseFailure("ppt: record walk exceeds step budget")
        val verInst = u16(doc, off)
        val rt = u16(doc, off + 2)
        val len = u32(doc, off + 4)
        val body = off + 8
        if (body + len > end) throw new ParseFailure(f"ppt: record 0x$rt%04x past container end")
        val next = body + len.toInt
        if ((verInst & 0x0f) == 0x0f) {
          if (next < end) stack.push((next, end))
          stack.push((body, next))
          descend = true
        } else {
          if (rt == TextCharsAtom) texts += new String(doc, body, len.toInt, Utf16Le)
          else if (rt == TextBytesAtom) texts += new String(doc, body, len.toInt, Cp1252)
          off = next
        }
      }
    }
    texts.result().mkString("\n")
  }

  /** Deterministic minimal PowerPoint Document stream: one container
    * holding alternating TextBytesAtom/TextCharsAtom paragraphs (8-bit
    * atoms only when the text is cp1252-safe).
    */
  def buildStreams(paragraphs: Seq[String]): Seq[(String, Array[Byte])] = {
    val atoms = new java.io.ByteArrayOutputStream()
    paragraphs.zipWithIndex.foreach { case (p, i) =>
      val ascii = p.forall(_ < 0x80)
      val asChars = !ascii || i % 2 == 1 // alternate storage for coverage
      val bytes = p.getBytes(if (asChars) Utf16Le else Cp1252)
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(0.toShort)
      h.putShort((if (asChars) TextCharsAtom else TextBytesAtom).toShort)
      h.putInt(bytes.length)
      atoms.write(h.array()); atoms.write(bytes)
    }
    val body = atoms.toByteArray
    val container = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    container.putShort(0x000f.toShort)  // container version nibble
    container.putShort(0x0ff0.toShort)  // SlideListWithText container
    container.putInt(body.length)
    container.put(body)
    Seq(("PowerPoint Document", container.array()))
  }

  def build(paragraphs: Seq[String]): Array[Byte] =
    Cfb.build(buildStreams(paragraphs))
}
