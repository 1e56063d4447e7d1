package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.{Bin, DecryptFailure, ParseFailure}
import graft.core.pdf.PdfMini

/** HWP 5.x (Hangul word processor, the Korean legal/government staple) —
  * the reference's Tika `AutoDetectParser` routes these to HwpV5Parser
  * (`Extractor.java:937` dispatch surface). Built from the published
  * Hancom "HWP Document File Format 5.0" spec over [[Cfb]]:
  *
  *  - the `FileHeader` stream (256 bytes) opens with the 32-byte
  *    signature `"HWP Document File"` (NUL-padded); u32 version at 32,
  *    u32 flags at 36 — bit 0 = body streams are raw-deflate compressed,
  *    bit 1 = password-encrypted (classifies NOT_DECRYPTED);
  *  - body text lives in `BodyText/Section<n>` streams (numeric order),
  *    each a sequence of records: u32 header packing tag(10) | level(10)
  *    | size(12), size 0xFFF meaning a following u32 extended size;
  *  - HWPTAG_PARA_TEXT (tag 0x43) payloads are UTF-16LE code units where
  *    control codes < 32 follow the spec's width table: 10 (line break)
  *    and 13 (paragraph break) emit '\n'; 1-23 otherwise are inline/
  *    extended controls occupying EIGHT code units (tab, code 9, emits
  *    '\t'); 30/31 are space variants; the rest of 0/24-31 drop.
  *
  * No real HWP file ships in this sandbox, so the layout is spec-derived
  * and round-trip-verified against [[build]] (the [[Pst]]-ANSI
  * discipline). Malformed input (bad signature, truncated records,
  * odd text sizes, inflate failures) throws [[ParseFailure]]; the
  * encrypted flag throws [[DecryptFailure]] — both classified upstream.
  */
object Hwp {

  import Bin.{u16, u32}

  private val Signature = "HWP Document File".getBytes(StandardCharsets.US_ASCII)
  private val TagParaText = 0x43 // HWPTAG_BEGIN (0x10) + 51

  def isHwp(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists {
      case ("FileHeader", Some(b)) =>
        b.length >= Signature.length &&
          java.util.Arrays.equals(
            java.util.Arrays.copyOf(b, Signature.length), Signature)
      case _ => false
    }

  def text(entries: Seq[(String, Option[Array[Byte]])]): String = {
    val header = entries.collectFirst { case ("FileHeader", Some(b)) => b }
      .getOrElse(throw new ParseFailure("hwp: FileHeader stream missing or refused"))
    if (header.length < 40) throw new ParseFailure("hwp: FileHeader shorter than 40 bytes")
    val flags = u32(header, 36)
    if ((flags & 2L) != 0)
      throw new DecryptFailure("hwp: password-encrypted document")
    if ((flags & 4L) != 0) // distribution document: body rides encrypted ViewText
      throw new DecryptFailure("hwp: distribution (ViewText) document")
    val compressed = (flags & 1L) != 0
    val sections = entries.collect {
      case (p, b) if p.startsWith("BodyText/Section") =>
        val n = p.substring("BodyText/Section".length)
        val num = if (n.nonEmpty && n.forall(_.isDigit)) n.toIntOption else None
        (num.getOrElse(throw new ParseFailure(s"hwp: non-numeric section name $p")),
          b.getOrElse(
          throw new ParseFailure(s"hwp: section stream $p refused")))
    }.sortBy(_._1)
    val sb = new StringBuilder
    sections.foreach { case (_, raw) =>
      val body = if (compressed) Bin.inflate(raw, nowrap = true, PdfMini.MaxInflatedBytes) else raw
      sectionText(body, sb)
    }
    sb.toString
  }

  /** Walk one section's record stream, appending PARA_TEXT prose. */
  private def sectionText(b: Array[Byte], sb: StringBuilder): Unit = {
    var off = 0
    while (off < b.length) {
      if (off + 4 > b.length) throw new ParseFailure("hwp: record header truncated")
      val hdr = u32(b, off)
      val tag = (hdr & 0x3ff).toInt
      var size = ((hdr >>> 20) & 0xfff).toInt
      off += 4
      if (size == 0xfff) {
        size = u32(b, off).toInt
        off += 4
      }
      if (size < 0 || off + size > b.length)
        throw new ParseFailure(s"hwp: record size $size past section end ${b.length}")
      if (tag == TagParaText) {
        if (size % 2 != 0) throw new ParseFailure("hwp: PARA_TEXT with odd byte size")
        var i = 0
        val n = size / 2
        while (i < n) {
          val c = u16(b, off + 2 * i)
          if (c >= 32) { sb.append(c.toChar); i += 1 }
          else c match {
            case 10 | 13 => sb.append('\n'); i += 1
            case 9 => // tab: an inline control of 8 code units
              sb.append('\t'); i += 8
            case x if x >= 1 && x <= 23 => i += 8 // inline/extended control
            case 30 | 31 => sb.append(' '); i += 1 // space variants
            case _ => i += 1 // 0, 24-29: drop
          }
        }
        if (i > n) throw new ParseFailure("hwp: inline control runs past PARA_TEXT end")
      }
      off += size
    }
  }

  // ---------------------------------------------------------------- writer

  private def record(tag: Int, payload: Array[Byte]): Array[Byte] = {
    if (payload.length >= 0xfff) {
      val out = new Array[Byte](8 + payload.length)
      putU32(out, 0, (0xfffL << 20) | tag.toLong)
      putU32(out, 4, payload.length.toLong)
      System.arraycopy(payload, 0, out, 8, payload.length)
      out
    } else {
      val out = new Array[Byte](4 + payload.length)
      putU32(out, 0, (payload.length.toLong << 20) | tag.toLong)
      System.arraycopy(payload, 0, out, 4, payload.length)
      out
    }
  }

  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
  }

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Deterministic `.hwp` bytes: FileHeader (compressed flag set, plus
    * `encrypted` for the refusal fixture) and one deflated Section0 with
    * a PARA_TEXT record per paragraph (each 13-terminated), framed by
    * [[Cfb.build]].
    */
  def build(paras: Seq[String], encrypted: Boolean = false): Array[Byte] = {
    val header = new Array[Byte](256)
    System.arraycopy(Signature, 0, header, 0, Signature.length)
    putU32(header, 32, 0x05000300L) // version 5.0.3.0
    putU32(header, 36, if (encrypted) 3L else 1L) // compressed (+ encrypted)
    val recs = paras.flatMap { p =>
      record(TagParaText, (p + "\r").getBytes(StandardCharsets.UTF_16LE))
    }.toArray
    // "\r" is char 13 = paragraph break per the spec's width table
    val section = if (encrypted) recs else deflateRaw(recs)
    Cfb.build(Seq(
      ("FileHeader", header),
      ("BodyText/Section0", section)))
  }
}
