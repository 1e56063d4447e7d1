package graft.core.office

import graft.core.{DecryptFailure, ParseFailure}
import graft.core.Bin.{u8, u16, u32}

/** WordPerfect documents (`.wpd` — the pre-Word era's word processor,
  * still alive in legal/government archives; Tika routes it via a
  * dedicated parser). From-scratch over the PUBLISHED WP 5.x file layout
  * (the format WordPerfect Corp documented and libwpd re-documents):
  *
  *  - 16-byte prefix header: magic `0xFF "WPC"`, u32le document-area
  *    pointer, product type, file type, major/minor version, u16le
  *    encryption key (non-zero = password-protected → classify
  *    encrypted, the reference's EncryptedDocumentException shape);
  *  - the document area is a byte stream: 0x20..0x7E literal ASCII,
  *    0x0A hard return (paragraph -> '\n'), 0x0D soft return (line
  *    wrap -> ' '), 0x80..0xBF single-byte functions (skipped),
  *    0xC0 extended character `[0xC0 char charset 0xC0]` (charset 0
  *    emits the char, others skip), 0xC1..0xCF fixed multi-byte
  *    functions (skipped by their size table's subset used here),
  *    0xD0..0xFF variable-length functions
  *    `[code subfunction u16le-size ... code]` whose declared size spans
  *    code through the closing mirror byte — a mismatched mirror is
  *    corruption and classifies.
  *
  * This subset decodes the text content of real WP5 documents (body
  * characters and returns) while structurally skipping formatting; the
  * fixture writer emits the same grammar so the decode path is proven
  * both ways. Malformed framing throws [[ParseFailure]].
  */
object Wpd {

  def isWpd(bytes: Array[Byte]): Boolean =
    bytes.length >= 16 && (bytes(0) & 0xff) == 0xff &&
      bytes(1) == 'W' && bytes(2) == 'P' && bytes(3) == 'C'

  def text(bytes: Array[Byte]): String = {
    if (!isWpd(bytes)) throw new ParseFailure("not a wordperfect document")
    val docStart = u32(bytes, 4)
    if (docStart < 16 || docStart > bytes.length)
      throw new ParseFailure("wpd: document pointer past file end")
    if (u16(bytes, 10) != 0)
      throw new DecryptFailure("wpd: password-protected document")
    val sb = new StringBuilder
    var p = docStart.toInt
    while (p < bytes.length) {
      val b = u8(bytes, p)
      if (b >= 0x20 && b <= 0x7e) { sb.append(b.toChar); p += 1 }
      else if (b == 0x0a) { sb.append('\n'); p += 1 }
      else if (b == 0x0d) { sb.append(' '); p += 1 }
      else if (b == 0xc0) {
        if (u8(bytes, p + 3) != 0xc0)
          throw new ParseFailure("wpd: extended char lacks closing mirror")
        if (u8(bytes, p + 2) == 0) sb.append(u8(bytes, p + 1).toChar)
        p += 4
      } else if (b >= 0xd0) {
        // variable-length function: size spans code..closing mirror
        val size = u16(bytes, p + 2)
        if (size < 5 || p + size > bytes.length)
          throw new ParseFailure(s"wpd: variable function size $size out of range")
        if (u8(bytes, p + size - 1) != b)
          throw new ParseFailure("wpd: variable function mirror mismatch")
        p += size
      } else p += 1 // single-byte functions / control bytes: skipped
    }
    sb.toString
  }

  /** Fixture writer: lines joined by hard returns, with a single-byte
    * function, an extended character, and a sized variable function
    * interleaved so the decoder's skip paths are exercised on every
    * document.
    */
  def build(lines: Seq[String], extChar: Option[Char] = None): Array[Byte] = {
    val doc = new java.io.ByteArrayOutputStream()
    lines.zipWithIndex.foreach { case (line, i) =>
      if (i > 0) doc.write(0x0a) // hard return
      if (i == 1) {
        doc.write(0x82) // single-byte function: skipped
        // variable function [code subfunc sizeLE payload mirror]
        val payload = Array[Byte](1, 2, 3)
        val size = 4 + payload.length + 1
        doc.write(0xd3); doc.write(0x07)
        doc.write(size & 0xff); doc.write((size >> 8) & 0xff)
        doc.write(payload); doc.write(0xd3)
      }
      line.foreach { c =>
        if (c < 0x20 || c > 0x7e) throw new ParseFailure("wpd fixture: non-ASCII line char")
        doc.write(c)
      }
    }
    extChar.foreach { c =>
      doc.write(0xc0); doc.write(c & 0xff); doc.write(0); doc.write(0xc0)
    }
    val body = doc.toByteArray
    val out = new Array[Byte](16 + body.length)
    out(0) = 0xff.toByte; out(1) = 'W'; out(2) = 'P'; out(3) = 'C'
    out(4) = 16 // document area pointer
    out(8) = 1  // product type
    out(9) = 0x0a // file type: WP document
    System.arraycopy(body, 0, out, 16, body.length)
    out
  }
}
