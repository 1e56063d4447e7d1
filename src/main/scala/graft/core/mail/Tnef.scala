package graft.core.mail

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import graft.core.{Bin, ParseFailure}
import graft.core.office.{Biff, Msg}

/** TNEF (`winmail.dat`) — the Transport Neutral Encapsulation Format
  * Outlook wraps rich mail in when it transits plain-text systems; the
  * reference extracts these through Tika's TNEFParser
  * (`AutoDetectParser` dispatch, `Extractor.java:937` detection). Parsed
  * from scratch on the published MS-OXTNEF spec:
  *
  *   - stream: u32 signature 0x223E9F78, u16 attach key, then a sequence
  *     of attributes: u8 component level (1 = message, 2 = attachment),
  *     u32 attribute id (`type << 16 | id`), u32 length, data, u16
  *     checksum = sum of the data bytes mod 2^16 — validated per
  *     attribute (MS-OXTNEF §2.1.2-2.1.3);
  *   - message level: attSubject / attBody (NUL-terminated cp1252),
  *     attMessageClass, attTnefVersion, attOemCodepage, and attMsgProps
  *     carrying a MAPI-encoded property stream (§2.1.3.3) from which the
  *     sender (PidTagSenderName) is read;
  *   - attachment level: each attAttachRendData begins a new attachment;
  *     attAttachTitle names it, attAttachData carries its bytes.
  *
  * Subset (documented honestly): the MAPI property decoder handles the
  * standard-range scalar/string/binary types the format commonly carries
  * (PT_LONG/BOOLEAN/STRING8/UNICODE/BINARY); named properties (id >=
  * 0x8000, GUID-prefixed) and multi-value counts > 1 throw ParseFailure —
  * classified upstream like every other malformed input, never an escape.
  *
  * The result is a [[Msg.MsgDoc]], so TNEF messages ride the SAME
  * spawn/canonical-id machinery as `.msg` and `.pst` messages.
  */
object Tnef {

  val Signature = 0x223E9F78L

  private val LvlMessage = 0x01
  private val LvlAttachment = 0x02

  private val AttTnefVersion = 0x00089006L
  private val AttOemCodepage = 0x00069007L
  private val AttMessageClass = 0x00078008L
  private val AttSubject = 0x00018004L
  private val AttBody = 0x0002800CL
  private val AttMsgProps = 0x00069003L
  private val AttAttachRendData = 0x00069002L
  private val AttAttachTitle = 0x00018010L
  private val AttAttachData = 0x0006800FL

  private val PtLong = 0x0003
  private val PtBoolean = 0x000B
  private val PtString8 = 0x001E
  private val PtUnicode = 0x001F
  private val PtBinary = 0x0102

  private val PidSenderName = 0x0C1A
  private val PidBody = 0x1000
  private val PidRtfCompressed = 0x1009

  def isTnef(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && Bin.u32(bytes, 0) == Signature

  /** Strip the trailing NUL of a counted cp1252 string attribute. */
  private def cstr(data: Array[Byte]): String = {
    val n = if (data.nonEmpty && data(data.length - 1) == 0) data.length - 1 else data.length
    new String(data, 0, n, Biff.Cp1252)
  }

  private def checksum(data: Array[Byte]): Int = {
    var s = 0
    var i = 0
    while (i < data.length) { s = (s + (data(i) & 0xff)) & 0xffff; i += 1 }
    s
  }

  /** Sender name and (optional) Unicode body out of the attMsgProps MAPI
    * property stream (subset — see the object scaladoc). A PT_UNICODE
    * PidTagBody is preferred over the cp1252 attBody so non-Latin text
    * survives byte-exactly.
    */
  private def mapiProps(b: Array[Byte]): (String, Option[String]) = {
    if (b.length < 4) throw new ParseFailure("TNEF MAPI stream truncated")
    val cProps = Bin.u32(b, 0)
    if (cProps < 0 || cProps > 4096) throw new ParseFailure("TNEF implausible MAPI count")
    var off = 4
    var sender = ""
    var plainBody: Option[String] = None
    var rtfBody: Option[String] = None
    var i = 0L
    while (i < cProps) {
      val tag = Bin.u32(b, off)
      val ptype = (tag & 0xffff).toInt
      val pid = ((tag >> 16) & 0xffff).toInt
      off += 4
      if (pid >= 0x8000)
        throw new ParseFailure("TNEF named MAPI property (GUID-prefixed) unsupported")
      ptype match {
        case PtLong | PtBoolean =>
          off += 4 // fixed scalar rides a padded dword
        case PtString8 | PtUnicode | PtBinary =>
          val cValues = Bin.u32(b, off); off += 4
          if (cValues != 1)
            throw new ParseFailure(s"TNEF multi-value MAPI property (count $cValues) unsupported")
          val cb = Bin.u32(b, off); off += 4
          val raw = Bin.slice(b, off, cb)
          off += cb.toInt
          off += (4 - (cb.toInt % 4)) % 4 // values pad to dword
          def uni16: String = new String(raw, 0,
            if (raw.length >= 2 && raw(raw.length - 1) == 0 && raw(raw.length - 2) == 0)
              raw.length - 2 else raw.length,
            StandardCharsets.UTF_16LE)
          if (pid == PidSenderName && ptype == PtUnicode) sender = uni16
          else if (pid == PidSenderName && ptype == PtString8) sender = cstr(raw)
          else if (pid == PidBody && ptype == PtUnicode) plainBody = Some(uni16)
          else if (pid == PidRtfCompressed && ptype == PtBinary)
            rtfBody = Some(graft.core.text.Rtf.text(new String(
              graft.core.office.RtfComp.decompress(raw), Biff.Cp1252)))
        case t =>
          throw new ParseFailure(f"TNEF MAPI property type 0x$t%04x unsupported")
      }
      i += 1
    }
    // a NON-EMPTY plain PidTagBody outranks PR_RTF_COMPRESSED — the same
    // fallback order (and empty-string handling) as Msg.parse and the
    // PST messaging layer, independent of property order in the stream
    (sender, plainBody.filter(_.nonEmpty).orElse(rtfBody).orElse(plainBody))
  }

  /** Parse a TNEF stream to the same logical message shape `.msg` uses. */
  def parse(bytes: Array[Byte]): Msg.MsgDoc = {
    if (!isTnef(bytes)) throw new ParseFailure("not TNEF: bad signature")
    var off = 6 // signature + attach key
    var subject = ""
    var body = ""
    var from = ""
    // attachments accumulate in stream order; RendData opens a new one
    final case class Att(var name: String, var data: Array[Byte])
    val atts = ArrayBuffer.empty[Att]
    while (off < bytes.length) {
      if (off + 9 > bytes.length) throw new ParseFailure("TNEF attribute header truncated")
      val level = Bin.u8(bytes, off)
      val attr = Bin.u32(bytes, off + 1)
      val len = Bin.u32(bytes, off + 5)
      off += 9
      if (level != LvlMessage && level != LvlAttachment)
        throw new ParseFailure(s"TNEF bad component level $level")
      if (len < 0 || len > bytes.length - off - 2)
        throw new ParseFailure("TNEF attribute data past stream end")
      val data = Bin.slice(bytes, off, len)
      off += len.toInt
      if (Bin.u16(bytes, off) != checksum(data))
        throw new ParseFailure("TNEF attribute checksum mismatch")
      off += 2
      attr match {
        case AttSubject => subject = cstr(data)
        case AttBody => if (body.isEmpty) body = cstr(data)
        case AttMsgProps =>
          val (f, uniBody) = mapiProps(data)
          if (f.nonEmpty) from = f
          uniBody.foreach(body = _) // Unicode body outranks cp1252 attBody
        case AttAttachRendData => atts += Att("", Array.empty)
        case AttAttachTitle =>
          if (atts.isEmpty) throw new ParseFailure("TNEF attachment title before RendData")
          atts.last.name = cstr(data)
        case AttAttachData =>
          if (atts.isEmpty) throw new ParseFailure("TNEF attachment data before RendData")
          atts.last.data = data
        case AttTnefVersion | AttOemCodepage | AttMessageClass => () // shape, not content
        case _ => () // unknown attributes skip: checksummed, so not corruption
      }
    }
    Msg.MsgDoc(subject, from, body,
      atts.iterator.map(a => Msg.FileAtt(a.name, a.data): Msg.Attachment).toVector)
  }

  // ---------------------------------------------------------------- writer

  private def putU16(b: ArrayBuffer[Byte], v: Int): Unit = {
    b += v.toByte; b += (v >> 8).toByte
  }
  private def putU32(b: ArrayBuffer[Byte], v: Long): Unit = {
    putU16(b, (v & 0xffff).toInt); putU16(b, ((v >> 16) & 0xffff).toInt)
  }

  /** Deterministic spec-shaped winmail.dat (the writer the fixtures and
    * oracle use; reader and writer are independent spec derivations).
    */
  def build(subject: String, from: String, body: String,
            atts: Seq[(String, Array[Byte])] = Nil,
            rtfBody: Boolean = false): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    putU32(out, Signature)
    putU16(out, 0x0001) // attach key

    def attribute(level: Int, attr: Long, data: Array[Byte]): Unit = {
      out += level.toByte
      putU32(out, attr)
      putU32(out, data.length.toLong)
      out ++= data
      putU16(out, checksum(data))
    }
    def cbytes(s: String): Array[Byte] = s.getBytes(Biff.Cp1252) :+ 0.toByte

    attribute(LvlMessage, AttTnefVersion,
      Array[Byte](0, 0, 1, 0)) // 0x00010000 LE
    locally {
      val cp = ArrayBuffer.empty[Byte]
      putU32(cp, 1252L); putU32(cp, 0L)
      attribute(LvlMessage, AttOemCodepage, cp.toArray)
    }
    attribute(LvlMessage, AttMessageClass, cbytes("IPM.Microsoft Mail.Note"))
    locally {
      // sender AND a PT_UNICODE body ride the MAPI stream so the parse is
      // Unicode-transparent (attBody below is the lossy cp1252 fallback
      // real readers also accept)
      val props = ArrayBuffer.empty[(Long, Array[Byte])]
      // counted NUL-terminated unicode value
      def uniVal(s: String): Array[Byte] = (s + "\u0000").getBytes(StandardCharsets.UTF_16LE)
      if (from.nonEmpty)
        props += (((PidSenderName.toLong << 16) | PtUnicode, uniVal(from)))
      if (rtfBody) // RTF-only shape: PR_RTF_COMPRESSED instead of PidTagBody
        props += (((PidRtfCompressed.toLong << 16) | PtBinary,
          graft.core.office.RtfComp.compress(graft.core.office.Msg.rtfWrap(body))))
      else props += (((PidBody.toLong << 16) | PtUnicode, uniVal(body)))
      val mp = ArrayBuffer.empty[Byte]
      putU32(mp, props.length.toLong)
      props.foreach { case (tag, raw) =>
        putU32(mp, tag)
        putU32(mp, 1L) // cValues
        putU32(mp, raw.length.toLong)
        mp ++= raw
        (0 until (4 - raw.length % 4) % 4).foreach(_ => mp += 0.toByte)
      }
      attribute(LvlMessage, AttMsgProps, mp.toArray)
    }
    attribute(LvlMessage, AttSubject, cbytes(subject))
    if (!rtfBody) attribute(LvlMessage, AttBody, cbytes(body))
    atts.foreach { case (name, data) =>
      // RendData (14 bytes): atyp=file(1), position 0, size 0x0, flags 0
      val rd = ArrayBuffer.empty[Byte]
      putU16(rd, 1); putU32(rd, 0L); putU16(rd, 0); putU16(rd, 0); putU32(rd, 0L)
      attribute(LvlAttachment, AttAttachRendData, rd.toArray)
      attribute(LvlAttachment, AttAttachTitle, cbytes(name))
      attribute(LvlAttachment, AttAttachData, data)
    }
    out.toArray
  }
}
