package graft.core.office

import java.nio.charset.StandardCharsets

/** Outlook `.msg` (MS-OXMSG) message parsing over [[Cfb]] — the reference's
  * OutlookExtractor path (fixtures `3rd-level-bug-732.msg`,
  * `outlook-message.msg`): a message is a compound file whose properties
  * live in `__substg1.0_<tag><type>` streams (type 001F = UTF-16LE string,
  * 0102 = binary) and whose attachments are `__attach_version1.0_#NNNNNNNN`
  * storages — a file attachment carries its bytes in `37010102` and long
  * filename in `3707001F`; an attached MESSAGE instead nests a whole
  * sub-message under a `__substg1.0_3701000D` storage (the 3rd-level-bug
  * fixture is exactly msg-in-msg-in-msg).
  *
  * Identity: [[canonical]] folds a message to its logical fields
  * (subject/from/body + attachments), so a message's embed id is invariant
  * to property-stream encoding details (ANSI vs Unicode streams, storage
  * order) — the same recompression-invariance argument as
  * [[graft.core.Ids.canonicalEntries]], and the reason the SQL oracle can
  * recompute msg-in-msg ids without a UTF-16 encoder.
  */
object Msg {

  /** One parsed attachment: a plain file (sniffed downstream like any
    * archive entry) or a nested message.
    */
  sealed trait Attachment
  final case class FileAtt(name: String, bytes: Array[Byte]) extends Attachment
  final case class MsgAtt(msg: MsgDoc) extends Attachment
  /** An attachment whose bytes could not be materialized (the OST-2013
    * truncation class): name + reason, spawned downstream as a
    * content-less parse-failure child — the reference's recovery-stub
    * semantics (`ResilientOutlookPSTParser.java:580-596`). Only the PST
    * reader produces these; the `.msg` writer never emits them.
    */
  final case class StubAtt(name: String, reason: String) extends Attachment

  final case class MsgDoc(subject: String, from: String, body: String,
                          attachments: Vector[Attachment])

  private val AttachPrefix = "__attach_version1.0_#"

  /** A compound file is a message when it carries MAPI property streams. */
  def isMsg(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists { case (p, _) =>
      p.startsWith("__substg1.0_") || p == "__properties_version1.0"
    }

  private def utf16(bytes: Option[Array[Byte]]): String =
    bytes.map(b => new String(b, Biff.Utf16Le)).getOrElse("")

  private val Cp1252 = Biff.Cp1252 // one charset instance package-wide

  /** Message nesting ceiling: beyond this a crafted msg-in-msg chain is
    * malformed input (ParseFailure, classified NOT_PARSED) rather than a
    * recursion-depth task failure. Generous vs the reference's embed
    * depth guard of 20 (`EmbedSpawner.java:55`).
    */
  val MaxNesting = 64

  /** Parse the property streams of one message level. Paths are the
    * slash-joined [[Cfb.streamEntries]] form; recursion descends into
    * `3701000D` embedded-message storages, depth-capped by [[MaxNesting]].
    */
  def parse(entries: Seq[(String, Option[Array[Byte]])]): MsgDoc = parse(entries, 0)

  private def parse(entries: Seq[(String, Option[Array[Byte]])], depth: Int): MsgDoc = {
    if (depth > MaxNesting)
      throw new graft.core.ParseFailure(s"msg nesting deeper than $MaxNesting")
    // string property: a READABLE Unicode stream (001F, UTF-16LE) wins,
    // ANSI fallback (001E, cp1252) — real Outlook writes either; a
    // size-refused 001F (bytes=None) must fall through to the ANSI copy,
    // not shadow it with ""
    def str(tag: String): String =
      entries.collectFirst { case (p, Some(b)) if p == s"__substg1.0_${tag}001F" => utf16(Some(b)) }
        .orElse(entries.collectFirst {
          case (p, Some(b)) if p == s"__substg1.0_${tag}001E" => new String(b, Cp1252)
        })
        .getOrElse("")

    val groups = entries.iterator.flatMap { case (p, _) =>
      if (p.startsWith(AttachPrefix) && p.length > AttachPrefix.length + 8)
        Some(p.substring(0, AttachPrefix.length + 8))
      else None
    }.toVector.distinct.sorted

    val atts = groups.map { g =>
      val nestedPrefix = s"$g/__substg1.0_3701000D/"
      val nested = entries.collect {
        case (p, b) if p.startsWith(nestedPrefix) => (p.substring(nestedPrefix.length), b)
      }
      if (nested.nonEmpty) MsgAtt(parse(nested, depth + 1))
      else {
        val name = entries.collectFirst {
          case (p, Some(b)) if p == s"$g/__substg1.0_3707001F" => utf16(Some(b))
        }.orElse(entries.collectFirst {
          case (p, Some(b)) if p == s"$g/__substg1.0_3707001E" => new String(b, Cp1252)
        }).getOrElse("")
        val data = entries.collectFirst {
          case (p, b) if p == s"$g/__substg1.0_37010102" => b
        }.flatten.getOrElse(Array.empty[Byte])
        FileAtt(name, data)
      }
    }
    // body: plain-text PR_BODY when present; else the PR_RTF_COMPRESSED
    // stream (MS-OXRTFCP) real Outlook writes for RTF-only messages,
    // decompressed and rendered through the shared RTF text extractor
    val body = {
      val plain = str("1000")
      if (plain.nonEmpty) plain
      else entries.collectFirst {
        case ("__substg1.0_10090102", Some(b)) => b
      } match {
        case Some(comp) =>
          graft.core.text.Rtf.text(new String(RtfComp.decompress(comp), Cp1252))
        case None => plain
      }
    }
    MsgDoc(str("0037"), str("0C1A"), body, atts)
  }

  /** Logical canonical content key (embed-id preimage) of a message:
    * length-prefixed (field, value) pairs, attachments as (name, latin1
    * bytes), nested messages recursively by their own canonical string.
    */
  def canonical(m: MsgDoc): String = {
    val fields = Seq(("subject", m.subject), ("from", m.from), ("body", m.body)) ++
      m.attachments.map {
        case FileAtt(n, b) => (n, new String(b, StandardCharsets.ISO_8859_1))
        case MsgAtt(sub) => (sub.subject, canonical(sub))
        // a stub contributes its name with no content (the reason is
        // diagnostic, not identity — retrying a truncated file that now
        // reads fully SHOULD change the id, and it does, via the bytes)
        case StubAtt(n, _) => (n, "")
      }
    graft.core.Ids.canonicalEntries(fields)
  }

  /** Password-protected OOXML saved as a compound file (ECMA-376 Part 2
    * / MS-OFFCRYPTO): the EncryptionInfo + EncryptedPackage stream pair.
    * Must classify NOT_DECRYPTED — exploding the ciphertext package as
    * generic stream children would index garbage (the reference raises
    * EncryptedDocumentException from Tika here).
    */
  def isEncryptedOffice(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(_._1 == "EncryptionInfo") &&
      entries.exists(_._1 == "EncryptedPackage")

  /** Own text of a legacy Office DOCUMENT compound file (Some), or None
    * for a generic/unrecognized container — the single dispatch point of
    * the extractor's `cfb` container row, so adding a legacy format can
    * never diverge between the root and a nested entry.
    */
  def docText(entries: Seq[(String, Option[Array[Byte]])]): Option[String] =
    if (WordDoc.isDoc(entries)) Some(WordDoc.text(entries))
    else if (Xls.isXls(entries)) Some(Xls.text(entries))
    else if (Ppt.isPpt(entries)) Some(Ppt.text(entries))
    else if (Pub.isPub(entries)) Some(Pub.text(entries))
    else if (Hwp.isHwp(entries)) Some(Hwp.text(entries))
    else None

  // ---------------------------------------------------------------- writer

  private def u16(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_16LE)

  /** The property streams of one message level (no container framing). */
  def streams(m: MsgDoc, prefix: String = ""): Vector[(String, Array[Byte])] = {
    val base = Vector(
      (s"${prefix}__substg1.0_0037001F", u16(m.subject)),
      (s"${prefix}__substg1.0_0C1A001F", u16(m.from)),
      (s"${prefix}__substg1.0_1000001F", u16(m.body)),
      (s"${prefix}__properties_version1.0", new Array[Byte](32)))
    val atts = m.attachments.zipWithIndex.flatMap { case (a, i) =>
      val g = f"$prefix$AttachPrefix$i%08X"
      a match {
        case FileAtt(n, b) => Vector(
          (s"$g/__substg1.0_3707001F", u16(n)),
          (s"$g/__substg1.0_37010102", b))
        case MsgAtt(sub) => streams(sub, s"$g/__substg1.0_3701000D/")
        case StubAtt(_, _) => Vector.empty // stubs never round-trip to .msg
      }
    }
    base ++ atts
  }

  /** Deterministic `.msg` bytes: [[streams]] framed by [[Cfb.build]]. */
  def build(m: MsgDoc): Array[Byte] = Cfb.build(streams(m))

  /** Minimal RTF document wrapping `text` so that the shared RTF
    * extractor renders it back verbatim (specials escaped, newlines as
    * `\par`, non-cp1252-safe chars as `\uN` with the default 1-char
    * fallback).
    */
  def rtfWrap(text: String): Array[Byte] = {
    val sb = new StringBuilder("{\\rtf1\\ansi ")
    text.foreach {
      case '\\' => sb.append("\\\\")
      case '{' => sb.append("\\{")
      case '}' => sb.append("\\}")
      case '\n' => sb.append("\\par ")
      case c if c >= 0x20 && c < 0x7f => sb.append(c)
      case c => sb.append("\\u").append(c.toInt).append('?')
    }
    sb.append('}').toString.getBytes(StandardCharsets.US_ASCII)
  }

  /** `.msg` bytes for an RTF-only message: PR_BODY omitted, the body
    * carried as MS-OXRTFCP PR_RTF_COMPRESSED instead — the shape real
    * Outlook writes for rich-text mail.
    */
  def buildRtfBody(m: MsgDoc): Array[Byte] = Cfb.build(
    streams(m).filterNot(_._1 == "__substg1.0_1000001F") :+
      (("__substg1.0_10090102", RtfComp.compress(rtfWrap(m.body)))))
}
