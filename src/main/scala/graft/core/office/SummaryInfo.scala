package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.{Bin, ParseFailure}

/** OLE property sets ([MS-OLEPS]) — the `SummaryInformation` stream
  * legacy Office files carry their author/title/comments metadata in, and
  * the MetadataCleaner's Word branch (`cleaner/MetadataCleaner.java:26-98`:
  * blank the identifying properties, keep the content byte-identical).
  *
  * Subset: one property set, VT_LPSTR (cp1252) and VT_LPWSTR (UTF-16LE)
  * string values read and BLANKED; every other property type is preserved
  * as raw bytes through [[blank]]'s rewrite. Malformed input throws
  * ParseFailure (classified upstream, never an escape).
  */
object SummaryInfo {

  /** The real on-disk stream name starts with the 0x05 control char. */
  val StreamName: String = "\u0005" + "SummaryInformation"

  // PIDSI ids ([MS-OLEPS] / Windows SummaryInformation): the identifying
  // fields the cleaner blanks — same field set as the reference's cleaner
  // (author/title/subject/keywords/comments/last-author).
  val IdentifyingProps: Set[Int] = Set(2, 3, 4, 5, 6, 8)

  private val VtLpstr = 0x001e
  private val VtLpwstr = 0x001f
  // FMTID_SummaryInformation {F29F85E0-4FF9-1068-AB91-08002B27B3D9}
  private val Fmtid: Array[Byte] = Array(
    0xe0, 0x85, 0x9f, 0xf2, 0xf9, 0x4f, 0x68, 0x10,
    0xab, 0x91, 0x08, 0x00, 0x2b, 0x27, 0xb3, 0xd9).map(_.toByte)

  /** A u32 field as an Int; a value past Int.MaxValue is malformed. */
  private def int32(b: Array[Byte], o: Int): Int = {
    val v = Bin.u32(b, o)
    if (v > Int.MaxValue) throw new ParseFailure("property set field overflows") else v.toInt
  }

  /** Deterministic stream bytes for string properties (VT_LPSTR). */
  def build(props: Seq[(Int, String)]): Array[Byte] =
    buildMixed(props.map { case (p, s) => (p, Right(s)) })

  /** As [[build]], with Left(int) entries emitted as VT_I4 (the page/word
    * counts real streams carry alongside the strings).
    */
  def buildMixed(props: Seq[(Int, Either[Int, String])]): Array[Byte] = {
    val values = props.map {
      case (pid, Right(s)) =>
        val raw = s.getBytes(Biff.Cp1252)
        val cch = raw.length + 1 // NUL included
        val pad = (4 - (cch % 4)) % 4
        val v = new Array[Byte](8 + cch + pad)
        putU32(v, 0, VtLpstr); putU32(v, 4, cch)
        System.arraycopy(raw, 0, v, 8, raw.length)
        (pid, v)
      case (pid, Left(i)) =>
        val v = new Array[Byte](8)
        putU32(v, 0, 0x0003); putU32(v, 4, i) // VT_I4
        (pid, v)
    }
    val headerLen = 8 + values.length * 8
    val offsets = values.scanLeft(headerLen)((acc, v) => acc + v._2.length)
    val cbSection = headerLen + values.map(_._2.length).sum
    val out = new Array[Byte](48 + cbSection)
    putU16(out, 0, 0xfffe) // wByteOrder
    putU16(out, 2, 0) // wFormat
    putU32(out, 4, 0x00020005) // dwOSVer (win32 shape)
    // 8..24: CLSID zero
    putU32(out, 24, 1) // cSections
    System.arraycopy(Fmtid, 0, out, 28, 16)
    putU32(out, 44, 48) // section offset
    putU32(out, 48, cbSection)
    putU32(out, 52, values.length)
    values.zipWithIndex.foreach { case ((pid, _), i) =>
      putU32(out, 56 + 8 * i, pid); putU32(out, 60 + 8 * i, offsets(i))
    }
    values.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, out, 48 + offsets(i), v.length)
    }
    out
  }

  private def putU16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def putU32(b: Array[Byte], o: Int, v: Int): Unit = {
    putU16(b, o, v & 0xffff); putU16(b, o + 2, (v >>> 16) & 0xffff)
  }

  private def sectionStart(b: Array[Byte]): Int = {
    if (b.length < 48) throw new ParseFailure("property set stream truncated")
    if (Bin.u16(b, 0) != 0xfffe) throw new ParseFailure("property set bad byte order mark")
    if (int32(b, 24) < 1) throw new ParseFailure("property set has no sections")
    val off = int32(b, 44)
    if (off < 0 || off > b.length - 8) throw new ParseFailure("section offset out of range")
    off
  }

  /** The string properties (pid -> value) of the first section. */
  def parse(b: Array[Byte]): Map[Int, String] = {
    val so = sectionStart(b)
    val cProps = int32(b, so + 4)
    if (cProps < 0 || cProps > 4096) throw new ParseFailure("implausible property count")
    (0 until cProps).flatMap { i =>
      val pid = int32(b, so + 8 + 8 * i)
      val po = propOffset(b, so, i)
      val vt = int32(b, po)
      if (vt == VtLpstr) {
        val cch = int32(b, po + 4)
        // subtraction form: po + 8 + cch overflows Int for a crafted cch
        if (cch < 0 || cch > b.length - po - 8) throw new ParseFailure("LPSTR past stream end")
        val raw = Bin.slice(b, po + 8, math.max(0, cch - 1))
        Some(pid -> new String(raw, Biff.Cp1252))
      } else if (vt == VtLpwstr) {
        val cch = int32(b, po + 4)
        if (cch < 0 || cch > (b.length - po - 8) / 2) throw new ParseFailure("LPWSTR past stream end")
        val raw = Bin.slice(b, po + 8, 2 * math.max(0, cch - 1))
        Some(pid -> new String(raw, StandardCharsets.UTF_16LE))
      } else None
    }.toMap
  }

  /** Property i's value offset, validated in range (overflow-safe). */
  private def propOffset(b: Array[Byte], so: Int, i: Int): Int = {
    val rel = int32(b, so + 12 + 8 * i)
    if (rel < 0 || rel > b.length - so - 8)
      throw new ParseFailure("property value offset out of range")
    so + rel
  }

  /** The stream with the identifying STRING properties blanked (empty
    * string, structure preserved) and everything else byte-preserved:
    * property order, non-string values, and unknown types ride through
    * untouched. Idempotent.
    */
  def blank(b: Array[Byte], ids: Set[Int] = IdentifyingProps): Array[Byte] = {
    val so = sectionStart(b)
    // the rewrite sizes the output to the FIRST section's end, so a
    // multi-section stream would be silently truncated while its header
    // still advertised the dropped sections — refuse instead (real
    // SummaryInformation streams are single-section; DocumentSummary's
    // two-section shape is a different stream this cleaner never touches)
    if (int32(b, 24) != 1)
      throw new ParseFailure("multi-section property set: blank() supports exactly one section")
    val cProps = int32(b, so + 4)
    if (cProps < 0 || cProps > 4096) throw new ParseFailure("implausible property count")
    val entries = (0 until cProps).map { i =>
      val pid = int32(b, so + 8 + 8 * i)
      val po = propOffset(b, so, i)
      val vt = int32(b, po)
      val valueBytes: Array[Byte] =
        if (ids.contains(pid) && vt == VtLpstr)
          Array[Byte](VtLpstr.toByte, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0) // "" + pad
        else if (ids.contains(pid) && vt == VtLpwstr)
          Array[Byte](VtLpwstr.toByte, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0)
        else {
          // raw-preserve: value runs to the next property offset (or the
          // section end) in stream order
          val ends = (0 until cProps).map(j => propOffset(b, so, j))
            .filter(_ > po) :+ (so + int32(b, so))
          val end = math.min(ends.min, b.length)
          if (end < po) throw new ParseFailure("property offsets out of order")
          Bin.slice(b, po, end - po)
        }
      (pid, valueBytes)
    }
    val headerLen = 8 + entries.length * 8
    val offsets = entries.scanLeft(headerLen)((acc, e) => acc + e._2.length)
    val cbSection = headerLen + entries.map(_._2.length).sum
    val out = new Array[Byte](so + cbSection)
    System.arraycopy(b, 0, out, 0, so) // property-set header byte-preserved
    putU32(out, so, cbSection)
    putU32(out, so + 4, entries.length)
    entries.zipWithIndex.foreach { case ((pid, _), i) =>
      putU32(out, so + 8 + 8 * i, pid); putU32(out, so + 12 + 8 * i, offsets(i))
    }
    entries.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, out, so + offsets(i), v.length)
    }
    out
  }

  /** The MetadataCleaner Word branch: blank the SummaryInformation stream
    * of a legacy Office compound file, re-serializing through [[Cfb]] with
    * every other stream byte-preserved. A file without the stream returns
    * unchanged. Extraction output is unchanged (text extraction never
    * reads SummaryInformation); a cleaned file is a NEW logical document
    * for content-derived embed ids, while top-level ingestion ids are
    * path-derived and therefore stable across cleaning.
    */
  def cleanDoc(docBytes: Array[Byte], maxEntryBytes: Int): Array[Byte] = {
    val entries = Cfb.streamEntries(docBytes, maxEntryBytes)
    if (!entries.exists(_._1 == StreamName)) return docBytes
    Cfb.build(entries.map {
      case (StreamName, Some(bytes)) => (StreamName, blank(bytes))
      case (n, bytes) =>
        // every stream must materialize to re-serialize the container; an
        // over-cap sibling makes the whole clean a refusal, stated as such
        (n, bytes.getOrElse(throw new ParseFailure(
          s"cannot clean: stream $n exceeds the size cap, container not re-serializable")))
    })
  }
}
