package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure

/** Microsoft Publisher (`.pub`) text extraction over [[Cfb]] — the
  * reference's Tika `AutoDetectParser` reaches these through POI's HPBF
  * `PublisherTextExtractor` (`Extractor.java:937` dispatch surface), built
  * here from the publicly documented HPBF/Quill layout:
  *
  *  - a .pub compound file keeps its story text in the Quill subsystem:
  *    the stream at storage path `Quill/QuillSub/CONTENTS`;
  *  - that stream opens with the 8-byte magic `"CHNKINK "`; at offset
  *    0x20 sits a 20-slot chunk index of 24-byte descriptors. An occupied
  *    slot starts with the marker bytes 0x18 0x00 (the descriptor's own
  *    length), then a 4-char thing type, two u16 options, a 4-char BIT
  *    TYPE (`"TEXT"` or `"PLC "`), and the u32 (from, length) byte span
  *    of the bit's data within the stream;
  *  - `TEXT` bits hold the story text as UTF-16LE with CR (0x0D)
  *    paragraph marks, normalized to '\n' on extraction (the extractor
  *    convention shared with [[WordDoc]]); `PLC ` bits are layout
  *    plumbing and carry no prose.
  *
  * No real Publisher file ships in this sandbox, so the layout is
  * spec-derived and round-trip-verified against [[build]] (the
  * [[Pst]]-ANSI discipline, noted per house rule). Malformed input (bad
  * magic, descriptor spans past the stream end, odd TEXT byte lengths)
  * throws [[ParseFailure]] — classified by the job layer, never a task
  * failure.
  */
object Pub {

  import graft.core.Bin.{latin1, slice, u32}

  private val QuillPath = "Quill/QuillSub/CONTENTS"
  private val Magic = "CHNKINK ".getBytes(StandardCharsets.US_ASCII)
  private val IndexOff = 0x20
  private val Slots = 20
  private val SlotLen = 24

  /** Name-only predicate: the Quill story stream marks a Publisher doc. */
  def isPub(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(_._1 == QuillPath)

  /** Extract the story text of a Publisher compound file. */
  def text(entries: Seq[(String, Option[Array[Byte]])]): String = {
    val data = entries.collectFirst { case (QuillPath, Some(b)) => b }
      .getOrElse(throw new ParseFailure("pub: Quill CONTENTS stream missing or refused"))
    quillText(data)
  }

  /** Walk the Quill chunk index and join every TEXT bit's story text. */
  def quillText(data: Array[Byte]): String = {
    if (data.length < IndexOff + Slots * SlotLen)
      throw new ParseFailure(s"pub: CONTENTS of ${data.length} bytes is shorter than the chunk index")
    var m = 0
    while (m < Magic.length) {
      if (data(m) != Magic(m)) throw new ParseFailure("pub: bad CHNKINK magic")
      m += 1
    }
    val texts = Vector.newBuilder[String]
    var i = 0
    while (i < Slots) {
      val off = IndexOff + i * SlotLen
      if (data(off) == 0x18 && data(off + 1) == 0) { // occupied slot
        val bitType = latin1(data, off + 10, 4)
        val from = u32(data, off + 14)
        val len = u32(data, off + 18)
        if (from + len > data.length)
          throw new ParseFailure(s"pub: bit $i spans [$from,+$len) past CONTENTS end ${data.length}")
        if (bitType == "TEXT") {
          if (len % 2 != 0)
            throw new ParseFailure(s"pub: TEXT bit $i has odd byte length $len")
          texts += new String(slice(data, from, len), StandardCharsets.UTF_16LE)
        }
      }
      i += 1
    }
    texts.result().mkString("\n").replace('\r', '\n')
  }

  // ---------------------------------------------------------------- writer

  /** The Quill CONTENTS stream bytes for one TEXT bit holding `paras`
    * joined by the format's CR paragraph marks.
    */
  def contents(paras: Seq[String]): Array[Byte] = {
    val story = paras.mkString("\r").getBytes(StandardCharsets.UTF_16LE)
    val dataOff = IndexOff + Slots * SlotLen // 0x200
    val out = new Array[Byte](dataOff + story.length)
    System.arraycopy(Magic, 0, out, 0, Magic.length)
    def p32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
      out(off + 2) = (v >>> 16).toByte; out(off + 3) = (v >>> 24).toByte
    }
    out(IndexOff) = 0x18 // occupied-slot marker (descriptor length)
    System.arraycopy("TEXT".getBytes(StandardCharsets.US_ASCII), 0, out, IndexOff + 2, 4)
    System.arraycopy("TEXT".getBytes(StandardCharsets.US_ASCII), 0, out, IndexOff + 10, 4)
    p32(IndexOff + 14, dataOff)
    p32(IndexOff + 18, story.length)
    System.arraycopy(story, 0, out, dataOff, story.length)
    out
  }

  /** Deterministic `.pub` bytes: the Quill story stream plus the inert
    * Escher/Contents plumbing streams real Publisher files carry, framed
    * by [[Cfb.build]].
    */
  def build(paras: Seq[String]): Array[Byte] = Cfb.build(Seq(
    ("Contents", new Array[Byte](4)),
    ("Escher/EscherStm", Array.emptyByteArray),
    (QuillPath, contents(paras))))
}
