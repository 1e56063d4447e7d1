package graft.core.office

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import graft.core.ParseFailure

/** Legacy Word binary (`.doc`, MS-DOC) text extraction over [[Cfb]] — the
  * reference's POI/Tika WordExtractor path (its `test-documents` legacy
  * .doc fixtures), built from the published MS-DOC structures:
  *
  *  - the `WordDocument` stream opens with the FIB (wIdent 0xA5EC); the
  *    fWhichTblStm flag picks the `1Table`/`0Table` companion stream;
  *  - the FibRgFcLcb97 pair at index 33 locates the Clx in the table
  *    stream; inside it, the Pcdt (clxt=2) holds the PIECE TABLE (PlcPcd):
  *    n+1 character positions plus n PCDs;
  *  - each PCD's fc carries the fCompressed bit — set means 8-bit cp1252
  *    text at fc/2, clear means UTF-16LE at fc. Real documents mix both,
  *    so [[build]] always emits one piece of each.
  *
  * Paragraph marks are stored as CR (0x0D) per the format and normalized
  * to '\n' on extraction. Malformed input (bad magic, out-of-range
  * offsets, truncated piece tables) throws [[ParseFailure]] — classified
  * by the job layer, never a task failure.
  */
object WordDoc {

  private val Cp1252: Charset = Biff.Cp1252
  private val Utf16Le: Charset = Biff.Utf16Le
  import graft.core.Bin.{slice, u8, u16, u32}

  def isDoc(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(_._1 == "WordDocument")

  /** Extract the document text by walking FIB -> Clx -> piece table. */
  def text(entries: Seq[(String, Option[Array[Byte]])]): String = {
    val word = entries.collectFirst { case ("WordDocument", Some(b)) => b }
      .getOrElse(throw new ParseFailure("doc: WordDocument stream missing or refused"))
    if (u16(word, 0) != 0xa5ec) throw new ParseFailure("doc: bad FIB magic")
    val flags = u16(word, 0x0a)
    val tableName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val table = entries.collectFirst { case (`tableName`, Some(b)) => b }
      .getOrElse(throw new ParseFailure(s"doc: $tableName stream missing or refused"))

    // FIB variable blocks: csw(u16) + FibRgW, cslw(u16) + FibRgLw,
    // cbRgFcLcb(u16) + the (fc,lcb) pair array; Clx is pair index 33
    val csw = u16(word, 32)
    val a = 34 + csw * 2
    val cslw = u16(word, a)
    val b = a + 2 + cslw * 4
    val cbRgFcLcb = u16(word, b)
    if (cbRgFcLcb < 34) throw new ParseFailure(s"doc: FibRgFcLcb has $cbRgFcLcb pairs, need fcClx at 33")
    val fcClx = u32(word, b + 2 + 33 * 8)
    val lcbClx = u32(word, b + 2 + 33 * 8 + 4)
    if (fcClx + lcbClx > table.length)
      throw new ParseFailure("doc: Clx past table stream end")
    if (lcbClx < 5) throw new ParseFailure("doc: Clx too small for a piece table")

    // Clx: skip Prc entries (clxt=1, cbGrpprl-prefixed), expect Pcdt (2)
    var i = fcClx.toInt
    val clxEnd = (fcClx + lcbClx).toInt
    while (i < clxEnd && u8(table, i) == 0x01) {
      val cb = u16(table, i + 1)
      i += 3 + cb
    }
    if (i >= clxEnd || u8(table, i) != 0x02) throw new ParseFailure("doc: Pcdt marker missing in Clx")
    val lcb = u32(table, i + 1)
    val plc = i + 5
    if (plc + lcb > clxEnd + 0L) throw new ParseFailure("doc: PlcPcd past Clx end")
    if (lcb < 4 || (lcb - 4) % 12 != 0) throw new ParseFailure(s"doc: PlcPcd size $lcb not 4+12n")
    val n = ((lcb - 4) / 12).toInt

    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      val cpStart = u32(table, plc + 4 * k)
      val cpEnd = u32(table, plc + 4 * (k + 1))
      if (cpEnd < cpStart) throw new ParseFailure("doc: piece CPs not monotone")
      val cpLen = cpEnd - cpStart
      val pcdOff = plc + 4 * (n + 1) + 8 * k
      val fcRaw = u32(table, pcdOff + 2)
      val fc = fcRaw & 0x3fffffffL
      val piece =
        if ((fcRaw & 0x40000000L) != 0) new String(slice(word, fc / 2, cpLen), Cp1252)
        else new String(slice(word, fc, 2 * cpLen), Utf16Le)
      sb.append(piece)
      k += 1
    }
    sb.toString.replace('\r', '\n')
  }

  /** Deterministic minimal `.doc` streams: text split into a cp1252 piece
    * (the ASCII-safe prefix) and a UTF-16LE piece, FIB + Clx/piece table
    * wired exactly as [[text]] reads them. '\n' is stored as the CR
    * paragraph mark, so build-then-extract round-trips the input.
    */
  def buildStreams(text0: String): Seq[(String, Array[Byte])] = {
    val text = text0.replace('\n', '\r')
    // split: longest ASCII-only prefix goes to the cp1252 piece
    val asciiLen0 = text.takeWhile(c => c < 0x80).length
    val asciiLen = if (asciiLen0 == text.length) text.length / 2 + text.length % 2 else asciiLen0
    val p1 = text.substring(0, asciiLen)
    val p2 = text.substring(asciiLen)

    val headerSize = 1024
    val p1Bytes = p1.getBytes(Cp1252)
    val p2Bytes = p2.getBytes(Utf16Le)
    val word = ByteBuffer.allocate(headerSize + p1Bytes.length + p2Bytes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    word.putShort(0, 0xa5ec.toShort)       // wIdent
    word.putShort(2, 0x00c1.toShort)       // nFib: Word 97
    word.putShort(0x0a, 0x0200.toShort)    // fWhichTblStm -> 1Table
    word.putShort(32, 14.toShort)          // csw (FibRgW97: 28 bytes)
    val a = 34 + 28
    word.putShort(a, 22.toShort)           // cslw (FibRgLw97: 88 bytes)
    val b = a + 2 + 88
    word.putShort(b, 93.toShort)           // cbRgFcLcb for nFib 0x00C1
    val fcP1 = headerSize
    val fcP2 = headerSize + p1Bytes.length
    word.position(headerSize); word.put(p1Bytes); word.put(p2Bytes)

    // 1Table: Clx = [Pcdt 0x02][lcb][PlcPcd: cps, pcds]
    val nPieces = if (p2.isEmpty) 1 else 2
    val lcb = 4 * (nPieces + 1) + 8 * nPieces
    val clx = ByteBuffer.allocate(5 + lcb).order(ByteOrder.LITTLE_ENDIAN)
    clx.put(0x02.toByte)
    clx.putInt(lcb)
    clx.putInt(0)
    clx.putInt(p1.length)
    if (nPieces == 2) clx.putInt(p1.length + p2.length)
    def putPcd(fcEncoded: Long): Unit = {
      clx.putShort(0.toShort)
      clx.putInt(fcEncoded.toInt)
      clx.putShort(0.toShort)
    }
    putPcd((fcP1.toLong * 2) | 0x40000000L)  // fCompressed: cp1252 at fc/2
    if (nPieces == 2) putPcd(fcP2.toLong)    // UTF-16LE at fc
    val table = clx.array()

    // Clx location: write fcClx/lcbClx into the FIB pair at index 33
    word.putInt(b + 2 + 33 * 8, 0)
    word.putInt(b + 2 + 33 * 8 + 4, table.length)
    Seq(("WordDocument", word.array()), ("1Table", table))
  }

  /** Deterministic `.doc` bytes: [[buildStreams]] framed by [[Cfb.build]];
    * `objects` become ObjectPool streams — the embedded-OLE-object layout
    * POI walks — which the extractor spawns as sniffed children.
    */
  def build(text: String,
            objects: Seq[(String, Array[Byte])] = Nil): Array[Byte] =
    Cfb.build(buildStreams(text) ++ objects.zipWithIndex.map {
      case ((name, data), i) => (s"ObjectPool/_${1000 + i}/$name", data)
    })
}
