package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.{Bin, ParseFailure}
import graft.core.Bin.{u8, u16, u32, u64}

/** OneNote `.one` sections per the published [MS-ONESTORE] revision
  * store (the Tika OneNoteParser surface):
  *
  *  - a 1024-byte header whose `guidFileFormat` is the fixed revision-
  *    store GUID and whose `fcrFileNodeListRoot` (stp u64, cb u32)
  *    locates the root file node list;
  *  - FileNodeLists in fragments: a 16-byte header (magic
  *    `0xA4567AB1F5F7F4C4`, list id, fragment sequence), FileNodes until
  *    padding, and a 20-byte trailer (next-fragment reference + magic
  *    `0x8BC215C38233BA4B`);
  *  - FileNode header u32: id (10 bits), size (13), stpFormat (2),
  *    cbFormat (2), baseType (4). BaseType 2 nodes reference ANOTHER
  *    file node list (object spaces, revision lists, object groups) —
  *    the walk recurses; BaseType 1 object-declaration nodes
  *    (0x02D/0x02E/0x0A4/0x0A5 and revision variants 0x041/0x042)
  *    reference an ObjectSpaceObjectPropSet blob;
  *  - ObjectSpaceObjectPropSet: OID/OSID/ContextID streams (header u32:
  *    count 24 bits, bit 30 extended-streams, bit 31 osid-not-present),
  *    then a PropertySet — cProperties u16, PropertyID u32 array
  *    (id 26 bits, type 5, bool 1), then each property's data in order.
  *    Text lives in type-7 (four-bytes-of-length-prefixed data)
  *    properties with the `RichEditTextUnicode` id (0x1C001C), UTF-16LE.
  *
  * Output: one line per harvested text property, in walk order — the
  * page's paragraphs — plus every embedded FileDataStoreObject payload
  * (§2.6.13: GUID-framed blobs referenced by FileDataStoreObjectReference
  * nodes, id 0x094), which the extraction route spawns as sniffed
  * children.
  * Malformed framing, geometry lies, and floods throw [[ParseFailure]].
  * No real .one file ships in this sandbox; the reader is spec-derived
  * and round-trip-verified against the writer below (the Pst ANSI
  * discipline).
  */
object OneNote {

  // {109ADD3F-911B-49F5-A5D0-1791EDC8AED8} little-endian, at offset 48
  private val FileFormatGuid = Array(
    0x3f, 0xdd, 0x9a, 0x10, 0x1b, 0x91, 0xf5, 0x49,
    0xa5, 0xd0, 0x17, 0x91, 0xed, 0xc8, 0xae, 0xd8).map(_.toByte)

  private final val ListMagic = 0xa4567ab1f5f7f4c4L
  private final val FooterMagic = 0x8bc215c38233ba4bL
  private final val RichEditTextUnicode = 0x1c001cL // PropertyID id bits

  // FileDataStoreObject framing GUIDs (§2.6.13), little-endian fields:
  // header {BDE316E7-2665-4511-A4C4-8D4D0B7A9EAC}
  private val FileDataHeaderGuid = Array(
    0xe7, 0x16, 0xe3, 0xbd, 0x65, 0x26, 0x11, 0x45,
    0xa4, 0xc4, 0x8d, 0x4d, 0x0b, 0x7a, 0x9e, 0xac).map(_.toByte)
  // footer {71FBA722-0F79-4A0B-BB13-899256426B24}
  private val FileDataFooterGuid = Array(
    0x22, 0xa7, 0xfb, 0x71, 0x79, 0x0f, 0x0b, 0x4a,
    0xbb, 0x13, 0x89, 0x92, 0x56, 0x42, 0x6b, 0x24).map(_.toByte)
  private final val FileDataRefId = 0x094L // FileDataStoreObjectReferenceFND

  def isOne(bytes: Array[Byte]): Boolean =
    bytes.length >= 1024 && (0 until 16).forall(i => bytes(48 + i) == FileFormatGuid(i))

  private final case class Chunk(stp: Long, cb: Long) {
    def nil: Boolean = stp == 0xffffffffL || stp == 0xffffffffffffffffL || cb == 0
  }

  /** FileNodeChunkReference with the FileNode's stp/cb compression
    * formats ([MS-ONESTORE] 2.2.4.2): returns (chunk, bytesConsumed).
    */
  private def nodeChunkRef(b: Array[Byte], off: Long, stpFormat: Int, cbFormat: Int): (Chunk, Int) = {
    val (stpRaw, stpLen) = stpFormat match {
      case 0 => (u64(b, off), 8)
      case 1 => (u32(b, off), 4)
      case 2 => (u16(b, off).toLong * 8, 2)
      case 3 => (u32(b, off) * 8, 4)
      case _ => throw new ParseFailure("one: bad stp format")
    }
    val (cbRaw, cbLen) = cbFormat match {
      case 0 => (u32(b, off + stpLen), 4)
      case 1 => (u64(b, off + stpLen), 8)
      case 2 => (u8(b, off + stpLen) * 8L, 1)
      case 3 => (u16(b, off + stpLen).toLong * 8, 2)
      case _ => throw new ParseFailure("one: bad cb format")
    }
    (Chunk(stpRaw, cbRaw), stpLen + cbLen)
  }

  private def slice(b: Array[Byte], c: Chunk): Array[Byte] = {
    if (c.cb > (64 << 20)) throw new ParseFailure("one: chunk reference past the 64 MiB cap")
    Bin.slice(b, c.stp, c.cb)
  }

  /** The text properties of one ObjectSpaceObjectPropSet blob, in
    * declaration order.
    */
  private def propSetText(blob: Array[Byte],
                          out: scala.collection.mutable.Builder[String, Vector[String]]): Unit = {
    var off = 0L
    def stream(): Unit = {
      val h = u32(blob, off); off += 4
      val count = h & 0xffffff
      if (count > (1 << 20)) throw new ParseFailure("one: oid stream flood")
      off += count * 4 // CompactIDs
    }
    val h0 = u32(blob, 0)
    val osidNotPresent = (h0 & 0x80000000L) != 0
    val extendedPresent = (h0 & 0x40000000L) != 0
    stream() // OIDs (re-reads h0, then skips its ids)
    if (!osidNotPresent) {
      val h1 = u32(blob, off)
      val extInOsid = (h1 & 0x40000000L) != 0
      stream()
      if (extInOsid) stream() // ContextIDs
    } else if (extendedPresent) stream()

    val cProps = u16(blob, off); off += 2
    if (cProps > (1 << 16)) throw new ParseFailure("one: property flood")
    val ids = (0 until cProps).map { _ =>
      val v = u32(blob, off); off += 4; v
    }
    ids.foreach { pid =>
      val id = pid & 0x3ffffff
      val tpe = ((pid >> 26) & 0x1f).toInt
      tpe match {
        case 0x1 | 0x2 => // no data / bool-in-id
        case 0x3 => off += 1
        case 0x4 => off += 2
        case 0x5 => off += 4
        case 0x6 => off += 8
        case 0x7 =>
          val len = u32(blob, off); off += 4
          if (len > (16 << 20) || off + len > blob.length)
            throw new ParseFailure("one: prtFourBytesOfLengthFollowedByData length lies")
          if (id == RichEditTextUnicode) {
            if (len % 2 != 0) throw new ParseFailure("one: unicode text property odd length")
            val s = new String(Bin.slice(blob, off, len), StandardCharsets.UTF_16LE)
            out += s.stripSuffix("\u0000")
          }
          off += len
        case 0x8 | 0x9 | 0xa | 0xb => // object refs: ids live in the OID streams
        case 0x10 => // nested property set: one child PropertySet
          throw new ParseFailure("one: nested property sets unsupported")
        case 0x11 =>
          throw new ParseFailure("one: property-value arrays unsupported")
        case other => throw new ParseFailure(s"one: unknown property type $other")
      }
    }
  }

  // FileNode ids whose BaseType-1 reference is an object PropSet blob
  private val ObjectDeclIds = Set(0x02dL, 0x02eL, 0x0a4L, 0x0a5L, 0x041L, 0x042L)

  private def walkList(bytes: Array[Byte], chunk: Chunk,
                       out: scala.collection.mutable.Builder[String, Vector[String]],
                       files: scala.collection.mutable.Builder[Array[Byte], Vector[Array[Byte]]],
                       depth: Int, visited: scala.collection.mutable.Set[Long],
                       budget: Array[Int]): Unit = {
    if (depth > 16) throw new ParseFailure("one: list nesting exceeds depth cap")
    var frag = chunk
    var nFrags = 0
    while (!frag.nil) {
      nFrags += 1
      if (nFrags > 4096) throw new ParseFailure("one: fragment chain flood")
      if (!visited.add(frag.stp)) throw new ParseFailure("one: fragment cycle")
      val b = slice(bytes, frag)
      if (b.length < 36) throw new ParseFailure("one: fragment too small")
      if (u64(b, 0) != ListMagic) throw new ParseFailure("one: file node list magic missing")
      if (u64(b, b.length - 8L) != FooterMagic) throw new ParseFailure("one: fragment footer magic missing")
      val nextRef = Chunk(u64(b, b.length - 20L), u32(b, b.length - 12L))
      var off = 16L
      val end = b.length - 20L
      var done = false
      while (!done && off + 4 <= end) {
        budget(0) -= 1
        if (budget(0) < 0) throw new ParseFailure("one: file node flood")
        val hdr = u32(b, off)
        val id = hdr & 0x3ff
        val size = (hdr >> 10) & 0x1fff
        val stpFmt = ((hdr >> 23) & 3).toInt
        val cbFmt = ((hdr >> 25) & 3).toInt
        val baseType = ((hdr >> 27) & 0xf).toInt
        if (hdr == 0 || id == 0x0ffL) done = true // padding / ChunkTerminator
        else {
          if (size < 4 || off + size > end)
            throw new ParseFailure("one: file node size past fragment")
          if (baseType == 1 || baseType == 2) {
            val (ref, _) = nodeChunkRef(b, off + 4, stpFmt, cbFmt)
            if (baseType == 2 && !ref.nil)
              walkList(bytes, ref, out, files, depth + 1, visited, budget)
            else if (baseType == 1 && !ref.nil && ObjectDeclIds(id))
              propSetText(slice(bytes, ref), out)
            else if (baseType == 1 && !ref.nil && id == FileDataRefId)
              files += fileDataPayload(slice(bytes, ref))
          }
          off += size
        }
      }
      frag = nextRef
    }
  }

  /** Unwrap one FileDataStoreObject blob (§2.6.13): GUID header,
    * u64 cbLength, u32 unused, u64 reserved, FileData, 8-pad, GUID footer.
    */
  private def fileDataPayload(blob: Array[Byte]): Array[Byte] = {
    if (blob.length < 36 + 16)
      throw new ParseFailure("one: FileDataStoreObject shorter than its framing")
    if (!(0 until 16).forall(i => blob(i) == FileDataHeaderGuid(i)))
      throw new ParseFailure("one: FileDataStoreObject header GUID mismatch")
    if (!(0 until 16).forall(i => blob(blob.length - 16 + i) == FileDataFooterGuid(i)))
      throw new ParseFailure("one: FileDataStoreObject footer GUID mismatch")
    val len = u64(blob, 16)
    if (len > blob.length - 16 - 36)
      throw new ParseFailure(s"one: FileData length $len past object end ${blob.length}")
    Bin.slice(blob, 36, len)
  }

  /** All RichEditTextUnicode paragraphs (newline-joined) plus every
    * embedded FileDataStoreObject payload, in walk order.
    */
  def parse(bytes: Array[Byte]): (String, Vector[Array[Byte]]) = {
    if (!isOne(bytes)) throw new ParseFailure("not a OneNote revision store")
    val root = Chunk(u64(bytes, 172), u32(bytes, 180))
    if (root.nil) return ("", Vector.empty)
    val out = Vector.newBuilder[String]
    val files = Vector.newBuilder[Array[Byte]]
    walkList(bytes, root, out, files, 0, scala.collection.mutable.Set.empty, Array(1 << 20))
    (out.result().mkString("\n"), files.result())
  }

  /** All RichEditTextUnicode paragraphs of a section, in walk order. */
  def text(bytes: Array[Byte]): String = parse(bytes)._1

  // ------------------------------------------------------ fixture writer

  private def w16(v: Int): Array[Byte] = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def w32(v: Long): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def w64(v: Long): Array[Byte] = w32(v & 0xffffffffL) ++ w32(v >>> 32)

  /** One PropSet blob with empty OID stream and a single
    * RichEditTextUnicode property.
    */
  private def propSetBlob(text: String): Array[Byte] = {
    val data = text.getBytes(StandardCharsets.UTF_16LE)
    w32(0x80000000L) ++ // OID stream: count 0, osid-not-present
      w16(1) ++
      w32((0x7L << 26) | RichEditTextUnicode) ++
      w32(data.length.toLong) ++ data
  }

  private def fileNode(id: Long, baseType: Int, payload: Array[Byte]): Array[Byte] = {
    val size = 4 + payload.length
    // stpFormat 1 (u32), cbFormat 0 (u32) for reference payloads
    val hdr = id | (size.toLong << 10) | (1L << 23) | (0L << 25) | (baseType.toLong << 27)
    w32(hdr) ++ payload
  }

  /** A fragment holding `nodes`, with no continuation. */
  private def fragment(listId: Long, nodes: Seq[Array[Byte]]): Array[Byte] = {
    val body = nodes.flatten.toArray
    w64(ListMagic) ++ w32(listId) ++ w32(0) ++ body ++
      w32(0) ++ // padding terminator read as an all-zero node header
      w64(0xffffffffffffffffL) ++ w32(0) ++ // nil next-fragment reference
      w64(FooterMagic)
  }

  /** Deterministic section: root list → object-space list → revision
    * list carrying one ObjectDeclaration2RefCountFND per paragraph.
    */
  def build(paragraphs: Seq[String], files: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(new Array[Byte](1024)) // header patched below

    def append(b: Array[Byte]): Chunk = {
      val at = out.size().toLong
      out.write(b)
      Chunk(at, b.length.toLong)
    }

    // object blobs first
    val blobs = paragraphs.map(p => append(propSetBlob(p)))
    // revision list: declaration per blob (0x0A4, BaseType 1; ref = stp u32 + cb u32,
    // then ObjectDeclaration2Body: CompactID u32, jcid u32, flags u8, cRef u8)
    val revNodes = blobs.zipWithIndex.map { case (c, i) =>
      fileNode(0x0a4, 1, w32(c.stp) ++ w32(c.cb) ++ w32(i + 1L) ++ w32(0x10001L) ++ Array[Byte](0, 1))
    }
    val revList = append(fragment(3, revNodes))
    // object-space list: revision-list reference (0x010, BaseType 2)
    val spaceList = append(fragment(2,
      Seq(fileNode(0x010, 2, w32(revList.stp) ++ w32(revList.cb)))))
    // root list: object-space reference (0x008, BaseType 2) + a root
    // manifest data node (0x004, BaseType 0: a 20-byte ExtendedGUID)
    // FileDataStoreObject blobs + their dedicated list (referenced from
    // the root by FileDataStoreListReferenceFND 0x090, BaseType 2)
    val fileBlobs = files.map { data =>
      val pad = new Array[Byte]((8 - data.length % 8) % 8)
      append(FileDataHeaderGuid ++ w64(data.length.toLong) ++ w32(0) ++ w64(0) ++
        data ++ pad ++ FileDataFooterGuid)
    }
    val fileList =
      if (fileBlobs.isEmpty) None
      else Some(append(fragment(4, fileBlobs.map(c =>
        fileNode(FileDataRefId, 1, w32(c.stp) ++ w32(c.cb) ++ new Array[Byte](16))))))
    val rootList = append(fragment(1, Seq(
      fileNode(0x004, 0, new Array[Byte](20)),
      fileNode(0x008, 2, w32(spaceList.stp) ++ w32(spaceList.cb))) ++
      fileList.map(c => fileNode(0x090, 2, w32(c.stp) ++ w32(c.cb))).toSeq))

    val bytes = out.toByteArray
    // header: guidFileFormat at 48, fcrFileNodeListRoot at 172 (stp u64 + cb u32)
    System.arraycopy(FileFormatGuid, 0, bytes, 48, 16)
    System.arraycopy(w64(rootList.stp), 0, bytes, 172, 8)
    System.arraycopy(w32(rootList.cb), 0, bytes, 180, 4)
    bytes
  }
}
