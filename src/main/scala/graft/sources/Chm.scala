package graft.sources

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure
import graft.core.Bin.{latin1, slice, u8, u32, u64}
import graft.core.compress.Lzx

/** Microsoft Compiled HTML Help (`.chm`) — the ITSS container per the
  * public format documentation (the unofficial CHM spec, long published;
  * Tika's ChmParser implements the same layout including its own LZX):
  *
  *  - ITSF header (version 3): two header-section (offset,length) pairs —
  *    section 1 is the DIRECTORY — plus the content-section-0 offset;
  *  - ITSP directory header, then 0x1000-byte PMGL listing chunks whose
  *    entries are `ENCINT nameLen, name, ENCINT section, ENCINT offset,
  *    ENCINT length` (ENCINT = big-endian 7-bit varint);
  *  - content section 0 is stored raw at the content offset; section 1
  *    ("MSCompressed") lives INSIDE section 0 as three named streams:
  *    `::DataSpace/Storage/MSCompressed/ControlData` (LZXC version,
  *    reset interval, window size — in 0x8000 units for version 2),
  *    `.../Transform/{7FC28940-9D31-11D0-9B27-00A0C91E9C7C}/InstanceData/
  *    ResetTable` (frame count, uncompressed/compressed lengths, per-
  *    reset-segment compressed offsets), and `.../Content` (the LZX
  *    stream).
  *
  * Files explode as path-named entries; compressed entries decode
  * through [[Lzx]] segment by segment. Malformed framing, geometry lies,
  * and crafted floods throw [[ParseFailure]].
  */
object Chm {

  def isChm(bytes: Array[Byte]): Boolean =
    bytes.length >= 96 && bytes(0) == 'I' && bytes(1) == 'T' &&
      bytes(2) == 'S' && bytes(3) == 'F'

  /** Big-endian 7-bit varint; returns (value, nextOffset). */
  private def encint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var p = off
    var n = 0
    while (true) {
      val c = u8(b, p)
      v = (v << 7) | (c & 0x7f)
      p += 1
      n += 1
      if (n > 9) throw new ParseFailure("chm: encint too long")
      if ((c & 0x80) == 0) return (v, p)
    }
    (0L, off) // unreachable
  }

  private final case class RawEntry(name: String, section: Long, offset: Long, length: Long)

  private def directory(bytes: Array[Byte]): Vector[RawEntry] = {
    if (!isChm(bytes)) throw new ParseFailure("not a chm file")
    val version = u32(bytes, 4)
    if (version < 2 || version > 3) throw new ParseFailure(s"chm: unsupported ITSF version $version")
    // header-section table at 0x38, two (offset u64, length u64) entries:
    // entry 0 is the file-size section, entry 1 (0x48/0x50) the ITSP
    // directory — the chmlib/published layout (chmItsfHeader: dir_offset
    // 0x48, dir_len 0x50)
    val dirOff = u64(bytes, 0x48)
    val dirLen = u64(bytes, 0x50)
    // each bound checked alone: a crafted huge offset + huge length would
    // overflow their Long sum negative and slip the combined check
    if (dirOff < 0 || dirOff > bytes.length || dirLen < 0x54 ||
        dirLen > bytes.length || dirOff + dirLen > bytes.length)
      throw new ParseFailure("chm: directory section past file end or too small")
    val d = dirOff.toInt
    if (latin1(bytes, d, 4) != "ITSP")
      throw new ParseFailure("chm: ITSP signature missing")
    val chunkSize = u32(bytes, d + 0x10)
    val nChunks = u32(bytes, d + 0x28)
    if (chunkSize != 0x1000) throw new ParseFailure(s"chm: unexpected chunk size $chunkSize")
    if (nChunks < 1 || nChunks > 4096) throw new ParseFailure("chm: chunk count out of range")
    val headerLen = u32(bytes, d + 8)
    val out = Vector.newBuilder[RawEntry]
    var c = 0
    while (c < nChunks) {
      // in Long: a header length near 2^32 must not wrap the chunk base
      val base = d + headerLen + c * chunkSize
      if (base + chunkSize > bytes.length) throw new ParseFailure("chm: chunk past end")
      if (latin1(bytes, base, 4) == "PMGL") {
        val quickRefLen = u32(bytes, base + 4)
        var p = (base + 0x14).toInt
        val end = (base + chunkSize - quickRefLen).toInt
        if (end < p || end > bytes.length) throw new ParseFailure("chm: quickref length lies")
        var guard = 0
        while (p < end) {
          guard += 1
          if (guard > 100000) throw new ParseFailure("chm: entry flood")
          val (nameLen, p1) = encint(bytes, p)
          if (nameLen == 0) { p = end } // padding reached
          else {
            if (nameLen > 4096 || p1 + nameLen > end)
              throw new ParseFailure("chm: entry name past chunk")
            val name = new String(slice(bytes, p1, nameLen), StandardCharsets.UTF_8)
            val (section, p2) = encint(bytes, p1 + nameLen.toInt)
            val (off, p3) = encint(bytes, p2)
            val (len, p4) = encint(bytes, p3)
            out += RawEntry(name, section, off, len)
            p = p4
          }
        }
      }
      // PMGI index chunks carry no entries of their own: skipped
      c += 1
    }
    out.result()
  }

  private final val ControlDataName = "::DataSpace/Storage/MSCompressed/ControlData"
  private final val ResetTableName =
    "::DataSpace/Storage/MSCompressed/Transform/{7FC28940-9D31-11D0-9B27-00A0C91E9C7C}/InstanceData/ResetTable"
  private final val ContentName = "::DataSpace/Storage/MSCompressed/Content"

  /** All content files (system/meta `::` names filtered), path-named,
    * with compressed-section entries LZX-decoded. An entry past
    * `maxEntryBytes` is a counted refusal (None).
    */
  def entries(bytes: Array[Byte], maxEntryBytes: Int): Vector[Archive.UnzippedEntry] = {
    val dir = directory(bytes)
    // ITSF v3 carries an explicit content-section-0 offset — the u64 at
    // 0x58, right after the directory section-table entry; v3 header
    // length is 0x60 (chmlib's _CHM_ITSF_V3_LEN). Real readers honour
    // it, and a v3 file whose content is NOT laid out right after the
    // directory would mis-slice every entry under the v2 fallback below.
    val headerLen = u32(bytes, 8)
    val contentOff =
      if (u32(bytes, 4) == 3 && headerLen >= 0x60) u64(bytes, 0x58)
      else u64(bytes, 0x48) + u64(bytes, 0x50)
    def sect0(off: Long, len: Long): Array[Byte] = slice(bytes, contentOff + off, len)
    def find(name: String): Option[RawEntry] = dir.find(_.name == name)

    // decode the compressed section lazily, once, if any entry needs it
    lazy val compressed: Array[Byte] = {
      val cd = find(ControlDataName).map(e => sect0(e.offset, e.length))
        .getOrElse(throw new ParseFailure("chm: compressed entry without ControlData"))
      if (cd.length < 0x18 || latin1(cd, 4, 4) != "LZXC")
        throw new ParseFailure("chm: ControlData is not LZXC")
      val lzxcVer = u32(cd, 8)
      val mul = if (lzxcVer == 2) 0x8000L else 1L
      val resetIntervalBytes = u32(cd, 12) * mul
      val windowBytes = u32(cd, 16) * mul
      val windowBits = java.lang.Long.numberOfTrailingZeros(windowBytes)
      if (windowBytes <= 0 || (1L << windowBits) != windowBytes)
        throw new ParseFailure("chm: window size not a power of two")
      if (resetIntervalBytes <= 0 || resetIntervalBytes % Lzx.FrameSize != 0)
        throw new ParseFailure("chm: reset interval not frame-aligned")
      val rt = find(ResetTableName).map(e => sect0(e.offset, e.length))
        .getOrElse(throw new ParseFailure("chm: compressed entry without ResetTable"))
      if (rt.length < 0x28) throw new ParseFailure("chm: reset table too short")
      val nEntries = u32(rt, 4).toInt
      val tableOff = u32(rt, 12).toInt
      val uncompressedLen = u64(rt, 0x10)
      val compressedLen = u64(rt, 0x18)
      if (uncompressedLen > (1L << 31) || uncompressedLen < 0)
        throw new ParseFailure("chm: uncompressed length implausible")
      if (nEntries < 1 || nEntries > (1 << 20) || tableOff + 8L * nEntries > rt.length)
        throw new ParseFailure("chm: reset table geometry lies")
      val content = find(ContentName).map(e => sect0(e.offset, e.length))
        .getOrElse(throw new ParseFailure("chm: compressed entry without Content"))
      if (compressedLen > content.length)
        throw new ParseFailure("chm: compressed length past content stream")
      val out = new Array[Byte](uncompressedLen.toInt)
      var seg = 0
      var produced = 0L
      while (seg < nEntries) {
        val cOff = u64(rt, tableOff + 8 * seg)
        val cEnd = if (seg + 1 < nEntries) u64(rt, tableOff + 8 * (seg + 1)) else compressedLen
        if (cOff < 0 || cEnd < cOff || cEnd > content.length)
          throw new ParseFailure("chm: reset segment offsets lie")
        val segOut = math.min(resetIntervalBytes, uncompressedLen - produced)
        if (segOut <= 0) throw new ParseFailure("chm: more reset segments than output")
        val decoded = Lzx.decodeSegment(slice(content, cOff, cEnd - cOff), windowBits, segOut.toInt)
        System.arraycopy(decoded, 0, out, produced.toInt, segOut.toInt)
        produced += segOut
        seg += 1
      }
      if (produced != uncompressedLen)
        throw new ParseFailure("chm: reset segments did not cover the output")
      out
    }

    dir.filterNot(e => e.name.startsWith("::") || e.name.endsWith("/"))
      .map { e =>
        val path = e.name.stripPrefix("/")
        if (e.length > maxEntryBytes) (path, None)
        else if (e.section == 0L) (path, Some(sect0(e.offset, e.length)))
        else if (e.section == 1L) (path, Some(slice(compressed, e.offset, e.length)))
        else throw new ParseFailure(s"chm: unknown content section ${e.section}")
      }
  }

  // ------------------------------------------------------ fixture writer

  private def encintBytes(v: Long): Array[Byte] = {
    require(v >= 0)
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var x = v
    do { parts.prepend((x & 0x7f).toInt); x >>= 7 } while (x != 0)
    parts.zipWithIndex.map { case (p, i) =>
      (if (i < parts.length - 1) p | 0x80 else p).toByte
    }.toArray
  }

  /** Deterministic CHM: named files in content section 0 (`compress =
    * false`) or in the LZX-compressed section 1 (uncompressed LZX blocks,
    * one reset segment per 0x8000-byte frame). `contentGap` inserts dead
    * bytes between the directory and content section 0, proving readers
    * honour the v3 ContentOffset field rather than assuming adjacency.
    */
  def build(files: Seq[(String, Array[Byte])], compress: Boolean = false,
            contentGap: Int = 0): Array[Byte] = {
    require(files.nonEmpty)
    // content section 1 (compressed) layout
    val (sec1Entries, sec1Plain) = {
      var off = 0L
      val es = files.map { case (n, b) => val e = (n, off, b.length.toLong); off += b.length; e }
      (es, files.flatMap(_._2).toArray)
    }
    val sysEntries = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    val dirEntries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]

    if (compress) {
      // segment per frame
      val frames = sec1Plain.grouped(Lzx.FrameSize).toVector
      val segs = frames.map(Lzx.encodeUncompressed)
      val content = segs.flatten.toArray
      val rt = new java.io.ByteArrayOutputStream()
      def w32(v: Long): Unit = (0 until 4).foreach(i => rt.write(((v >> (8 * i)) & 0xff).toInt))
      def w64(v: Long): Unit = (0 until 8).foreach(i => rt.write(((v >> (8 * i)) & 0xff).toInt))
      w32(2)                 // version
      w32(segs.length)       // entries
      w32(8)                 // entry size
      w32(0x28)              // table offset
      w64(sec1Plain.length)  // uncompressed length
      w64(content.length)    // compressed length
      w64(Lzx.FrameSize)     // block size
      var acc = 0L
      segs.foreach { s => w64(acc); acc += s.length }
      val cd = new java.io.ByteArrayOutputStream()
      def c32(v: Long): Unit = (0 until 4).foreach(i => cd.write(((v >> (8 * i)) & 0xff).toInt))
      c32(0x18); cd.write("LZXC".getBytes(StandardCharsets.ISO_8859_1))
      c32(2)  // LZXC version 2: values in 0x8000 units
      c32(1)  // reset interval: one frame
      c32(2)  // window: 0x10000
      c32(0)  // cache size
      sysEntries += ((ControlDataName, cd.toByteArray))
      sysEntries += ((ResetTableName, rt.toByteArray))
      sysEntries += ((ContentName, content))
      sec1Entries.foreach { case (n, off, len) => dirEntries += (("/" + n, 1L, off, len)) }
    } else {
      files.foreach { case (n, b) => sysEntries += (("/" + n, b)) }
    }

    // lay section 0 out and build the directory listing
    val sect0 = new java.io.ByteArrayOutputStream()
    sysEntries.foreach { case (name, data) =>
      dirEntries += ((name, 0L, sect0.size().toLong, data.length.toLong))
      sect0.write(data)
    }
    val listing = new java.io.ByteArrayOutputStream()
    dirEntries.sortBy(_._1).foreach { case (name, sec, off, len) =>
      val nb = name.getBytes(StandardCharsets.UTF_8)
      listing.write(encintBytes(nb.length)); listing.write(nb)
      listing.write(encintBytes(sec)); listing.write(encintBytes(off)); listing.write(encintBytes(len))
    }
    if (listing.size() > 0x1000 - 0x14)
      throw new ParseFailure("chm fixture listing exceeds one PMGL chunk")

    val chunk = new Array[Byte](0x1000)
    "PMGL".getBytes(StandardCharsets.ISO_8859_1).copyToArray(chunk, 0)
    // quickRefLen(+4)=0, unknown(+8), prev(+12)/next(+16) chunk = -1
    java.nio.ByteBuffer.wrap(chunk, 4, 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0).putInt(0).putInt(-1).putInt(-1)
    listing.toByteArray.copyToArray(chunk, 0x14)

    val itsp = new Array[Byte](0x54)
    "ITSP".getBytes(StandardCharsets.ISO_8859_1).copyToArray(itsp, 0)
    val ib = java.nio.ByteBuffer.wrap(itsp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ib.putInt(4, 1)       // version
    ib.putInt(8, 0x54)    // header length
    ib.putInt(0x10, 0x1000) // chunk size
    ib.putInt(0x28, 1)    // number of chunks

    // ITSF v3 header, the chmlib/published layout: section table at 0x38
    // (entry 0 = file-size section, entry 1 = directory at 0x48/0x50),
    // then the explicit content-section-0 offset at 0x58; total 0x60
    val header = new Array[Byte](0x60)
    "ITSF".getBytes(StandardCharsets.ISO_8859_1).copyToArray(header, 0)
    val hb = java.nio.ByteBuffer.wrap(header).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(4, 3)            // version
    hb.putInt(8, header.length)
    val dirOff = header.length.toLong
    val dirLen = (itsp.length + chunk.length).toLong
    hb.putLong(0x38, 0L); hb.putLong(0x40, 0L) // file-size section (unused here)
    hb.putLong(0x48, dirOff)
    hb.putLong(0x50, dirLen)
    hb.putLong(0x58, dirOff + dirLen + contentGap) // v3 ContentOffset
    header ++ itsp ++ chunk ++ new Array[Byte](contentGap) ++ sect0.toByteArray
  }
}
