package graft.sources

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure
import graft.core.Bin.{slice, u8, u16, u32}

/** Microsoft Cabinet (`.cab`) archives per the published [MS-CAB] layout
  * (the installer/driver-package shape; Tika routes these through its
  * package parser surface):
  *
  *  - CFHEADER `MSCF`: cabinet size, CFFILE table offset, version 1.3,
  *    folder/file counts, flags (optional per-struct reserve areas and
  *    prev/next spanning-cabinet links);
  *  - CFFOLDER: first-CFDATA offset, block count, compression type
  *    (NONE / MSZIP / QUANTUM / LZX in the low nibble);
  *  - CFFILE: uncompressed size, offset INSIDE the folder's uncompressed
  *    stream, folder index (0xFFFD-0xFFFF mark files continued across
  *    cabinets), DOS date/time, attributes (0x80 = UTF-8 name), name;
  *  - CFDATA: checksum, compressed size, uncompressed size, payload.
  *
  * A folder's CFDATA payloads form one stream: NONE concatenates; MSZIP
  * is a raw DEFLATE stream per block prefixed `CK`, with the LZ77 history
  * CARRIED ACROSS blocks (each block's preset dictionary is the folder
  * output so far — `Inflater.setDictionary` on a nowrap inflater).
  * Files slice out of that stream by (uoffFolderStart, cbFile).
  *
  * LZX folders decode through [[graft.core.compress.Lzx]] — the CFDATA
  * payloads of a folder are one continuous LZX bitstream (window bits in
  * the typeCompress high byte, no reset table). QUANTUM folders and
  * cross-cabinet continuations refuse per file as counted `(name, None)`
  * (the Rar.scala convention: classify and surface, never mis-extract).
  * Malformed framing, geometry lies, and bad checksums throw
  * [[ParseFailure]].
  */
object Cab {

  def isCab(bytes: Array[Byte]): Boolean =
    bytes.length >= 36 && bytes(0) == 'M' && bytes(1) == 'S' &&
      bytes(2) == 'C' && bytes(3) == 'F' &&
      // reserved1 must be zero and the version must be the only one ever
      // published (1.3) — "MSCF" alone is four printable letters a text
      // file can open with
      bytes(4) == 0 && bytes(5) == 0 && bytes(6) == 0 && bytes(7) == 0 &&
      bytes(24) == 3 && bytes(25) == 1

  /** [MS-CAB] CSUMCompute: XOR of little-endian u32 words, the 1-3 byte
    * remainder folded high-to-low. CFDATA's csum covers cbData, cbUncomp,
    * and the payload; 0 means "not computed" and is never verified.
    */
  private def csum(parts: Array[Byte]*): Int = {
    var acc = 0
    parts.foreach { b =>
      var i = 0
      val whole = b.length & ~3
      while (i < whole) {
        acc ^= ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
          ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24))
        i += 4
      }
      var ul = 0
      (b.length - whole) match {
        case 3 => ul = ((b(i) & 0xff) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i + 2) & 0xff)
        case 2 => ul = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
        case 1 => ul = b(i) & 0xff
        case _ =>
      }
      acc ^= ul
    }
    acc
  }

  private final val CompNone = 0
  private final val CompMszip = 1
  private final val CompLzx = 3
  private final val MaxFolderBytes = 64 << 20 // shared zip-bomb output cap
  private final val MszipBlock = 32768        // spec: cbUncomp <= 32768

  /** `compParam` is the high byte of typeCompress: the LZX window bits. */
  private final case class Folder(dataOff: Long, nBlocks: Int, compType: Int, compParam: Int)

  /** Decode one folder's CFDATA chain to its uncompressed stream.
    * `cbReserveData` is the per-CFDATA reserve size from the header.
    */
  private def folderStream(bytes: Array[Byte], f: Folder, cbReserveData: Int,
                           maxOut: Long): Array[Byte] = {
    // one checksum-verified walk collects the block payloads; codecs
    // that span blocks (MSZIP history, LZX's continuous bitstream) then
    // decode over the sequence
    var p = f.dataOff
    var blk = 0
    var totalUncomp = 0L
    val payloads = Vector.newBuilder[(Array[Byte], Int)]
    while (blk < f.nBlocks) {
      val declaredSum = u32(bytes, p).toInt
      val cbData = u16(bytes, p + 4)
      val cbUncomp = u16(bytes, p + 6)
      val payloadOff = p + 8 + cbReserveData
      if (cbUncomp > MszipBlock)
        throw new ParseFailure(s"cab: CFDATA uncompressed size $cbUncomp exceeds the 32 KiB spec cap")
      totalUncomp += cbUncomp
      if (totalUncomp > maxOut)
        throw new ParseFailure("cab: folder output exceeds cap")
      val payload = slice(bytes, payloadOff, cbData)
      if (declaredSum != 0) {
        val hdr = Array[Byte]((cbData & 0xff).toByte, ((cbData >> 8) & 0xff).toByte,
          (cbUncomp & 0xff).toByte, ((cbUncomp >> 8) & 0xff).toByte)
        if (csum(payload, hdr) != declaredSum)
          throw new ParseFailure(s"cab: CFDATA checksum mismatch in block $blk")
      }
      payloads += ((payload, cbUncomp))
      p = payloadOff + cbData
      blk += 1
    }
    val blocks = payloads.result()

    f.compType match {
      case CompNone =>
        val out = new java.io.ByteArrayOutputStream()
        blocks.foreach { case (payload, un) =>
          if (payload.length != un)
            throw new ParseFailure("cab: stored block sizes disagree")
          out.write(payload)
        }
        out.toByteArray
      case CompMszip =>
        val out = new java.io.ByteArrayOutputStream()
        val inflater = new java.util.zip.Inflater(true)
        var history = Array.emptyByteArray
        try blocks.zipWithIndex.foreach { case ((payload, cbUncomp), i) =>
          if (payload.length < 2 || payload(0) != 'C' || payload(1) != 'K')
            throw new ParseFailure(s"cab: MSZIP block $i missing CK signature")
          inflater.reset()
          if (history.nonEmpty) inflater.setDictionary(history)
          inflater.setInput(payload, 2, payload.length - 2)
          val dec = new Array[Byte](cbUncomp)
          var got = 0
          while (got < cbUncomp && !inflater.finished()) {
            val n = inflater.inflate(dec, got, cbUncomp - got)
            if (n == 0 && inflater.needsInput())
              throw new ParseFailure(s"cab: MSZIP block $i truncated")
            got += n
          }
          if (got != cbUncomp)
            throw new ParseFailure(s"cab: MSZIP block $i produced $got of $cbUncomp bytes")
          out.write(dec)
          // the next block's preset dictionary is the trailing window of
          // folder output (spec: history spans blocks, window 32 KiB)
          history =
            if (dec.length >= MszipBlock) dec
            else {
              val keep = math.min(MszipBlock, history.length + dec.length)
              val h = new Array[Byte](keep)
              val fromHist = keep - dec.length
              System.arraycopy(history, history.length - fromHist, h, 0, fromHist)
              System.arraycopy(dec, 0, h, fromHist, dec.length)
              h
            }
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new ParseFailure(s"cab: corrupt MSZIP stream: ${e.getMessage}")
        } finally inflater.end()
        out.toByteArray
      case CompLzx =>
        // the folder's CFDATA payloads are one continuous LZX bitstream
        // (no reset table — CFDATA framing is transport, not codec);
        // window bits ride in the typeCompress high byte
        if (f.compParam < 15 || f.compParam > 21)
          throw new ParseFailure(s"cab: LZX window bits ${f.compParam} out of range")
        val joined = new Array[Byte](blocks.map(_._1.length).sum)
        var o = 0
        blocks.foreach { case (b, _) => System.arraycopy(b, 0, joined, o, b.length); o += b.length }
        graft.core.compress.Lzx.decodeSegment(joined, f.compParam, totalUncomp.toInt)
      case other =>
        throw new ParseFailure(s"cab: unsupported compression type $other")
    }
  }

  /** Decode entries in CFFILE order. Files in QUANTUM/LZX folders, files
    * continued from/into another cabinet, and files past `maxEntryBytes`
    * are counted refusals `(name, None)`; malformed framing throws.
    */
  def entries(bytes: Array[Byte], maxEntryBytes: Int,
              maxEntries: Int = 4096): Vector[Archive.UnzippedEntry] = {
    if (!isCab(bytes)) throw new ParseFailure("not a cab file")
    val cbCabinet = u32(bytes, 8)
    if (cbCabinet > bytes.length) throw new ParseFailure("cab: declared size past file end")
    val coffFiles = u32(bytes, 16)
    val cFolders = u16(bytes, 26)
    val cFiles = u16(bytes, 28)
    val flags = u16(bytes, 30)
    if (cFolders == 0 || cFolders > 256) throw new ParseFailure(s"cab: folder count $cFolders out of range")
    if (cFiles > maxEntries) throw new ParseFailure(s"cab: file count $cFiles exceeds cap")

    // optional reserve areas (flags bit 2), then prev/next cabinet link
    // strings (bits 0/1) precede the CFFOLDER table
    var p = 36
    var cbReserveFolder = 0
    var cbReserveData = 0
    if ((flags & 4) != 0) {
      val cbReserveHeader = u16(bytes, p)
      cbReserveFolder = u8(bytes, p + 2)
      cbReserveData = u8(bytes, p + 3)
      p += 4 + cbReserveHeader
    }
    def skipString(): Unit = {
      val start = p
      while (p < bytes.length && bytes(p) != 0) {
        p += 1
        if (p - start > 256) throw new ParseFailure("cab: unterminated cabinet-link string")
      }
      if (p >= bytes.length) throw new ParseFailure("cab: cabinet-link string past end")
      p += 1
    }
    if ((flags & 1) != 0) { skipString(); skipString() } // prev cab + disk
    if ((flags & 2) != 0) { skipString(); skipString() } // next cab + disk

    val folders = (0 until cFolders).map { i =>
      val off = p + i * (8 + cbReserveFolder)
      val dataOff = u32(bytes, off)
      val nBlocks = u16(bytes, off + 4)
      val typeCompress = u16(bytes, off + 6)
      if (dataOff > bytes.length) throw new ParseFailure("cab: CFDATA offset past end")
      if (nBlocks > 65535) throw new ParseFailure("cab: block count out of range")
      Folder(dataOff, nBlocks, typeCompress & 0xf, (typeCompress >> 8) & 0x1f)
    }.toVector

    // one decode per referenced folder, shared by all its files
    val streams = scala.collection.mutable.Map.empty[Int, Either[String, Array[Byte]]]
    def stream(i: Int): Either[String, Array[Byte]] = streams.getOrElseUpdate(i, {
      val f = folders(i)
      if (f.compType != CompNone && f.compType != CompMszip && f.compType != CompLzx)
        Left(s"unsupported compression type ${f.compType}") // QUANTUM: per-file refusal
      else Right(folderStream(bytes, f, cbReserveData, MaxFolderBytes))
    })

    var q = coffFiles.toInt
    val out = Vector.newBuilder[Archive.UnzippedEntry]
    var i = 0
    while (i < cFiles) {
      val cbFile = u32(bytes, q)
      val uoff = u32(bytes, q + 4)
      val iFolder = u16(bytes, q + 8)
      val attribs = u16(bytes, q + 14)
      val nameStart = q + 16
      var ne = nameStart
      while (ne < bytes.length && bytes(ne) != 0) {
        ne += 1
        if (ne - nameStart > 4096) throw new ParseFailure("cab: file name unterminated")
      }
      if (ne >= bytes.length) throw new ParseFailure("cab: file name past end")
      val cs = if ((attribs & 0x80) != 0) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1
      val name = new String(slice(bytes, nameStart, ne - nameStart), cs).replace('\\', '/')
      q = ne + 1

      if (iFolder >= 0xfffd) out += ((name, None)) // continued across cabinets
      else if (iFolder >= folders.length) throw new ParseFailure(s"cab: file folder index $iFolder out of range")
      else if (cbFile > maxEntryBytes) out += ((name, None)) // declared-size guard before decode
      else stream(iFolder) match {
        case Left(_) => out += ((name, None))
        case Right(s) => out += ((name, Some(slice(s, uoff, cbFile))))
      }
      i += 1
    }
    out.result()
  }

  // ------------------------------------------------------ fixture writer

  /** Deterministic single-folder cabinet: `compress = true` writes MSZIP
    * blocks (history carried across blocks), else stored. Fixed DOS
    * date/time so identical inputs master identical bytes.
    */
  def build(files: Seq[(String, Array[Byte])], compress: Boolean = false): Array[Byte] = {
    val plain = files.flatMap(_._2).toArray
    val blocks: Seq[(Array[Byte], Int)] = // (payload, cbUncomp)
      if (!compress) plain.grouped(MszipBlock).map(b => (b, b.length)).toSeq
      else {
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        try plain.grouped(MszipBlock).toSeq.zipWithIndex.map { case (b, i) =>
          deflater.reset()
          if (i > 0) { // preset dictionary: trailing 32 KiB of prior output
            val histStart = math.max(0, i * MszipBlock - MszipBlock)
            deflater.setDictionary(plain, histStart, i * MszipBlock - histStart)
          }
          deflater.setInput(b)
          deflater.finish()
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          buf.write('C'); buf.write('K')
          while (!deflater.finished()) buf.write(tmp, 0, deflater.deflate(tmp))
          (buf.toByteArray, b.length)
        } finally deflater.end()
      }
    assemble(files, blocks, if (compress) CompMszip else CompNone)
  }

  /** LZX-folder cabinet (window bits 16): the folder's plain stream as
    * ONE uncompressed-block LZX stream, its ciphertext split across
    * CFDATA blocks whose cbUncomp fields carve the output into the
    * spec's 32 KiB frames.
    */
  def buildLzx(files: Seq[(String, Array[Byte])]): Array[Byte] = {
    val plain = files.flatMap(_._2).toArray
    val stream = graft.core.compress.Lzx.encodeUncompressed(plain)
    // cbData split is transport-arbitrary; cbUncomp must SUM to the
    // folder output, 32 KiB per block like real cabinets
    val dataParts = stream.grouped(MszipBlock).toVector
    val unParts = (0 until dataParts.length).map { i =>
      math.max(0, math.min(MszipBlock, plain.length - i * MszipBlock))
    }
    // pad the cbUncomp sequence so it sums to plain.length even when the
    // ciphertext has fewer blocks than the output (never for uncompressed
    // LZX, where stream >= plain) or more (header overhead): fold the
    // remainder into the last block
    val totalDeclared = unParts.sum
    val blocks = dataParts.zip(unParts).toSeq match {
      case init :+ ((lastB, lastU)) => init :+ ((lastB, lastU + plain.length - totalDeclared))
      case empty => empty
    }
    assemble(files, blocks, (16 << 8) | CompLzx)
  }

  private def assemble(files: Seq[(String, Array[Byte])],
                       blocks: Seq[(Array[Byte], Int)], typeCompress: Int): Array[Byte] = {
    require(files.nonEmpty)
    val dataSec = new java.io.ByteArrayOutputStream()
    blocks.foreach { case (payload, un) =>
      val hdr = Array[Byte]((payload.length & 0xff).toByte, ((payload.length >> 8) & 0xff).toByte,
        (un & 0xff).toByte, ((un >> 8) & 0xff).toByte)
      val s = csum(payload, hdr)
      (0 until 4).foreach(k => dataSec.write((s >> (8 * k)) & 0xff))
      dataSec.write(hdr)
      dataSec.write(payload)
    }

    val fileSec = new java.io.ByteArrayOutputStream()
    var uoff = 0L
    files.foreach { case (name, b) =>
      def w32(v: Long): Unit = (0 until 4).foreach(k => fileSec.write(((v >> (8 * k)) & 0xff).toInt))
      def w16(v: Int): Unit = { fileSec.write(v & 0xff); fileSec.write((v >> 8) & 0xff) }
      w32(b.length.toLong); w32(uoff); w16(0)
      w16(0x226c); w16(0x59ba) // fixed DOS date/time (deterministic mastering)
      w16(0x20)                // archive attribute, ASCII name
      fileSec.write(name.replace('/', '\\').getBytes(StandardCharsets.ISO_8859_1)); fileSec.write(0)
      uoff += b.length
    }

    val headerLen = 36
    val folderLen = 8
    val coffFiles = headerLen + folderLen
    val dataOff = coffFiles + fileSec.size()
    val total = dataOff + dataSec.size()

    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("MSCF".getBytes(StandardCharsets.ISO_8859_1))
    w32(0)             // reserved1
    w32(total.toLong)  // cbCabinet
    w32(0)             // reserved2
    w32(coffFiles.toLong)
    w32(0)             // reserved3
    out.write(3); out.write(1) // version 1.3
    w16(1)             // cFolders
    w16(files.length)  // cFiles
    w16(0)             // flags
    w16(0x1234)        // setID (fixed)
    w16(0)             // iCabinet
    // CFFOLDER
    w32(dataOff.toLong)
    w16(blocks.length)
    w16(typeCompress)
    out.write(fileSec.toByteArray)
    out.write(dataSec.toByteArray)
    out.toByteArray
  }
}
