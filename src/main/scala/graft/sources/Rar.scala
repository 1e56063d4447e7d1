package graft.sources

import graft.core.ParseFailure
import graft.core.Bin.{latin1, slice, u8, u16, u32}

/** RAR archives, from scratch per the published rarlab technotes: the 4.x
  * block chain (CRC16'd headers, fixed file-header layout) and the 5.x
  * vint-framed block chain. STORE-method entries extract with CRC
  * verification; compressed entries (the proprietary PPM/LZ mix has no
  * public reference implementation) become counted refusals — the same
  * honest None convention the zip size guard uses — so an archive's
  * readable members still flow while unreadable ones are visible in the
  * lineage counters, per-entry isolation like the reference's
  * EmbedSpawner archive walk (`EmbedSpawner.java:429-515`).
  */
object Rar {

  private val Sig4 = Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x00)
  private val Sig5 = Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x01, 0x00)

  def isRar(bytes: Array[Byte]): Boolean = isRar4(bytes) || isRar5(bytes)

  def isRar4(bytes: Array[Byte]): Boolean =
    bytes.length >= 7 && Sig4.indices.forall(i => bytes(i) == Sig4(i))

  def isRar5(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && Sig5.indices.forall(i => bytes(i) == Sig5(i))

  private def crc32(b: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, len)
    c.getValue
  }

  /** Decode entries; stored payloads verified against FILE_CRC, compressed
    * or over-cap entries refused as (name, None). Malformed framing throws
    * [[ParseFailure]].
    */
  def entries(bytes: Array[Byte], maxEntryBytes: Int,
              maxEntries: Int = 10000): Vector[(String, Option[Array[Byte]])] =
    if (isRar5(bytes)) entries5(bytes, maxEntryBytes, maxEntries)
    else if (isRar4(bytes)) entries4(bytes, maxEntryBytes, maxEntries)
    else throw new ParseFailure("not a rar archive")

  // ---- RAR 4.x -----------------------------------------------------------

  private def entries4(b: Array[Byte], maxEntryBytes: Int,
                       maxEntries: Int): Vector[(String, Option[Array[Byte]])] = {
    val out = Vector.newBuilder[(String, Option[Array[Byte]])]
    var i = Sig4.length
    var n = 0
    var done = false
    while (!done && i + 7 <= b.length) {
      val headCrc = u16(b, i)
      val headType = u8(b, i + 2)
      val flags = u16(b, i + 3)
      val headSize = u16(b, i + 5)
      if (headSize < 7 || i + headSize > b.length)
        throw new ParseFailure(s"rar4 block overruns at $i")
      // HEAD_CRC = low 16 bits of CRC32 from HEAD_TYPE to header end
      if (((crc32(b, i + 2, headSize - 2) & 0xffff).toInt != headCrc))
        throw new ParseFailure(s"rar4 header crc mismatch at $i")
      headType match {
        case 0x74 => // file header
          if (i + 32 > b.length) throw new ParseFailure("rar4 file header truncated")
          val packSize = u32(b, i + 7)
          val unpSize = u32(b, i + 11)
          val fileCrc = u32(b, i + 16)
          val method = u8(b, i + 25)
          val nameSize = u16(b, i + 26)
          if ((flags & 0x100) != 0) throw new ParseFailure("rar4 >4GB entries unsupported")
          if (32 + nameSize > headSize) throw new ParseFailure("rar4 name overruns header")
          // unicode-flag (0x200) names: the ascii half
          val name = latin1(b, i + 32, nameSize).takeWhile(_ != '\u0000')
          val dataAt = i + headSize
          if (dataAt + packSize > b.length) throw new ParseFailure("rar4 data overruns")
          n += 1
          if (n > maxEntries) out += ((name, None))
          else if (method != 0x30) out += ((name, None)) // compressed: refuse, keep walking
          else if (unpSize > maxEntryBytes || packSize != unpSize) out += ((name, None))
          else {
            val data = slice(b, dataAt, packSize)
            if (crc32(data, 0, data.length) != fileCrc)
              throw new ParseFailure(s"rar4 file crc mismatch: $name")
            out += ((name, Some(data)))
          }
          i = dataAt + packSize.toInt
        case 0x7b => done = true // end of archive
        case _ => // main header / comments / service: skip (+ADD_SIZE if flagged)
          val add = if ((flags & 0x8000) != 0 && headSize >= 11) u32(b, i + 7) else 0L
          if (i + headSize + add > b.length) throw new ParseFailure("rar4 block overruns")
          i += headSize + add.toInt
      }
    }
    val r = out.result()
    if (r.isEmpty) throw new ParseFailure("rar archive with no file entries")
    r
  }

  // ---- RAR 5.x -----------------------------------------------------------

  /** Little-endian 7-bit-continuation vint. Returns (value, nextIndex). */
  private def vint(b: Array[Byte], at: Int): (Long, Int) = {
    var v = 0L
    var shift = 0
    var i = at
    while (i < b.length && shift < 64) {
      val c = u8(b, i)
      v |= (c & 0x7fL) << shift
      i += 1
      if ((c & 0x80) == 0) return (v, i)
      shift += 7
    }
    throw new ParseFailure("rar5 vint overruns")
  }

  private def entries5(b: Array[Byte], maxEntryBytes: Int,
                       maxEntries: Int): Vector[(String, Option[Array[Byte]])] = {
    val out = Vector.newBuilder[(String, Option[Array[Byte]])]
    var i = Sig5.length
    var n = 0
    var done = false
    while (!done && i + 5 <= b.length) {
      val headCrc = u32(b, i)
      val (hsize, hAt) = vint(b, i + 4)
      if (hsize <= 0 || hAt + hsize > b.length)
        throw new ParseFailure(s"rar5 block overruns at $i")
      // CRC32 covers from the header-size field through the header end
      if (crc32(b, i + 4, (hAt - (i + 4)) + hsize.toInt) != headCrc)
        throw new ParseFailure(s"rar5 header crc mismatch at $i")
      val hEnd = hAt + hsize.toInt
      val (htype, p1) = vint(b, hAt)
      val (hflags, p2) = vint(b, p1)
      var p = p2
      if ((hflags & 0x1) != 0) p = vint(b, p)._2 // extra area size
      val dataSize = if ((hflags & 0x2) != 0) { val (d, np) = vint(b, p); p = np; d } else 0L
      // a 10-byte vint reaches the sign bit: a negative size would step the
      // walk back onto a header it already read
      if (dataSize < 0 || hEnd + dataSize > b.length) throw new ParseFailure("rar5 data overruns")
      htype match {
        case 2 => // file header
          val (fflags, q1) = vint(b, p)
          val (unpSize, q2) = vint(b, q1)
          var q = vint(b, q2)._2 // attributes
          if ((fflags & 0x2) != 0) q += 4 // mtime
          val dataCrc = if ((fflags & 0x4) != 0) { val c = u32(b, q); q += 4; Some(c) } else None
          val (compInfo, q3) = vint(b, q)
          val (_, q4) = vint(b, q3) // host os
          val (nameLen, q5) = vint(b, q4)
          if (q5 + nameLen > hEnd) throw new ParseFailure("rar5 name overruns header")
          val name = new String(slice(b, q5, nameLen), java.nio.charset.StandardCharsets.UTF_8)
          val method = ((compInfo >> 7) & 0x7).toInt
          n += 1
          if (n > maxEntries) out += ((name, None))
          else if (method != 0) out += ((name, None)) // compressed: refuse
          else if (unpSize > maxEntryBytes || dataSize != unpSize) out += ((name, None))
          else {
            val data = slice(b, hEnd, dataSize)
            if (dataCrc.exists(_ != crc32(data, 0, data.length)))
              throw new ParseFailure(s"rar5 file crc mismatch: $name")
            out += ((name, Some(data)))
          }
        case 5 => done = true // end of archive
        case _ => () // main / encryption / service headers: skip
      }
      i = hEnd + dataSize.toInt
    }
    val r = out.result()
    if (r.isEmpty) throw new ParseFailure("rar archive with no file entries")
    r
  }

  // ---- deterministic fixture writers ------------------------------------

  /** Store-method RAR 4.x archive (correct CRC16 headers + file CRC32s).
    * Names in `compressed` are written with a non-store method byte and
    * their payload as opaque ciphertext stand-in — the reader must refuse
    * them while siblings flow.
    */
  def buildRar4(files: Seq[(String, Array[Byte])],
                compressed: Set[String] = Set.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Sig4, 0, Sig4.length)
    def block(headType: Int, flags: Int, rest: Array[Byte]): Array[Byte] = {
      val headSize = 7 + rest.length
      val body = new Array[Byte](headSize - 2)
      body(0) = headType.toByte
      body(1) = (flags & 0xff).toByte; body(2) = ((flags >> 8) & 0xff).toByte
      body(3) = (headSize & 0xff).toByte; body(4) = ((headSize >> 8) & 0xff).toByte
      System.arraycopy(rest, 0, body, 5, rest.length)
      val crc = (crc32(body, 0, body.length) & 0xffff).toInt
      Array[Byte]((crc & 0xff).toByte, ((crc >> 8) & 0xff).toByte) ++ body
    }
    out.write(block(0x73, 0, new Array[Byte](6)), 0, 13) // main header
    files.foreach { case (name, data) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val fc = crc32(data, 0, data.length)
      val rest = new Array[Byte](25 + nb.length)
      def putU32(at: Int, v: Long): Unit = {
        rest(at) = (v & 0xff).toByte; rest(at + 1) = ((v >> 8) & 0xff).toByte
        rest(at + 2) = ((v >> 16) & 0xff).toByte; rest(at + 3) = ((v >> 24) & 0xff).toByte
      }
      putU32(0, data.length.toLong)  // pack size
      putU32(4, data.length.toLong)  // unpacked size
      rest(8) = 0                    // host os
      putU32(9, fc)                  // file crc
      putU32(13, 0)                  // ftime
      rest(17) = 20                  // unp ver
      rest(18) = if (compressed(name)) 0x33 else 0x30 // method: normal / store
      rest(19) = (nb.length & 0xff).toByte; rest(20) = ((nb.length >> 8) & 0xff).toByte
      putU32(21, 0)                  // attrs
      System.arraycopy(nb, 0, rest, 25, nb.length)
      val h = block(0x74, 0x8000, rest)
      out.write(h, 0, h.length)
      out.write(data, 0, data.length)
    }
    out.write(block(0x7b, 0x4000, Array.emptyByteArray), 0, 7) // end
    out.toByteArray
  }

  /** Store-method RAR 5.x archive (vint framing, CRC32'd headers). */
  def buildRar5(files: Seq[(String, Array[Byte])],
                compressed: Set[String] = Set.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Sig5, 0, Sig5.length)
    def vb(v: Long): Array[Byte] = {
      val bb = Array.newBuilder[Byte]
      var x = v
      while ((x & ~0x7fL) != 0) { bb += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      bb += (x & 0x7f).toByte
      bb.result()
    }
    def block(header: Array[Byte]): Array[Byte] = {
      val framed = vb(header.length.toLong) ++ header
      val crc = crc32(framed, 0, framed.length)
      Array[Byte]((crc & 0xff).toByte, ((crc >> 8) & 0xff).toByte,
        ((crc >> 16) & 0xff).toByte, ((crc >> 24) & 0xff).toByte) ++ framed
    }
    out.write(block(vb(1) ++ vb(0) ++ vb(0))) // main: type 1, no flags, arc flags 0
    files.foreach { case (name, data) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val fc = crc32(data, 0, data.length)
      val header =
        vb(2) ++                       // type: file
          vb(0x2) ++                   // header flags: data area present
          vb(data.length.toLong) ++    // data size
          vb(0x4) ++                   // file flags: crc present
          vb(data.length.toLong) ++    // unpacked size
          vb(0) ++                     // attributes
          Array[Byte]((fc & 0xff).toByte, ((fc >> 8) & 0xff).toByte,
            ((fc >> 16) & 0xff).toByte, ((fc >> 24) & 0xff).toByte) ++
          vb(if (compressed(name)) 3L << 7 else 0L) ++ // compression info
          vb(0) ++                     // host os
          vb(nb.length.toLong) ++ nb
      out.write(block(header))
      out.write(data, 0, data.length)
    }
    out.write(block(vb(5) ++ vb(0) ++ vb(0))) // end of archive
    out.toByteArray
  }
}
