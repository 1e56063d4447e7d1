package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipEntry, ZipInputStream, ZipOutputStream}
import graft.core.ParseFailure

/** Archive/container codecs — pure JDK (`java.util.zip`), no parser jars.
  *
  * The reference's embed explosion over archives is core behavior
  * (`EmbedSpawner.java:429-515`; fixture `embedded_with_duplicate.tgz`):
  * each archive entry becomes an embedded child document. These helpers
  * give [[graft.core.route.Extract]] real container bytes to explode:
  * ZIP (multi-entry, recursive zip-in-zip) and GZIP (single member with
  * optional FNAME).
  *
  * Determinism: [[zipBytes]]/[[gzipBytes]] pin every timestamp, so fixture
  * bytes are a pure function of the entries.
  */
object Archive {

  /** Fixed DOS epoch-ish time for deterministic zip bytes. */
  private val FixedTime = 315532800000L // 1980-01-01, the ZIP epoch

  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 0x50 && bytes(1) == 0x4b &&
      bytes(2) == 0x03 && bytes(3) == 0x04

  def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte

  /** Deterministic ZIP of (name, bytes) entries (DEFLATED; the reader
    * inflates, so compression details never reach ids — see
    * [[graft.core.Ids.canonicalEntries]]).
    */
  def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, data) =>
      val e = new ZipEntry(name)
      e.setTime(FixedTime)
      zos.putNextEntry(e)
      zos.write(data)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** GZIP with an optional FNAME member name. */
  def gzipBytes(data: Array[Byte], name: String = ""): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gos = new GZIPOutputStream(bos)
    gos.write(data)
    gos.close()
    val raw = bos.toByteArray
    if (name.isEmpty) raw
    else {
      // splice FNAME in: set FLG.FNAME (bit 3) and insert the
      // zero-terminated name after the 10-byte fixed header (RFC 1952)
      val out = new ByteArrayOutputStream(raw.length + name.length + 1)
      out.write(raw, 0, 3)
      out.write(raw(3) | 0x08)
      out.write(raw, 4, 6)
      out.write(name.getBytes(StandardCharsets.ISO_8859_1))
      out.write(0)
      out.write(raw, 10, raw.length - 10)
      out.toByteArray
    }
  }

  /** One decoded archive entry: `bytes` is None when the entry was refused
    * by the size guard — DECLARED size first (the reference's zip-bomb
    * guard checks the declared decompressed size before spooling,
    * `EmbedSpawner.java:64,393-402` — real ZIP64-style input at last), then
    * an actual-read cap for entries that lie about their size.
    */
  type UnzippedEntry = (String, Option[Array[Byte]])

  /** Shared ZipException triage: the JDK refuses GPBF-bit-0 entries with
    * an "encrypted" message — password protection, not corruption
    * (FAILURE_NOT_DECRYPTED, like the reference's
    * EncryptedDocumentException archive route).
    */
  private def classifyZip(e: java.util.zip.ZipException): Nothing =
    if (String.valueOf(e.getMessage).contains("encrypted"))
      throw new graft.core.DecryptFailure(s"password-protected zip entry: ${e.getMessage}")
    else throw new ParseFailure(s"corrupt zip: ${e.getMessage}")

  /** Name of the one counted refusal that stands for the entries after a
    * password-protected one (the stream cannot advance past it).
    */
  final val EncryptedRemainder = "<encrypted-remainder>"

  /** Decode ZIP entries in archive order. Malformed containers throw
    * [[ParseFailure]] (classified NOT_PARSED by the job layer, never a task
    * failure). Entries past `maxEntries`, over `maxEntryBytes`, or read once
    * `maxTotalBytes` have been inflated in all are refused as (name, None),
    * counted: the zip-bomb guard applies to the sum as well as to each entry
    * (a crafted archive of thousands of tiny-compressed entries must not
    * accumulate unbounded memory).
    */
  def unzip(bytes: Array[Byte], maxEntryBytes: Int, maxEntries: Int = 10000,
            maxTotalBytes: Long = 256L << 20): Vector[UnzippedEntry] =
    unzipWanted(bytes, _ => true, maxEntryBytes, maxEntries, maxTotalBytes)

  /** As [[unzip]], reading payloads for ONLY the entries `wanted` accepts
    * (the others are listed with a None payload, their bytes skipped by the
    * stream).
    */
  def unzipWanted(bytes: Array[Byte], wanted: String => Boolean,
                  maxEntryBytes: Int, maxEntries: Int = 10000,
                  maxTotalBytes: Long = 256L << 20): Vector[UnzippedEntry] = {
    val out = Vector.newBuilder[UnzippedEntry]
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var n = 0
      var total = 0L
      var entry: ZipEntry = zis.getNextEntry
      if (entry == null && bytes.nonEmpty)
        throw new ParseFailure("zip container with no readable entries")
      while (entry != null) {
        if (!entry.isDirectory) {
          n += 1
          if (n <= maxEntries && wanted(entry.getName) &&
            entry.getSize <= maxEntryBytes && total < maxTotalBytes) {
            val data = readCapped(zis, maxEntryBytes)
            data.foreach(d => total += d.length)
            out += ((entry.getName, data))
          } else out += ((entry.getName, None))
        }
        entry = zis.getNextEntry
      }
      out.result()
    } catch {
      case e: java.util.zip.ZipException =>
        // per-entry isolation (the reference extracts readable siblings
        // of an encrypted entry): entries already streamed survive, the
        // encrypted remainder becomes ONE counted refusal — the stream
        // cannot advance past an entry the JDK refuses to inflate. A
        // FULLY encrypted archive (nothing readable) still classifies
        // NOT_DECRYPTED for the whole document.
        val soFar = out.result()
        if (String.valueOf(e.getMessage).contains("encrypted") && soFar.exists(_._2.nonEmpty))
          soFar :+ ((EncryptedRemainder, None: Option[Array[Byte]]))
        else classifyZip(e)
      case e: java.io.EOFException => throw new ParseFailure(s"truncated zip: ${e.getMessage}")
      case e: java.io.IOException => throw new ParseFailure(s"unreadable zip: ${e.getMessage}")
    } finally zis.close()
  }

  /** USTAR magic at offset 257 (POSIX.1-1988 tar). */
  def isTar(bytes: Array[Byte]): Boolean =
    bytes.length >= 262 &&
      new String(bytes, 257, 5, StandardCharsets.ISO_8859_1) == "ustar"

  /** Deterministic POSIX tar of (name, bytes) entries: 512-byte headers
    * (name, octal size/mtime, checksum over a space-filled checksum field,
    * typeflag '0', ustar magic), data padded to block size, two zero
    * blocks at the end. Pinned mtime for byte-determinism.
    */
  def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(StandardCharsets.ISO_8859_1)
        System.arraycopy(b, 0, h, off, math.min(b.length, 100))
      }
      put(0, name)
      put(100, "0000644\u0000")                       // mode
      put(108, "0000000\u0000"); put(116, "0000000\u0000") // uid/gid
      put(124, f"${data.length}%011o\u0000")           // size, octal
      put(136, f"${FixedTime / 1000}%011o\u0000")      // mtime, octal
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)   // checksum spaces
      h(156) = '0'                                     // typeflag: regular file
      put(257, "ustar\u0000"); put(263, "00")          // magic + version
      val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
      put(148, f"$sum%06o\u0000 ")
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // end-of-archive
    out.toByteArray
  }

  /** Decode tar entries in archive order (regular files only; the
    * declared octal size is the size guard input). Malformed headers ->
    * ParseFailure, never a task failure.
    */
  def untar(bytes: Array[Byte], maxEntryBytes: Int,
            maxEntries: Int = 10000): Vector[UnzippedEntry] = {
    val out = Vector.newBuilder[UnzippedEntry]
    var off = 0
    var n = 0
    var pendingName: Option[String] = None // GNU 'L' / PAX path override
    def headerIsZero(o: Int): Boolean =
      (o until o + 512).forall(bytes(_) == 0)
    try {
      while (off + 512 <= bytes.length && !headerIsZero(off)) {
        var nameEnd = off
        while (nameEnd < off + 100 && bytes(nameEnd) != 0) nameEnd += 1
        val shortName = new String(bytes, off, nameEnd - off, StandardCharsets.ISO_8859_1)
        // size: octal, or base-256 (high bit of byte 0) for >8GB entries
        val size =
          if ((bytes(off + 124) & 0x80) != 0) {
            var v = 0L
            var i = off + 125
            while (i < off + 136) { v = (v << 8) | (bytes(i) & 0xff); i += 1 }
            if (v < 0) throw new ParseFailure("tar base-256 size overflow")
            v
          } else {
            val sizeStr = new String(bytes, off + 124, 12, StandardCharsets.ISO_8859_1)
              .takeWhile(c => c >= '0' && c <= '7')
            if (sizeStr.isEmpty) throw new ParseFailure(s"corrupt tar header at $off")
            java.lang.Long.parseLong(sizeStr, 8)
          }
        val typeflag = bytes(off + 156)
        if (off + 512 + size > bytes.length)
          throw new ParseFailure("truncated tar: declared size past end")
        def payload(): Array[Byte] =
          java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size.toInt)
        if (typeflag == 'L'.toByte && size <= 4096) {
          // GNU long name: the payload is the NEXT entry's NUL-terminated name
          val raw = new String(payload(), StandardCharsets.ISO_8859_1)
          pendingName = Some(raw.takeWhile(_ != '\u0000'))
        } else if (typeflag == 'x'.toByte && size <= 65536) {
          // PAX extended header: "len key=value\n" records; path overrides
          val recs = new String(payload(), StandardCharsets.UTF_8)
          var i = 0
          while (i < recs.length) {
            val sp = recs.indexOf(' ', i)
            val len = if (sp < 0) -1 else recs.substring(i, sp).toIntOption.getOrElse(-1)
            if (sp < 0 || len <= 0 || i + len > recs.length) i = recs.length // malformed: stop
            else {
              val rec = recs.substring(sp + 1, i + len).stripSuffix("\n")
              val eq = rec.indexOf('=')
              if (eq > 0 && rec.substring(0, eq) == "path")
                pendingName = Some(rec.substring(eq + 1))
              i += len
            }
          }
        } else if (typeflag == '0'.toByte || typeflag == 0.toByte) {
          // ustar split names: prefix field (345) + '/' + name
          val name = pendingName.getOrElse {
            if (bytes(off + 345) != 0 &&
              new String(bytes, off + 257, 5, StandardCharsets.ISO_8859_1) == "ustar") {
              var pEnd = off + 345
              while (pEnd < off + 500 && bytes(pEnd) != 0) pEnd += 1
              new String(bytes, off + 345, pEnd - (off + 345),
                StandardCharsets.ISO_8859_1) + "/" + shortName
            } else shortName
          }
          pendingName = None
          n += 1
          if (n > maxEntries || size > maxEntryBytes) out += ((name, None)) // declared-size guard
          else out += ((name, Some(payload())))
        } else pendingName = None // dirs/links consume any pending override
        off += 512 + ((size + 511) / 512).toInt * 512
      }
      out.result()
    } catch {
      case e: NumberFormatException => throw new ParseFailure(s"corrupt tar size: ${e.getMessage}")
      case e: ArrayIndexOutOfBoundsException => throw new ParseFailure(s"truncated tar: ${e.getMessage}")
    }
  }

  /** Zstandard magic (RFC 8878): 28 B5 2F FD. zstd ships with Spark
    * (zstd-jni on the unmanaged classpath — it compresses Spark's own
    * shuffles), and web-scale text corpora ship as .zst.
    */
  def isZstd(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 0x28.toByte && bytes(1) == 0xb5.toByte &&
      bytes(2) == 0x2f.toByte && bytes(3) == 0xfd.toByte

  /** bzip2 magic (commons-compress, also on the Spark classpath — the
    * classic dump-archive format): "BZh" + block-size digit ALONE is four
    * printable ASCII bytes that ordinary text (e.g. base64) can start
    * with, so the compressed-block signature that always follows —
    * 0x314159265359, BCD pi — is required too.
    */
  def isBzip2(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h' &&
      bytes(3) >= '1' && bytes(3) <= '9' &&
      bytes(4) == 0x31 && bytes(5) == 0x41.toByte && bytes(6) == 0x59.toByte &&
      bytes(7) == 0x26.toByte && bytes(8) == 0x53.toByte && bytes(9) == 0x59.toByte

  /** Deterministic zstd frame (fixed level, no dictionary/checksum noise). */
  def zstdBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zos.write(data); zos.close()
    bos.toByteArray
  }

  /** zstd member: ("", payload) — frames carry no member name. */
  def unzstd(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val zis = new com.github.luben.zstd.ZstdInputStream(new ByteArrayInputStream(bytes))
      try ("", readCapped(zis, maxBytes))
      finally zis.close()
    } catch {
      case e: java.io.IOException => throw new ParseFailure(s"corrupt zstd: ${e.getMessage}")
    }

  /** Deterministic bzip2 stream (fixed block size). */
  def bzip2Bytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos, 9)
    zos.write(data); zos.close()
    bos.toByteArray
  }

  /** bzip2 member: ("", payload) — streams carry no member name. */
  def unbzip2(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val zis = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new ByteArrayInputStream(bytes))
      try ("", readCapped(zis, maxBytes))
      finally zis.close()
    } catch {
      case e: java.io.IOException => throw new ParseFailure(s"corrupt bzip2: ${e.getMessage}")
    }

  /** XZ stream magic FD '7zXZ' 00 (org.tukaani.xz on the Spark
    * classpath — .xz is the kernel.org/tarball-era dump codec).
    */
  def isXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == 0xfd.toByte && bytes(1) == '7' &&
      bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' && bytes(5) == 0

  /** Deterministic xz stream (fixed LZMA2 preset, no extra filters).
    * Preset 0: fixture payloads are tiny, and the default preset's 8 MiB
    * dictionary allocation per call dominated the codec query's wall time
    * (ids hash DECOMPRESSED content, so the preset is identity-neutral).
    */
  def xzBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val xos = new org.tukaani.xz.XZOutputStream(bos, new org.tukaani.xz.LZMA2Options(0))
    xos.write(data); xos.close()
    bos.toByteArray
  }

  /** xz member: decoder memory HARD-CAPPED (64 MiB) so a crafted
    * dictionary size classifies instead of exhausting the executor —
    * the same zip-bomb posture as the flate cap.
    */
  def unxz(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val xis = new org.tukaani.xz.XZInputStream(new ByteArrayInputStream(bytes), 64 * 1024)
      try ("", readCapped(xis, maxBytes))
      finally xis.close()
    } catch {
      case e: RuntimeException =>
        throw new ParseFailure(s"corrupt xz: ${e.getMessage}")
      case e: org.tukaani.xz.MemoryLimitException =>
        throw new ParseFailure(s"xz dictionary over the 64 MiB decode cap: ${e.getMessage}")
      case e: java.io.IOException => throw new ParseFailure(s"corrupt xz: ${e.getMessage}")
    }

  /** LZMA-alone (.lzma, the pre-xz container): no magic — validated
    * structurally per the published header: a decodable properties byte
    * (lc/lp/pb < 9*5*5), a power-of-two dictionary size in the range real
    * encoders emit, and an uncompressed-size field that is either the
    * unknown marker (-1) or plausible. Strict enough that prose and the
    * other magic-less formats can't collide.
    */
  def isLzma(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 14) return false
    val props = bytes(0) & 0xff
    if (props >= 9 * 5 * 5) return false
    val dict = (bytes(1) & 0xffL) | ((bytes(2) & 0xffL) << 8) |
      ((bytes(3) & 0xffL) << 16) | ((bytes(4) & 0xffL) << 24)
    if (dict < 4096 || dict > (1L << 27) || (dict & (dict - 1)) != 0) return false
    var size = 0L
    var i = 12
    while (i >= 5) { size = (size << 8) | (bytes(i) & 0xffL); i -= 1 }
    size == -1L || (size >= 0 && size < (1L << 40))
  }

  /** Decode an LZMA-alone stream (xz-java on the Spark classpath),
    * 64 MiB memory cap like [[unxz]].
    */
  def unlzma(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val in = new org.tukaani.xz.LZMAInputStream(new ByteArrayInputStream(bytes), 64 * 1024)
      try ("", readCapped(in, maxBytes))
      finally in.close()
    } catch {
      case e: org.tukaani.xz.MemoryLimitException =>
        throw new ParseFailure(s"lzma dictionary over the 64 MiB decode cap: ${e.getMessage}")
      case e: RuntimeException =>
        throw new ParseFailure(s"corrupt lzma: ${e.getMessage}")
      case e: java.io.IOException => throw new ParseFailure(s"corrupt lzma: ${e.getMessage}")
    }

  /** Deterministic LZMA-alone bytes (known size in the header, preset 0
    * like [[xzBytes]] — tiny fixture payloads, bounded decoder memory).
    */
  def lzmaBytes(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(0)
    val los = new org.tukaani.xz.LZMAOutputStream(out, opts, payload.length.toLong)
    los.write(payload); los.close()
    out.toByteArray
  }

  /** Unix compress(1) magic 1F 9D — the .Z tarball era's codec, still
    * common in long-lived archives and old Usenet/FTP mirrors.
    */
  def isCompressZ(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && bytes(0) == 0x1f.toByte && bytes(1) == 0x9d.toByte

  /** Decode a .Z stream (LZW, LSB-first codes, the compress(1) 8-code
    * group alignment quirk) via commons-compress on the Spark classpath.
    * The header's max code width (5 bits, up to 31) sizes the decoder's
    * tables at 6 bytes per code; compress(1) never writes more than 16, so
    * tables past 16 bits (384 KB) are refused as corrupt, not allocated.
    */
  def uncompressZ(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val zis = new org.apache.commons.compress.compressors.z.ZCompressorInputStream(
        new ByteArrayInputStream(bytes), ((1 << 16) * 6) >> 10)
      try ("", readCapped(zis, maxBytes))
      finally zis.close()
    } catch {
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        throw new ParseFailure(s"corrupt .Z: ${e.getMessage}")
    }

  /** Deterministic from-scratch compress(1) encoder (block mode, 16-bit
    * max codes, never emits CLEAR — fixture payloads are far below the
    * 64k-entry table). The width-change group padding mirrors the
    * decoder's reAlign: after emitting code n the free-entry counter is
    * 257+(n-1); when it exceeds 2^w - 1, pad the CURRENT 8-code group
    * with zero codes at the old width, then widen.
    */
  def compressZBytes(data: Array[Byte]): Array[Byte] = {
    val maxBits = 16
    val out = new ByteArrayOutputStream(data.length / 2 + 8)
    out.write(0x1f); out.write(0x9d); out.write(0x80 | maxBits) // block mode
    var nBits = 9
    var acc = 0L; var accBits = 0
    var totalCodes = 0L
    def putCode(c: Int): Unit = {
      acc |= (c.toLong & 0xffff) << accBits
      accBits += nBits
      totalCodes += 1
      while (accBits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
    }
    def alignGroup(): Unit = {
      var pad = ((8 - totalCodes % 8) % 8).toInt
      while (pad > 0) { putCode(0); pad -= 1 } // discarded by the decoder
    }
    val dict = new java.util.HashMap[Long, Integer]()
    var nextCode = 257 // 256 is CLEAR in block mode
    var w = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (w < 0) w = k
      else {
        val key = (w.toLong << 8) | k
        val e = dict.get(key)
        if (e != null) w = e.intValue()
        else {
          putCode(w)
          if (nextCode > (1 << nBits) - 1 && nBits < maxBits) { alignGroup(); nBits += 1 }
          if (nextCode < (1 << maxBits)) { dict.put(key, nextCode); nextCode += 1 }
          w = k
        }
      }
      i += 1
    }
    if (w >= 0) putCode(w)
    while (accBits > 0) { out.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
    out.toByteArray
  }

  /** LZ4 frame magic 04 22 4D 18 (lz4-java on the Spark classpath). */
  def isLz4(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 0x04.toByte && bytes(1) == 0x22.toByte &&
      bytes(2) == 0x4d.toByte && bytes(3) == 0x18.toByte

  /** Deterministic lz4 frame (fixed block size, content-checksum off is
    * the library default shape).
    */
  def lz4Bytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val los = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    los.write(data); los.close()
    bos.toByteArray
  }

  def unlz4(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val lis = new net.jpountz.lz4.LZ4FrameInputStream(new ByteArrayInputStream(bytes))
      try ("", readCapped(lis, maxBytes))
      finally lis.close()
    } catch {
      // lz4-java surfaces some malformed frame descriptors as bare
      // RuntimeException (e.g. dependent-block streams), not IOException
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        throw new ParseFailure(s"corrupt lz4: ${e.getMessage}")
    }

  /** Snappy FRAMED stream identifier ff 06 00 00 "sNaPpY" (snappy-java
    * on the Spark classpath; the Hadoop-era .snappy/.sz framing).
    */
  def isSnappy(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && bytes(0) == 0xff.toByte && bytes(1) == 0x06.toByte &&
      bytes(2) == 0 && bytes(3) == 0 && bytes(4) == 's' && bytes(5) == 'N' &&
      bytes(6) == 'a' && bytes(7) == 'P' && bytes(8) == 'p' && bytes(9) == 'Y'

  def snappyBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val sos = new org.xerial.snappy.SnappyFramedOutputStream(bos)
    sos.write(data); sos.close()
    bos.toByteArray
  }

  def unsnappy(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) =
    try {
      val sis = new org.xerial.snappy.SnappyFramedInputStream(new ByteArrayInputStream(bytes))
      try ("", readCapped(sis, maxBytes))
      finally sis.close()
    } catch {
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        throw new ParseFailure(s"corrupt snappy: ${e.getMessage}")
      case e: org.xerial.snappy.SnappyError => // an Error subclass, deliberately caught:
        throw new ParseFailure(s"corrupt snappy: ${e.getMessage}") // junk framing, not a VM fault
    }

  /** 7-Zip signature: '7z' BC AF 27 1C (commons-compress SevenZFile on
    * the Spark classpath; COPY-method archives need no LZMA codec jar).
    */
  def is7z(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == '7' && bytes(1) == 'z' &&
      bytes(2) == 0xbc.toByte && bytes(3) == 0xaf.toByte &&
      bytes(4) == 0x27.toByte && bytes(5) == 0x1c.toByte

  /** Deterministic 7z (COPY content method, entries constructed without
    * file-system metadata so no timestamps enter the bytes).
    */
  def sevenZBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZOutputFile}
    import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
    val ch = new SeekableInMemoryByteChannel()
    val w = new SevenZOutputFile(ch)
    try {
      w.setContentCompression(SevenZMethod.COPY)
      entries.foreach { case (name, data) =>
        val e = new SevenZArchiveEntry()
        e.setName(name)
        e.setDirectory(false)
        w.putArchiveEntry(e)
        w.write(data)
        w.closeArchiveEntry()
      }
    } finally w.close()
    java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
  }

  /** Decode 7z entries in archive order — same guard contract as
    * [[unzip]]: declared-size refusals as (name, None), entry-count cap,
    * malformed/unsupported-codec input -> ParseFailure.
    */
  def un7z(bytes: Array[Byte], maxEntryBytes: Int,
           maxEntries: Int = 10000): Vector[UnzippedEntry] = {
    import org.apache.commons.compress.archivers.sevenz.SevenZFile
    import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
    val out = Vector.newBuilder[UnzippedEntry]
    try {
      val r = new SevenZFile(new SeekableInMemoryByteChannel(bytes))
      try {
        var n = 0
        var e = r.getNextEntry
        while (e != null) {
          if (!e.isDirectory) {
            n += 1
            if (n > maxEntries || e.getSize > maxEntryBytes) out += ((e.getName, None))
            else {
              val buf = new Array[Byte](e.getSize.toInt)
              var off = 0
              var eof = false
              while (off < buf.length && !eof) {
                val k = r.read(buf, off, buf.length - off)
                if (k < 0) eof = true else off += k
              }
              if (off < buf.length) throw new ParseFailure("7z: entry shorter than declared")
              out += ((e.getName, Some(buf)))
            }
          }
          e = r.getNextEntry
        }
        out.result()
      } finally r.close()
    } catch {
      case e: java.io.IOException => throw new ParseFailure(s"corrupt 7z: ${e.getMessage}")
      case e: IllegalArgumentException => throw new ParseFailure(s"unsupported 7z: ${e.getMessage}")
    }
  }

  /** GZIP member: (FNAME or "", payload). Malformed -> ParseFailure. */
  def gunzip(bytes: Array[Byte], maxBytes: Int): (String, Option[Array[Byte]]) = {
    val name = gzipName(bytes)
    try {
      val gis = new GZIPInputStream(new ByteArrayInputStream(bytes))
      try (name, readCapped(gis, maxBytes))
      finally gis.close()
    } catch {
      case e: java.util.zip.ZipException => throw new ParseFailure(s"corrupt gzip: ${e.getMessage}")
      case e: java.io.EOFException => throw new ParseFailure(s"truncated gzip: ${e.getMessage}")
      case e: java.io.IOException => throw new ParseFailure(s"unreadable gzip: ${e.getMessage}")
    }
  }

  /** FNAME from the RFC-1952 header ("" when absent/out-of-bounds). */
  def gzipName(bytes: Array[Byte]): String = {
    if (bytes.length < 10 || !isGzip(bytes) || (bytes(3) & 0x08) == 0) return ""
    var i = 10
    if ((bytes(3) & 0x04) != 0) { // FEXTRA: skip 2-byte little-endian XLEN
      if (bytes.length < 12) return ""
      i = 12 + ((bytes(10) & 0xff) | ((bytes(11) & 0xff) << 8))
    }
    val start = i
    while (i < bytes.length && bytes(i) != 0) i += 1
    if (i >= bytes.length) "" // unterminated name: treat as absent
    else new String(bytes, start, i - start, StandardCharsets.ISO_8859_1)
  }

  /** Unix `ar` global magic — the outer container of `.deb` packages and
    * static libraries (Tika routes both through commons-compress
    * `ArArchiveInputStream`; we read the format from the public layout:
    * 8-byte magic, 60-byte headers, even data alignment).
    */
  def isAr(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      new String(bytes, 0, 8, StandardCharsets.ISO_8859_1) == "!<arch>\n"

  /** Deterministic common-format ar of (name, bytes) entries: GNU-style
    * `name/` termination for short names (what dpkg-deb and GNU ar emit),
    * pinned mtime/uid/gid, decimal sizes, `` `\n`` terminator, data padded
    * to even length with '\n'.
    */
  def arBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("!<arch>\n".getBytes(StandardCharsets.ISO_8859_1))
    entries.foreach { case (name, data) =>
      require(name.length <= 15, s"ar fixture name too long: $name")
      val h = new StringBuilder
      def field(s: String, w: Int): Unit = {
        require(s.length <= w, s"ar field overflow: $s"); h.append(s)
        var i = s.length; while (i < w) { h.append(' '); i += 1 }
      }
      field(name + "/", 16)
      field("0", 12); field("0", 6); field("0", 6) // mtime/uid/gid
      field("100644", 8)
      field(data.length.toString, 10)
      h.append("`\n")
      out.write(h.toString.getBytes(StandardCharsets.ISO_8859_1))
      out.write(data)
      if (data.length % 2 == 1) out.write('\n')
    }
    out.toByteArray
  }

  /** Decode ar members in archive order. Handles GNU `name/` termination,
    * BSD space-padded names, the GNU `//` long-name table, and BSD
    * `#1/len` extended names; the `/` and `__.SYMDEF` symbol tables are
    * format plumbing and never spawn. Declared decimal size is the guard
    * input; malformed headers -> ParseFailure.
    */
  def unar(bytes: Array[Byte], maxEntryBytes: Int,
           maxEntries: Int = 10000): Vector[UnzippedEntry] = {
    if (!isAr(bytes)) throw new ParseFailure("not an ar archive")
    val out = Vector.newBuilder[UnzippedEntry]
    var longNames = "" // GNU '//' table: names at byte offsets, '\n'-ended
    var off = 8
    var n = 0
    while (off + 60 <= bytes.length) {
      val rawName = new String(bytes, off, 16, StandardCharsets.ISO_8859_1)
      val sizeStr = new String(bytes, off + 48, 10, StandardCharsets.ISO_8859_1).trim
      if (bytes(off + 58) != '`' || bytes(off + 59) != '\n')
        throw new ParseFailure(s"corrupt ar header terminator at $off")
      val size = sizeStr.toLongOption.getOrElse(
        throw new ParseFailure(s"corrupt ar size '$sizeStr' at $off"))
      if (size < 0 || off + 60 + size > bytes.length)
        throw new ParseFailure("truncated ar: declared size past end")
      var dataOff = off + 60
      var dataLen = size.toInt
      val trimmed = rawName.trim
      val name =
        if (trimmed.startsWith("#1/")) { // BSD: real name prefixes the data
          val nl = trimmed.drop(3).toIntOption.getOrElse(
            throw new ParseFailure(s"corrupt BSD ar name length: $trimmed"))
          if (nl < 0 || nl > dataLen) throw new ParseFailure("BSD ar name past member")
          val nm = new String(bytes, dataOff, nl, StandardCharsets.ISO_8859_1)
            .takeWhile(_ != ' ')
          dataOff += nl; dataLen -= nl
          nm
        } else if (trimmed == "//") { // GNU long-name table: record, no entry
          longNames = new String(bytes, dataOff, dataLen, StandardCharsets.ISO_8859_1)
          ""
        } else if (trimmed.length > 1 && trimmed.head == '/' &&
          trimmed.tail.forall(_.isDigit)) { // GNU long-name reference
          val p = trimmed.tail.toInt
          if (p >= longNames.length) throw new ParseFailure("ar long-name offset past table")
          longNames.substring(p).takeWhile(c => c != '\n' && c != '/')
        } else if (trimmed.endsWith("/")) trimmed.dropRight(1) // GNU short
        else trimmed // BSD/common short
      val isTable = trimmed == "//" || trimmed == "/" || trimmed == "__.SYMDEF" ||
        trimmed == "__.SYMDEF SORTED"
      if (!isTable) {
        n += 1
        if (n > maxEntries || dataLen > maxEntryBytes) out += ((name, None))
        else out += ((name,
          Some(java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + dataLen))))
      }
      off += 60 + size.toInt + (size.toInt & 1)
    }
    out.result()
  }

  /** cpio "newc" ASCII magic (070701/070702 with CRC) — the payload
    * format inside RPM packages and initramfs images (Tika:
    * commons-compress `CpioArchiveInputStream`).
    */
  def isCpio(bytes: Array[Byte]): Boolean =
    bytes.length >= 110 && {
      val m = new String(bytes, 0, 6, StandardCharsets.ISO_8859_1)
      m == "070701" || m == "070702"
    }

  /** Deterministic newc cpio of (name, bytes) entries: sequential inodes,
    * regular-file mode 0100644, pinned mtime, 4-byte alignment for both
    * names and data, closed by the `TRAILER!!!` record.
    */
  def cpioBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def hex8(v: Long): String = f"$v%08x"
    def record(name: String, data: Array[Byte], mode: Long, ino: Long): Unit = {
      val nb = name.getBytes(StandardCharsets.ISO_8859_1)
      out.write(("070701" + hex8(ino) + hex8(mode) + hex8(0) + hex8(0) +
        hex8(1) + hex8(0) + hex8(data.length.toLong) + hex8(0) + hex8(0) +
        hex8(0) + hex8(0) + hex8(nb.length + 1L) + hex8(0))
        .getBytes(StandardCharsets.ISO_8859_1))
      out.write(nb); out.write(0)
      var p = 110 + nb.length + 1
      while (p % 4 != 0) { out.write(0); p += 1 }
      out.write(data)
      p = data.length
      while (p % 4 != 0) { out.write(0); p += 1 }
    }
    entries.zipWithIndex.foreach { case ((name, data), i) =>
      record(name, data, 0x81a4L, i + 1L) // S_IFREG | 0644
    }
    record("TRAILER!!!", Array.emptyByteArray, 0L, 0L)
    out.toByteArray
  }

  /** Decode newc cpio records in stream order (regular files only; mode
    * high nibble 010 per the public layout). The declared hex filesize is
    * the guard input; the TRAILER!!! record ends the walk; malformed
    * headers -> ParseFailure.
    */
  def uncpio(bytes: Array[Byte], maxEntryBytes: Int,
             maxEntries: Int = 10000): Vector[UnzippedEntry] = {
    if (!isCpio(bytes)) throw new ParseFailure("not a newc cpio stream")
    val out = Vector.newBuilder[UnzippedEntry]
    var off = 0
    var n = 0
    def hexAt(p: Int): Long = {
      val s = new String(bytes, p, 8, StandardCharsets.ISO_8859_1)
      try java.lang.Long.parseLong(s, 16)
      catch { case _: NumberFormatException => throw new ParseFailure(s"corrupt cpio hex field '$s'") }
    }
    var done = false
    while (!done) {
      if (off + 110 > bytes.length) throw new ParseFailure("truncated cpio: header past end")
      val m = new String(bytes, off, 6, StandardCharsets.ISO_8859_1)
      if (m != "070701" && m != "070702")
        throw new ParseFailure(s"corrupt cpio record magic '$m' at $off")
      val mode = hexAt(off + 14)
      val fileSize = hexAt(off + 54)
      val nameSize = hexAt(off + 94)
      if (nameSize < 1 || nameSize > 4096) throw new ParseFailure("cpio name size out of range")
      val nameEnd = off + 110 + nameSize.toInt - 1
      if (nameEnd > bytes.length) throw new ParseFailure("truncated cpio: name past end")
      val name = new String(bytes, off + 110, nameSize.toInt - 1, StandardCharsets.ISO_8859_1)
      var dataOff = off + 110 + nameSize.toInt
      while (dataOff % 4 != 0) dataOff += 1
      if (name == "TRAILER!!!") done = true
      else {
        if (fileSize < 0 || dataOff + fileSize > bytes.length)
          throw new ParseFailure("truncated cpio: declared size past end")
        if ((mode & 0xf000L) == 0x8000L) { // regular file
          n += 1
          if (n > maxEntries || fileSize > maxEntryBytes) out += ((name, None))
          else out += ((name,
            Some(java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + fileSize.toInt))))
        }
        var next = dataOff + fileSize.toInt
        while (next % 4 != 0) next += 1
        off = next
      }
    }
    out.result()
  }

  /** RPM lead magic ED AB EE DB (the public rpm package layout: 96-byte
    * lead, signature header, main header, compressed cpio payload).
    */
  def isRpm(bytes: Array[Byte]): Boolean =
    bytes.length >= 96 + 16 && bytes(0) == 0xed.toByte && bytes(1) == 0xab.toByte &&
      bytes(2) == 0xee.toByte && bytes(3) == 0xdb.toByte

  /** Deterministic minimal rpm fixture: v3 lead, an empty signature
    * header (8-aligned), an empty main header, then the given compressed
    * payload — structurally what `rpm2cpio` walks.
    */
  def rpmBytes(payload: Array[Byte], name: String = "pkg"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val lead = new Array[Byte](96)
    lead(0) = 0xed.toByte; lead(1) = 0xab.toByte; lead(2) = 0xee.toByte; lead(3) = 0xdb.toByte
    lead(4) = 3; lead(5) = 0 // version 3.0
    lead(6) = 0; lead(7) = 0 // type: binary
    val nb = name.getBytes(StandardCharsets.ISO_8859_1)
    System.arraycopy(nb, 0, lead, 10, math.min(nb.length, 65))
    out.write(lead)
    val emptyHeader = Array[Byte](0x8e.toByte, 0xad.toByte, 0xe8.toByte, 1,
      0, 0, 0, 0, /* reserved */ 0, 0, 0, 0, /* nindex */ 0, 0, 0, 0 /* hsize */)
    out.write(emptyHeader) // signature header (empty, already 8-aligned)
    out.write(emptyHeader) // main header
    out.write(payload)
    out.toByteArray
  }

  /** The compressed payload behind the rpm lead + two header sections
    * (signature header 8-byte aligned per the public layout); the caller
    * sniffs and decompresses it (gzip/xz/zstd in the wild).
    */
  def rpmPayload(bytes: Array[Byte]): Array[Byte] = {
    if (!isRpm(bytes)) throw new ParseFailure("not an rpm package")
    def headerEnd(off: Int, align8: Boolean): Int = {
      if (off + 16 > bytes.length) throw new ParseFailure("truncated rpm: header past end")
      if (bytes(off) != 0x8e.toByte || bytes(off + 1) != 0xad.toByte ||
        bytes(off + 2) != 0xe8.toByte)
        throw new ParseFailure(s"corrupt rpm header magic at $off")
      def be(p: Int): Long =
        ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
          ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
      val nIndex = be(off + 8); val hSize = be(off + 12)
      if (nIndex > 65536 || hSize > 64L * 1024 * 1024)
        throw new ParseFailure("rpm header sizes out of range")
      val end = off + 16 + 16 * nIndex.toInt + hSize.toInt
      if (end > bytes.length) throw new ParseFailure("truncated rpm: header body past end")
      if (align8) end + ((8 - end % 8) % 8) else end
    }
    val afterSig = headerEnd(96, align8 = true)
    val afterHdr = headerEnd(afterSig, align8 = false)
    if (afterHdr >= bytes.length) throw new ParseFailure("rpm without a payload")
    java.util.Arrays.copyOfRange(bytes, afterHdr, bytes.length)
  }

  /** The rpm's file entries: sniff the payload compression (gzip/xz/zstd
    * in the wild, raw cpio accepted), decompress under the 64 MiB bomb
    * cap (same posture as the flate cap), and walk the newc records.
    * `rpm2cpio | cpio -t` as one in-memory step.
    */
  def rpmEntries(bytes: Array[Byte], maxEntryBytes: Int,
                 maxEntries: Int = 10000): Vector[UnzippedEntry] = {
    val payload = rpmPayload(bytes)
    val cap = 64 * 1024 * 1024
    val cpio =
      if (isGzip(payload)) gunzip(payload, cap)._2
      else if (isXz(payload)) unxz(payload, cap)._2
      else if (isZstd(payload)) unzstd(payload, cap)._2
      else if (isCpio(payload)) Some(payload)
      else throw new ParseFailure("unsupported rpm payload compression")
    cpio match {
      case Some(c) => uncpio(c, maxEntryBytes, maxEntries)
      case None => throw new ParseFailure("rpm payload over the 64 MiB decode cap")
    }
  }

  /** Read the whole stream up to `max` bytes; None when the payload runs
    * past the cap (the actual-read guard behind the declared-size check).
    */
  private def readCapped(in: java.io.InputStream, max: Int): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(1024)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > max) return None
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }
}
