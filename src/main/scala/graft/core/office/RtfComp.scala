package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure

/** MS-OXRTFCP compressed RTF — the encoding of `PR_RTF_COMPRESSED`
  * (`__substg1.0_10090102`), the body stream real Outlook writes when a
  * message has no plain-text `PR_BODY`. The reference reaches these via
  * Tika's OutlookExtractor/HMEF surface (`Extractor.java:937` dispatch);
  * this is a from-scratch implementation of the published spec:
  *
  *  - 16-byte header: COMPSIZE (u32le, bytes following the field),
  *    RAWSIZE (u32le, uncompressed size), COMPTYPE (`"LZFu"` compressed /
  *    `"MELA"` stored), CRC (u32le, the spec's table-CRC32 with zero
  *    init and no final complement, over the payload);
  *  - LZFu: a 4096-byte circular dictionary PRELOADED with the spec's
  *    207-byte RTF-boilerplate string (write pointer starts at 207).
  *    Tokens come in groups of eight after a flags byte (LSB first):
  *    flag 0 = literal byte, flag 1 = a BIG-endian u16 reference of
  *    12-bit dictionary offset + 4-bit length-2; a reference whose
  *    offset EQUALS the current write pointer is the end marker;
  *  - RAWSIZE is advisory (real writers disagree by trailing NULs) —
  *    the end marker is authoritative, so it is not enforced here.
  *
  * Malformed input (truncated header/reference, CRC mismatch, unknown
  * COMPTYPE, no end marker, output past the 64 MiB bomb cap) throws
  * [[ParseFailure]] — classified by the job layer. [[compress]] is a
  * real greedy LZ encoder over the same circular dictionary (preload
  * matches included), proving the format both ways.
  */
object RtfComp {

  import graft.core.Bin.{slice, u32}

  /** The spec's initial dictionary content, exactly 207 bytes. */
  private val Preload: Array[Byte] =
    ("{\\rtf1\\ansi\\mac\\deff0\\deftab720{\\fonttbl;}" +
      "{\\f0\\fnil \\froman \\fswiss \\fmodern \\fscript \\fdecor MS Sans SerifSymbolArial" +
      "Times New RomanCourier{\\colortbl\\red0\\green0\\blue0\r\n" +
      "\\par \\pard\\plain\\f0\\fs20\\b\\i\\u\\tab\\tx").getBytes(StandardCharsets.US_ASCII)
  require(Preload.length == 207)

  private val Lzfu = 0x75465a4c // "LZFu"
  private val Mela = 0x414c454d // "MELA"
  private val MaxOut = 64 << 20

  /** The spec's CRC: the standard reflected CRC-32 table, zero initial
    * value, no final complement (so NOT `java.util.zip.CRC32`).
    */
  private val CrcTable: Array[Int] = Array.tabulate(256) { n =>
    var c = n
    var k = 0
    while (k < 8) { c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1; k += 1 }
    c
  }

  def crc(data: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { c = CrcTable((c ^ data(i)) & 0xff) ^ (c >>> 8); i += 1 }
    c
  }

  /** Decode a PR_RTF_COMPRESSED stream to the raw RTF bytes. */
  def decompress(data: Array[Byte]): Array[Byte] = {
    if (data.length < 16) throw new ParseFailure("rtfcomp: header truncated")
    val compSize = u32(data, 0)
    val rawSize = u32(data, 4)
    val compType = u32(data, 8)
    val stored = u32(data, 12)
    if (compSize + 4 > data.length)
      throw new ParseFailure(s"rtfcomp: COMPSIZE $compSize past stream end ${data.length}")
    val end = (compSize + 4).toInt
    if (end < 16) throw new ParseFailure(s"rtfcomp: COMPSIZE $compSize shorter than the header")
    compType.toInt match {
      case Mela =>
        if (16 + rawSize > end)
          throw new ParseFailure(s"rtfcomp: stored RAWSIZE $rawSize past COMPSIZE end")
        slice(data, 16, rawSize)
      case Lzfu =>
        if (crc(data, 16, end) != stored.toInt)
          throw new ParseFailure("rtfcomp: payload CRC mismatch")
        lzfu(data, 16, end)
      case other =>
        throw new ParseFailure(f"rtfcomp: unknown COMPTYPE 0x$other%08x")
    }
  }

  private def lzfu(data: Array[Byte], from: Int, end: Int): Array[Byte] = {
    val dict = new Array[Byte](4096)
    System.arraycopy(Preload, 0, dict, 0, Preload.length)
    var wp = Preload.length
    val out = new java.io.ByteArrayOutputStream(256)
    var i = from
    while (i < end) {
      var flags = data(i) & 0xff
      i += 1
      var bit = 0
      while (bit < 8) {
        if ((flags & 1) == 0) {
          if (i < end) { // a token group may end mid-byte at the stream end
            val b = data(i); i += 1
            dict(wp) = b; wp = (wp + 1) & 0xfff
            out.write(b)
          }
        } else {
          if (i + 2 > end) throw new ParseFailure("rtfcomp: truncated reference token")
          val ref = ((data(i) & 0xff) << 8) | (data(i + 1) & 0xff) // big-endian
          i += 2
          val off = ref >>> 4
          if (off == wp) return out.toByteArray // end marker
          var len = (ref & 0xf) + 2
          var rp = off
          while (len > 0) {
            val b = dict(rp); rp = (rp + 1) & 0xfff
            dict(wp) = b; wp = (wp + 1) & 0xfff
            out.write(b)
            len -= 1
          }
        }
        if (out.size > MaxOut) throw new ParseFailure("rtfcomp: output exceeds the 64 MiB cap")
        flags >>= 1
        bit += 1
      }
    }
    throw new ParseFailure("rtfcomp: stream ended without the end-marker reference")
  }

  // ---------------------------------------------------------------- writer

  /** Encode raw RTF bytes as an LZFu PR_RTF_COMPRESSED stream: greedy
    * longest-match over the circular dictionary (matches never read bytes
    * the same copy writes, so decode order can't diverge), end marker,
    * spec header + CRC. Candidates come from a byte-pair chain index
    * (depth-capped, newest-first, content revalidated against the live
    * dictionary) — near-linear encode instead of a 4096-offset scan per
    * input byte.
    */
  def compress(raw: Array[Byte]): Array[Byte] = {
    val dict = new Array[Byte](4096)
    System.arraycopy(Preload, 0, dict, 0, Preload.length)
    var wp = Preload.length
    var filled = Preload.length // bytes of dict that are valid (until first wrap)

    // pair index: dict positions whose 2-byte content starts a candidate;
    // stale (overwritten) entries are harmless — the byte comparison below
    // revalidates against the CURRENT dictionary, and any position whose
    // live content matches is a legal reference
    val chains = new Array[scala.collection.mutable.ArrayBuffer[Int]](1 << 16)
    def chainKey(a: Byte, b2: Byte): Int = ((a & 0xff) << 8) | (b2 & 0xff)
    def index(pos: Int): Unit = {
      val k = chainKey(dict(pos & 0xfff), dict((pos + 1) & 0xfff))
      var c = chains(k)
      if (c == null) { c = new scala.collection.mutable.ArrayBuffer[Int](8); chains(k) = c }
      c += (pos & 0xfff)
    }
    var seed = 0
    while (seed < Preload.length - 1) { index(seed); seed += 1 }

    val tokens = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    var flags = 0
    var nTok = 0
    val group = new java.io.ByteArrayOutputStream(17)
    def flush(): Unit = {
      tokens.write(flags)
      group.writeTo(tokens)
      group.reset(); flags = 0; nTok = 0
    }
    def emit(isRef: Boolean)(write: => Unit): Unit = {
      if (isRef) flags |= (1 << nTok)
      write
      nTok += 1
      if (nTok == 8) flush()
    }
    def push(b: Byte): Unit = {
      dict(wp) = b
      index((wp - 1) & 0xfff) // the pair ending at the byte just written
      wp = (wp + 1) & 0xfff
      if (filled < 4096) filled += 1
    }

    var p = 0
    while (p < raw.length) {
      // longest dict match at p whose source range is fully valid and
      // ends before the write pointer (no self-overlap)
      var bestOff = -1
      var bestLen = 0
      val maxLen = math.min(17, raw.length - p)
      if (maxLen >= 2) {
        val c = chains(chainKey(raw(p), raw(p + 1)))
        if (c != null) {
          var ci = c.length - 1
          var checked = 0
          while (ci >= 0 && checked < 64) {
            val o = c(ci)
            // distance from o to wp in circular order bounds the read;
            // o == wp would encode the end marker, so room 0 skips it
            val room = if (filled < 4096) wp - o else ((wp - o) & 0xfff)
            if (room >= 2) {
              val lim = math.min(maxLen, room)
              var l = 0
              while (l < lim && dict((o + l) & 0xfff) == raw(p + l)) l += 1
              if (l >= 2 && (l > bestLen || (l == bestLen && o < bestOff))) {
                bestLen = l; bestOff = o
              }
            }
            checked += 1
            ci -= 1
          }
        }
      }
      if (bestLen >= 2) {
        emit(isRef = true) {
          val ref = (bestOff << 4) | (bestLen - 2)
          group.write((ref >>> 8) & 0xff); group.write(ref & 0xff)
        }
        var k = 0
        while (k < bestLen) { push(raw(p + k)); k += 1 }
        p += bestLen
      } else {
        emit(isRef = false)(group.write(raw(p) & 0xff))
        push(raw(p))
        p += 1
      }
    }
    emit(isRef = true) { // end marker: offset == write pointer
      val ref = wp << 4
      group.write((ref >>> 8) & 0xff); group.write(ref & 0xff)
    }
    if (nTok > 0) flush()

    val payload = tokens.toByteArray
    val out = new Array[Byte](16 + payload.length)
    def p32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
      out(off + 2) = (v >>> 16).toByte; out(off + 3) = (v >>> 24).toByte
    }
    p32(0, payload.length + 12)
    p32(4, raw.length)
    p32(8, Lzfu)
    p32(12, crc(payload, 0, payload.length))
    System.arraycopy(payload, 0, out, 16, payload.length)
    out
  }
}
