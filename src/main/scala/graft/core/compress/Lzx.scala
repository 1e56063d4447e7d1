package graft.core.compress

import graft.core.{Bin, ParseFailure}

/** LZX decompression — the codec inside CHM help files (and CAB), per the
  * published LZX/LZXD documentation (the cabinet-SDK block format also
  * specified in [MS-PATCH]): a 16-bit-LE-word bitstream read MSB-first,
  * three block types (verbatim, aligned-offset, uncompressed), canonical
  * Huffman trees delta-coded through a 20-symbol pretree, a 3-entry LRU
  * of repeat offsets, and optional Intel E8 call-translation
  * post-processing applied per 32 KiB frame.
  *
  * Decoder only — fixtures are written with uncompressed LZX blocks plus
  * a minimal literal/match verbatim composer in the test tree (the same
  * prove-it-both-ways discipline as the other codecs; a production LZX
  * ENCODER is out of scope). Malformed streams throw [[ParseFailure]].
  */
object Lzx {

  final val FrameSize = 0x8000

  private val NumSlots = Map(15 -> 30, 16 -> 32, 17 -> 34, 18 -> 36,
    19 -> 38, 20 -> 42, 21 -> 50)

  private def extraBits(slot: Int): Int =
    if (slot < 4) 0 else math.min(17, (slot >> 1) - 1)

  private val PositionBase: Array[Long] = {
    val base = new Array[Long](51)
    var i = 0
    while (i < 50) { base(i + 1) = base(i) + (1L << extraBits(i)); i += 1 }
    base
  }

  /** MSB-first bit reader over 16-bit little-endian words. */
  final class BitReader(data: Array[Byte], var pos: Int) {
    private var buf: Long = 0L
    private var nBits: Int = 0
    private def fill(): Unit = {
      if (pos + 2 > data.length) throw new ParseFailure("lzx: bitstream exhausted")
      val w = ((data(pos) & 0xff) | ((data(pos + 1) & 0xff) << 8)).toLong
      pos += 2
      buf |= w << (48 - nBits)
      nBits += 16
    }
    def bits(n: Int): Int = {
      if (n == 0) return 0
      while (nBits < n) fill()
      val v = (buf >>> (64 - n)).toInt
      buf <<= n
      nBits -= n
      v
    }
    /** Word-align per the uncompressed-block rule: the encoder emits
      * 1-16 padding bits, so when the stream is ALREADY word-aligned a
      * full 16-bit pad word must still be consumed (chmlib/cabextract do
      * the same; discarding nothing here desyncs the R0-R2 header).
      * After any bits() call nBits is in [0,15], so discarding the
      * buffer realigns except in the nBits == 0 case.
      */
    def alignToWord(): Unit = {
      if (nBits == 0) {
        if (pos + 2 > data.length) throw new ParseFailure("lzx: align pad word past end")
        pos += 2
      }
      buf = 0; nBits = 0
    }
    def bitsLeft: Int = nBits
    def readRawBytes(n: Int): Array[Byte] = { val out = Bin.slice(data, pos, n); pos += n; out }
  }

  /** Canonical Huffman decoder: lengths (0 = absent) -> bit-by-bit walk
    * via first-code/first-symbol tables per length.
    */
  private final class Huffman(lengths: Array[Int], what: String) {
    private val maxLen = 16
    private val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    val isEmpty: Boolean = count.sum == 0
    // canonical first code per length and symbol table sorted by (len, sym)
    private val firstCode = new Array[Int](maxLen + 2)
    private val firstIndex = new Array[Int](maxLen + 2)
    private val symbols: Array[Int] = {
      var code = 0
      var idx = 0
      val sorted = new Array[Int](count.sum)
      var l = 1
      while (l <= maxLen) {
        firstCode(l) = code
        firstIndex(l) = idx
        var s = 0
        while (s < lengths.length) {
          if (lengths(s) == l) { sorted(idx) = s; idx += 1 }
          s += 1
        }
        code = (code + count(l)) << 1
        l += 1
      }
      // completeness: the final code must exactly exhaust the space
      if (!isEmpty && (firstCode(maxLen) + count(maxLen)) != (1 << maxLen))
        throw new ParseFailure(s"lzx: $what tree over/under-subscribed")
      sorted
    }
    def decode(br: BitReader): Int = {
      if (isEmpty) throw new ParseFailure(s"lzx: decode from empty $what tree")
      var code = 0
      var l = 0
      while (l < maxLen) {
        code = (code << 1) | br.bits(1)
        l += 1
        val idx = code - firstCode(l)
        if (idx >= 0 && idx < count(l)) return symbols(firstIndex(l) + idx)
      }
      throw new ParseFailure(s"lzx: $what code exceeds max length")
    }
  }

  /** Read `n` delta-coded lengths through a fresh 20-symbol pretree,
    * updating `prev` in place (LZX retains lengths across blocks within a
    * reset segment).
    */
  private def readLengths(br: BitReader, prev: Array[Int], off: Int, n: Int): Unit = {
    val preLens = Array.fill(20)(br.bits(4))
    val pre = new Huffman(preLens, "pretree")
    var i = 0
    while (i < n) {
      val c = pre.decode(br)
      if (c == 17) {
        val run = br.bits(4) + 4
        if (i + run > n) throw new ParseFailure("lzx: zero run past tree end")
        (0 until run).foreach(k => prev(off + i + k) = 0)
        i += run
      } else if (c == 18) {
        val run = br.bits(5) + 20
        if (i + run > n) throw new ParseFailure("lzx: long zero run past tree end")
        (0 until run).foreach(k => prev(off + i + k) = 0)
        i += run
      } else if (c == 19) {
        val run = br.bits(1) + 4
        if (i + run > n) throw new ParseFailure("lzx: repeat run past tree end")
        val z = pre.decode(br)
        if (z > 16) throw new ParseFailure("lzx: repeat of a non-literal pretree code")
        val v = (prev(off + i) - z + 17) % 17
        (0 until run).foreach(k => prev(off + i + k) = v)
        i += run
      } else {
        prev(off + i) = (prev(off + i) - c + 17) % 17
        i += 1
      }
    }
  }

  /** Decompress ONE reset segment (fresh trees, fresh LRU, its own
    * header bit) producing exactly `outLen` bytes.
    */
  def decodeSegment(data: Array[Byte], windowBits: Int, outLen: Int): Array[Byte] = {
    val slots = NumSlots.getOrElse(windowBits,
      throw new ParseFailure(s"lzx: unsupported window 2^$windowBits"))
    val mainCount = 256 + 8 * slots
    val br = new BitReader(data, 0)
    val out = new Array[Byte](outLen)
    var outPos = 0
    var r0 = 1L; var r1 = 1L; var r2 = 1L
    val mainLens = new Array[Int](mainCount)
    val lenLens = new Array[Int](249)
    // stream header: intel E8 translation flag (+ translation size)
    val intel = br.bits(1) == 1
    val intelSize = if (intel) ((br.bits(16).toLong << 16) | br.bits(16)).toInt else 0

    while (outPos < outLen) {
      val blockType = br.bits(3)
      val blockSize = (br.bits(16) << 8) | br.bits(8)
      if (blockSize <= 0 || outPos + blockSize > outLen)
        throw new ParseFailure(s"lzx: block size $blockSize past declared output")
      blockType match {
        case 3 => // uncompressed
          br.alignToWord()
          val hdr = br.readRawBytes(12)
          r0 = Bin.u32(hdr, 0); r1 = Bin.u32(hdr, 4); r2 = Bin.u32(hdr, 8)
          if (r0 <= 0 || r1 <= 0 || r2 <= 0)
            throw new ParseFailure("lzx: non-positive repeat offset in uncompressed header")
          val raw = br.readRawBytes(blockSize)
          System.arraycopy(raw, 0, out, outPos, blockSize)
          outPos += blockSize
          if ((blockSize & 1) == 1) br.readRawBytes(1) // pad to even
        case 1 | 2 => // verbatim / aligned
          val aligned =
            if (blockType == 2) {
              val al = Array.fill(8)(br.bits(3))
              new Huffman(al, "aligned")
            } else null
          readLengths(br, mainLens, 0, 256)
          readLengths(br, mainLens, 256, mainCount - 256)
          val main = new Huffman(mainLens, "main")
          readLengths(br, lenLens, 0, 249)
          val lenTree = new Huffman(lenLens, "length")
          val blockEnd = outPos + blockSize
          while (outPos < blockEnd) {
            val sym = main.decode(br)
            if (sym < 256) {
              out(outPos) = sym.toByte
              outPos += 1
            } else {
              val s = sym - 256
              val posSlot = s >> 3
              val lenHeader = s & 7
              val matchLen =
                if (lenHeader == 7) 7 + 2 + lenTree.decode(br) else lenHeader + 2
              val offset: Long = posSlot match {
                case 0 => r0
                case 1 => val t = r1; r1 = r0; r0 = t; t
                case 2 => val t = r2; r2 = r0; r0 = t; t
                case _ =>
                  if (posSlot >= slots) throw new ParseFailure("lzx: position slot out of range")
                  val eb = extraBits(posSlot)
                  val verb =
                    if (blockType == 2 && eb >= 3) {
                      val hi = br.bits(eb - 3).toLong << 3
                      hi | aligned.decode(br)
                    } else if (eb > 0) br.bits(eb).toLong
                    else 0L
                  val off = PositionBase(posSlot) + verb - 2
                  if (off <= 0) throw new ParseFailure("lzx: non-positive match offset")
                  r2 = r1; r1 = r0; r0 = off
                  off
              }
              if (offset > outPos || outPos + matchLen > blockEnd)
                throw new ParseFailure("lzx: match outside window or block")
              var k = 0
              while (k < matchLen) { // byte-wise: overlapping matches copy forward
                out(outPos + k) = out(outPos + k - offset.toInt)
                k += 1
              }
              outPos += matchLen
            }
          }
        case t => throw new ParseFailure(s"lzx: unknown block type $t")
      }
    }
    if (intel && intelSize > 0) e8Untranslate(out, intelSize)
    out
  }

  /** Reverse the encoder's E8 call translation, per 32 KiB frame (only
    * the first 0x8000-10 bytes of each frame are candidates).
    */
  private def e8Untranslate(buf: Array[Byte], fileSize: Int): Unit = {
    var frame = 0
    while (frame < buf.length) {
      val end = math.min(frame + FrameSize, buf.length) - 10
      var i = frame
      while (i < end) {
        if (buf(i) == 0xe8.toByte) {
          val cur = i // absolute position within the output stream
          val abs = (buf(i + 1) & 0xff) | ((buf(i + 2) & 0xff) << 8) |
            ((buf(i + 3) & 0xff) << 16) | ((buf(i + 4) & 0xff) << 24)
          if (abs >= -cur && abs < fileSize) {
            val rel = if (abs >= 0) abs - cur else abs + fileSize
            buf(i + 1) = (rel & 0xff).toByte
            buf(i + 2) = ((rel >> 8) & 0xff).toByte
            buf(i + 3) = ((rel >> 16) & 0xff).toByte
            buf(i + 4) = ((rel >> 24) & 0xff).toByte
          }
          i += 5
        } else i += 1
      }
      frame += FrameSize
    }
  }

  // -------------------------------------------------- fixture composers

  /** MSB-first bit writer emitting 16-bit little-endian words — the
    * exact inverse of [[BitReader]]; fixture-only.
    */
  final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var buf = 0L
    private var nBits = 0
    def put(v: Int, n: Int): Unit = {
      if (n == 0) return
      buf |= (v.toLong & ((1L << n) - 1)) << (64 - nBits - n)
      nBits += n
      while (nBits >= 16) {
        val w = (buf >>> 48).toInt
        out.write(w & 0xff); out.write((w >> 8) & 0xff)
        buf <<= 16
        nBits -= 16
      }
    }
    /** Final flush only: 0-15 zero bits to close the last word. */
    def alignToWord(): Unit = if (nBits > 0) put(0, 16 - nBits)
    /** The uncompressed-block padding rule: ALWAYS emit 1-16 bits — a
      * full pad word when already aligned — mirroring
      * [[BitReader.alignToWord]].
      */
    def padToWord(): Unit = if (nBits > 0) put(0, 16 - nBits) else put(0, 16)
    def putRaw(bytes: Array[Byte]): Unit = {
      require(nBits == 0, "raw bytes need word alignment")
      out.write(bytes)
    }
    def result(): Array[Byte] = { alignToWord(); out.toByteArray }
  }

  /** One reset segment made of UNCOMPRESSED blocks (intel flag 0) —
    * the production-fixture path.
    */
  def encodeUncompressed(payload: Array[Byte]): Array[Byte] = {
    require(payload.nonEmpty && payload.length < (1 << 24))
    val bw = new BitWriter()
    bw.put(0, 1)                 // intel translation: absent
    bw.put(3, 3)                 // block type: uncompressed
    bw.put(payload.length >> 8, 16)
    bw.put(payload.length & 0xff, 8)
    bw.padToWord()
    val hdr = new Array[Byte](12)
    hdr(0) = 1; hdr(4) = 1; hdr(8) = 1 // R0=R1=R2=1
    bw.putRaw(hdr)
    bw.putRaw(payload)
    if ((payload.length & 1) == 1) bw.putRaw(Array[Byte](0))
    bw.result()
  }
}
