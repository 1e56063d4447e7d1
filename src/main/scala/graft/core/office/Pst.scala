package graft.core.office

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import graft.core.{Bin, ParseFailure}
import graft.core.Bin.{slice, u8, u16, u32, u64}

/** Outlook PST/OST mailbox parsing, from scratch on the published MS-PST
  * specification — the reference's signature parser
  * (`parser/ResilientOutlookPSTParser.java:71-846`: per-message AND
  * per-folder isolation, descriptor-based recovery of unlinked messages
  * into `/[recovered]`, reconciliation counters; fixture
  * `documents/pst/testPST.pst`). A PST is NOT a compound file: it has its
  * own three-layer architecture, all implemented here:
  *
  *   - NDB (node database): 564-byte header with CRC-validated partial and
  *     full ranges (MS-PST §2.2.2.6; CRC §5.3 = reflected CRC-32 poly
  *     0xEDB88320, init 0, no final xor — verified bit-exact against a
  *     real Outlook-written file), node and block B-trees of 512-byte
  *     pages with typed trailers (§2.2.2.7), 64-aligned data blocks with
  *     size/signature/CRC trailers (§2.2.2.8), XBLOCK/XXBLOCK data trees,
  *     and SLBLOCK/SIBLOCK subnode trees.
  *   - LTP (lists, tables, properties): heap-on-node (§2.3.1), BTree-on-
  *     heap (§2.3.2), property contexts (§2.3.3) with inline/heap/subnode
  *     value routing, and table contexts (§2.3.4) read via their RowIndex
  *     BTH (row membership is exactly its key set).
  *   - Messaging: folder objects (display name + declared content count),
  *     normal messages, attachment subnodes — file attachments re-enter
  *     the generic sniff machinery; attached messages (msg-in-pst) recurse
  *     depth-capped — and the resilience semantics: each message parses in
  *     isolation (a corrupt message yields a failure entry, never a file
  *     failure), and messages present in the node B-tree but absent from
  *     every folder contents table are RECOVERED into `[recovered]`
  *     (`ResilientOutlookPSTParser.java:225-320` recovery semantics).
  *
  * Scope (documented honestly): Unicode (wVer 23), ANSI (wVer 14/15),
  * AND 4K-page OST (wVer 36 — Outlook-2013 cached-exchange) files. The
  * NDB layer is parameterized over the three published layouts (BREFs,
  * page/block trailers, B-tree entries, SL/SI/XBLOCK shapes, page sizes);
  * the LTP and messaging layers are format-identical. The 4K variant adds
  * per-leaf zlib "internal compression" of end-user data blocks — MIXED
  * raw/deflated leaves, the layout java-libpst mis-reads and the
  * reference recovers via `com/pff/OstCompressedBlockReader.java` (sniff
  * the zlib header per decoded leaf, inflate independently, size-gate).
  * An attachment whose blocks fail that recovery becomes a TRUNCATION
  * STUB child with the failure reason — never a message or file failure —
  * mirroring `ResilientOutlookPSTParser.java:598-628` (truncated
  * by-value detection) and its `emitRecoveryStub` status children. The
  * Unicode path is validated against a real Outlook-written fixture; the
  * ANSI and 4K paths are spec-derived and reader/writer
  * round-trip-verified (no real ANSI/OST file ships in this sandbox —
  * noted so a future real-file check knows it is still owed). WIP
  * (wVer 37+) throws ParseFailure with a precise reason. `bCryptMethod`
  * NDB_CRYPT_NONE and NDB_CRYPT_PERMUTE (§5.1, the default "compressible
  * encryption" every stock Outlook profile writes) parse fully.
  * NDB_CRYPT_CYCLIC refuses with a DecryptFailure — DELIBERATE parity:
  * java-libpst (the reference's parser) itself rejects crypt methods
  * beyond none/permute ("Only unencrypted and compressable PST files are
  * supported"), so refusal matches the reference's behavior EXACTLY.
  * Implementing it would additionally require §5.2's mpbbS substitution
  * table, which is not independently verifiable in this sandbox: the
  * spec text is not on disk, no real cyclic fixture exists to crib
  * against (unlike the permute table's three-way validation vs the real
  * Outlook file), and the self-inverse property alone cannot
  * authenticate a remembered table — a wrong one would pass a writer
  * round-trip yet extract GARBAGE text from real files silently.
  * Classify-don't-pretend wins. Cyclic
  * files still yield the full NDB [[inventory]] — header, B-trees,
  * blocks, folder/message node structure — which is unencrypted by
  * design.
  *
  * The [[build]] writer emits spec-shaped Unicode crypt-none or permute
  * PSTs (deterministic: a pure function of its input) used by fixtures and the
  * oracle; reader and writer are independent implementations of the spec
  * (the reader validates every CRC, signature, and declared size the
  * writer emits).
  */
object Pst {

  // ---------------------------------------------------------------- common

  private val HeaderSize = 512 // ANSI header length; Unicode extends to 564
  val RootFolderNid = 0x122L

  /** On-disk layout parameters across the THREE published NDB variants:
    * Unicode (wVer 23), ANSI (wVer 14/15, 32-bit BIDs/IBs), and the
    * 4K-page OST (wVer 36, Outlook-2013 cached-exchange files). MS-PST §2
    * defines the first two in parallel; the 4K variant follows the
    * publicly documented PFF layout: 4096-byte B-tree pages whose entry
    * counts widen to 16 bits (metadata at 4056, trailer at 4072, the
    * final 8 bytes reserved), Unicode-shaped entries and block trailers,
    * and per-leaf zlib "internal compression" of end-user data blocks
    * (mixed raw/deflated leaves — the exact layout class the reference's
    * OST-2013 recovery reader handles,
    * `com/pff/OstCompressedBlockReader.java:90-115`). The LTP and
    * messaging layers are byte-identical across all three. The 4K path
    * is spec-derived and reader/writer round-trip-verified; no real
    * wVer-36 OST ships in this sandbox — noted so a future real-file
    * check knows it is still owed (the same validation debt the ANSI
    * path documents).
    */
  private final class Fmt(val ansi: Boolean, val ost4k: Boolean) {
    val pageSize: Int = if (ost4k) 4096 else 512
    val blockTrailerLen: Int = if (ansi) 12 else 16
    val maxBlockData: Int = 8192 - blockTrailerLen
    // page metadata (cEnt/cEntMax/cbEnt/cLevel); 4K pages widen the two
    // counts to u16, so cbEnt/cLevel sit at meta+4/meta+5
    val pageMetaOff: Int = if (ost4k) 4056 else if (ansi) 496 else 488
    val cEnt16: Boolean = ost4k
    val pageTrailerOff: Int = if (ost4k) 4072 else if (ansi) 500 else 496
    val pageCrcLen: Int = pageTrailerOff // dwCRC covers every byte before the trailer
    val btIndexEntLen: Int = if (ansi) 12 else 24 // btkey + BREF
    val bbtEntLen: Int = if (ansi) 12 else 24
    val nbtEntLen: Int = if (ansi) 16 else 32
    val slEntryOff: Int = if (ansi) 4 else 8 // SLBLOCK/SIBLOCK header (ANSI has no padding dword)
    val slEntLen: Int = if (ansi) 12 else 24
    val siEntLen: Int = if (ansi) 8 else 16
    val xKidLen: Int = if (ansi) 4 else 8
  }
  private val UniFmt = new Fmt(false, false)
  private val AnsiFmt = new Fmt(true, false)
  private val Ost4kFmt = new Fmt(false, true)

  // nidType = low 5 bits of a NID (MS-PST §2.2.2.1)
  private val TypeFolder = 0x02
  private val TypeMessage = 0x04
  private val TypeAttachment = 0x05
  private val TypeContents = 0x0E
  private val TypeAttachTable = 0x11

  // MAPI property ids / types used by the messaging layer
  private val PidMessageClass = 0x001A
  private val PidSubject = 0x0037
  private val PidSenderName = 0x0C1A
  private val PidBody = 0x1000
  private val PidRtfCompressed = 0x1009
  private val PidDisplayName = 0x3001
  private val PidContentCount = 0x3602
  private val PidAttachData = 0x3701
  private val PidAttachMethod = 0x3705
  private val PidAttachLongName = 0x3707
  private val PtShort = 0x0002
  private val PtLong = 0x0003
  private val PtBool = 0x000B
  private val PtObject = 0x000D
  private val PtString8 = 0x001E
  private val PtUnicode = 0x001F
  private val PtBinary = 0x0102

  def isPst(bytes: Array[Byte]): Boolean =
    bytes.length >= HeaderSize && bytes(0) == '!' && bytes(1) == 'B' &&
      bytes(2) == 'D' && bytes(3) == 'N'

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }
  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    putU16(b, off, (v & 0xffff).toInt); putU16(b, off + 2, ((v >> 16) & 0xffff).toInt)
  }
  private def putU64(b: Array[Byte], off: Int, v: Long): Unit = {
    putU32(b, off, v & 0xffffffffL); putU32(b, off + 4, (v >>> 32) & 0xffffffffL)
  }

  /** MS-PST §5.3 CRC: reflected CRC-32 (poly 0xEDB88320), initial value 0,
    * NO final inversion — NOT the zlib convention. Verified against the
    * header dwCRCPartial/dwCRCFull and page/block trailers of a real
    * Outlook-written PST.
    */
  private val CrcTable: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) { c = (c >>> 1) ^ (if ((c & 1) != 0) 0xEDB88320 else 0); k += 1 }
    c
  }
  private[office] def crc(b: Array[Byte], off: Int, len: Int): Long = {
    var c = 0
    var i = off
    val end = off + len
    while (i < end) { c = (c >>> 8) ^ CrcTable((c ^ b(i)) & 0xff); i += 1 }
    c.toLong & 0xffffffffL
  }

  private def cryptRefusal(crypt: Int) = new graft.core.DecryptFailure(
    s"NDB_CRYPT method $crypt (cyclic/unknown) not supported — crypt-none and permute PSTs only")

  /** MS-PST §5.1 permutative encoding ("compressible encryption"), decode
    * direction: plain = table(cipher). The spec publishes this 256-byte
    * substitution verbatim; the copy here was verified three independent
    * ways against the reference's real Outlook-written fixture
    * (`documents/pst/testPST.pst`, bCryptMethod=1): (a) 79 mappings
    * recovered blind by crib-dragging UTF-16 property runs all agree,
    * (b) all 54 heap nodes decode to structurally valid HNHDRs with
    * self-consistent page maps, (c) 203 KB of decoded payload is clean
    * readable mail. It is a bijection (checked at class-init) and its
    * inverse is the encode direction the [[build]] writer uses.
    */
  private val PermuteDecode: Array[Byte] = Array(
    0x47, 0xf1, 0xb4, 0xe6, 0x0b, 0x6a, 0x72, 0x48, 0x85, 0x4e, 0x9e, 0xeb, 0xe2, 0xf8, 0x94, 0x53,
    0xe0, 0xbb, 0xa0, 0x02, 0xe8, 0x5a, 0x09, 0xab, 0xdb, 0xe3, 0xba, 0xc6, 0x7c, 0xc3, 0x10, 0xdd,
    0x39, 0x05, 0x96, 0x30, 0xf5, 0x37, 0x60, 0x82, 0x8c, 0xc9, 0x13, 0x4a, 0x6b, 0x1d, 0xf3, 0xfb,
    0x8f, 0x26, 0x97, 0xca, 0x91, 0x17, 0x01, 0xc4, 0x32, 0x2d, 0x6e, 0x31, 0x95, 0xff, 0xd9, 0x23,
    0xd1, 0x00, 0x5e, 0x79, 0xdc, 0x44, 0x3b, 0x1a, 0x28, 0xc5, 0x61, 0x57, 0x20, 0x90, 0x3d, 0x83,
    0xb9, 0x43, 0xbe, 0x67, 0xd2, 0x46, 0x42, 0x76, 0xc0, 0x6d, 0x5b, 0x7e, 0xb2, 0x0f, 0x16, 0x29,
    0x3c, 0xa9, 0x03, 0x54, 0x0d, 0xda, 0x5d, 0xdf, 0xf6, 0xb7, 0xc7, 0x62, 0xcd, 0x8d, 0x06, 0xd3,
    0x69, 0x5c, 0x86, 0xd6, 0x14, 0xf7, 0xa5, 0x66, 0x75, 0xac, 0xb1, 0xe9, 0x45, 0x21, 0x70, 0x0c,
    0x87, 0x9f, 0x74, 0xa4, 0x22, 0x4c, 0x6f, 0xbf, 0x1f, 0x56, 0xaa, 0x2e, 0xb3, 0x78, 0x33, 0x50,
    0xb0, 0xa3, 0x92, 0xbc, 0xcf, 0x19, 0x1c, 0xa7, 0x63, 0xcb, 0x1e, 0x4d, 0x3e, 0x4b, 0x1b, 0x9b,
    0x4f, 0xe7, 0xf0, 0xee, 0xad, 0x3a, 0xb5, 0x59, 0x04, 0xea, 0x40, 0x55, 0x25, 0x51, 0xe5, 0x7a,
    0x89, 0x38, 0x68, 0x52, 0x7b, 0xfc, 0x27, 0xae, 0xd7, 0xbd, 0xfa, 0x07, 0xf4, 0xcc, 0x8e, 0x5f,
    0xef, 0x35, 0x9c, 0x84, 0x2b, 0x15, 0xd5, 0x77, 0x34, 0x49, 0xb6, 0x12, 0x0a, 0x7f, 0x71, 0x88,
    0xfd, 0x9d, 0x18, 0x41, 0x7d, 0x93, 0xd8, 0x58, 0x2c, 0xce, 0xfe, 0x24, 0xaf, 0xde, 0xb8, 0x36,
    0xc8, 0xa1, 0x80, 0xa6, 0x99, 0x98, 0xa8, 0x2f, 0x0e, 0x81, 0x65, 0x73, 0xe4, 0xc2, 0xa2, 0x8a,
    0xd4, 0xe1, 0x11, 0xd0, 0x08, 0x8b, 0x2a, 0xf2, 0xed, 0x9a, 0x64, 0x3f, 0xc1, 0x6c, 0xf9, 0xec
  ).map(_.toByte)

  private val PermuteEncode: Array[Byte] = {
    val inv = new Array[Byte](256)
    val seen = new Array[Boolean](256)
    var i = 0
    while (i < 256) {
      val p = PermuteDecode(i) & 0xff
      require(!seen(p), "permute table is not a bijection")
      seen(p) = true
      inv(p) = i.toByte
      i += 1
    }
    inv
  }

  /** In-place byte substitution (the caller owns a fresh copy). */
  private def substitute(data: Array[Byte], table: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < data.length) { data(i) = table(data(i) & 0xff); i += 1 }
    data
  }
  private[office] def permuteDecode(data: Array[Byte]): Array[Byte] =
    substitute(data, PermuteDecode)
  private[office] def permuteEncode(data: Array[Byte]): Array[Byte] =
    substitute(data, PermuteEncode)

  /** Structurally valid zlib header: CM = deflate and the (CMF,FLG) pair
    * a multiple of 31 — the same cheap pre-filter the reference's
    * OST-recovery reader uses before attempting inflation
    * (`OstCompressedBlockReader.java:117-133`). False positives on raw
    * data are ~1/8192 per the header arithmetic and resolve at the
    * inflate attempt.
    */
  private[office] def looksZlib(data: Array[Byte]): Boolean =
    data.length >= 2 && (data(0) & 0x0f) == 8 &&
      (((data(0) & 0xff) << 8 | (data(1) & 0xff)) % 31) == 0

  /** Writer-side deflate (zlib-wrapped, max compression for determinism
    * across JDKs at these sizes).
    */
  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** The byte budget a character budget implies for PST values: property
    * strings are UTF-16LE on disk (2 bytes/char), so the same message must
    * pass or refuse identically whether it arrives as .msg (char guards)
    * or .pst (byte guards).
    */
  def byteBudget(maxSpanChars: Int): Int =
    if (maxSpanChars > Int.MaxValue / 2) Int.MaxValue else maxSpanChars * 2

  /** Block/page signature (MS-PST §5.5): fold ib^bid to 16 bits. */
  private def sig(ib: Long, bid: Long): Int = {
    val x = (ib ^ bid) & 0xffffffffL
    (((x >>> 16) ^ x) & 0xffff).toInt
  }

  // ---------------------------------------------------------------- reader

  private final case class NbtE(nid: Long, bidData: Long, bidSub: Long, nidParent: Long)

  /** NDB view of one file: validated header + fully-walked B-trees. */
  private final class Ndb(
      val bytes: Array[Byte],
      val blocks: Map[Long, (Long, Int)], // bid -> (ib, cb)
      val nodes: Map[Long, NbtE],
      val crypt: Int,
      val fmt: Fmt,
      val maxEntryBytes: Int) {

    /** Raw payload of one block, trailer-validated (cb, bid, wSig, CRC).
      * The bid's low bit is RESERVED and readers MUST ignore it (MS-PST
      * §2.2.2.2) — real Outlook files set it on data-tree references, so
      * every lookup masks it before consulting the BBT.
      */
    def payload(bid0: Long): Array[Byte] = {
      val bid = bid0 & ~1L
      val (ib, cb) = blocks.getOrElse(bid, throw new ParseFailure(s"block $bid not in BBT"))
      if (cb < 0 || cb > fmt.maxBlockData)
        throw new ParseFailure(s"block $bid declares impossible size $cb")
      val total = ((cb + fmt.blockTrailerLen + 63) / 64) * 64
      // subtraction form: `ib + total` overflows Long for a crafted ib
      // near Long.MaxValue (the CRC is public, so a forged header passes)
      if (ib < 0 || ib > bytes.length - total)
        throw new ParseFailure(s"block $bid extends past file end")
      val t = (ib + total - fmt.blockTrailerLen).toInt
      if (u16(bytes, t) != cb) throw new ParseFailure(s"block $bid trailer size mismatch")
      if (u16(bytes, t + 2) != sig(ib, bid)) throw new ParseFailure(s"block $bid bad signature")
      // ANSI trailer orders bid(4) before dwCRC(4); Unicode dwCRC(4) then bid(8)
      val (tBid, tCrc) =
        if (fmt.ansi) (u32(bytes, t + 4), u32(bytes, t + 8))
        else (u64(bytes, t + 8), u32(bytes, t + 4))
      if (tCrc != crc(bytes, ib.toInt, cb))
        throw new ParseFailure(s"block $bid payload CRC mismatch")
      if ((tBid & ~1L) != bid)
        throw new ParseFailure(s"block $bid trailer bid mismatch")
      slice(bytes, ib, cb)
    }

    /** End-user data payload: crypt applies ONLY to leaf data blocks, and
      * the block trailer's CRC covers the ON-DISK (encoded) bytes — so
      * decode strictly after [[payload]]'s validation. 4K-OST files add
      * per-leaf "internal compression" UNDER the crypt layer: a decoded
      * leaf carrying a structurally valid zlib header inflates
      * independently (the reference's OstCompressedBlockReader recovery
      * order — decode, sniff, inflate per block, mixed raw/zlib legal).
      * A sniffed-zlib leaf that fails inflation IS the truncation signal
      * (the reference reaches the same verdict via its declared-size
      * gate) and throws the reason the attachment stub carries.
      */
    private def dataPayload(bid: Long): Array[Byte] = {
      val decoded = crypt match {
        case 0 => payload(bid)
        case 1 => permuteDecode(payload(bid))
        case c => throw cryptRefusal(c)
      }
      if (fmt.ost4k && looksZlib(decoded)) Bin.inflate(decoded, nowrap = false, maxEntryBytes)
      else decoded
    }

    /** The ordered leaf data blocks of a data tree (plain block, XBLOCK of
      * leaves, or XXBLOCK of XBLOCKs), with the declared-total check and
      * the size budget applied BEFORE materializing.
      */
    def dataBlocks(bid: Long): Vector[Array[Byte]] = {
      if (bid == 0) return Vector.empty
      var declared = 0L
      var inflated = 0L // 4K internal compression can EXPAND past the stored budget
      def walk(b: Long, depth: Int): Vector[Array[Byte]] = {
        if (depth > 3) throw new ParseFailure("data tree deeper than XXBLOCK allows")
        if ((b & 2) == 0) {
          val cb = blocks.getOrElse(b & ~1L,
            throw new ParseFailure(s"block $b not in BBT"))._2
          declared += cb
          if (declared > maxEntryBytes)
            throw new ParseFailure(s"declared data size exceeds cap $maxEntryBytes")
          val p = dataPayload(b)
          inflated += p.length
          if (inflated > maxEntryBytes)
            throw new ParseFailure(s"inflated data size exceeds cap $maxEntryBytes")
          Vector(p)
        } else {
          val p = payload(b) // internal blocks are never encrypted (§2.2.2.8.3)
          if (p.length < 8 || (p(0) & 0xff) != 0x01)
            throw new ParseFailure(s"block $b is not an XBLOCK")
          val cLevel = p(1) & 0xff
          val cEnt = u16(p, 2)
          val lcbTotal = u32(p, 4)
          if (8 + fmt.xKidLen * cEnt > p.length)
            throw new ParseFailure("XBLOCK entry table truncated")
          val kids = Vector.tabulate(cEnt) { i =>
            if (fmt.ansi) u32(p, 8 + 4 * i) else u64(p, 8 + 8 * i)
          }
          val out = kids.flatMap(walk(_, depth + 1))
          if (depth == 0 && out.iterator.map(_.length.toLong).sum != lcbTotal)
            throw new ParseFailure("XBLOCK lcbTotal disagrees with leaf sizes")
          out
        }
      }
      walk(bid, 0)
    }

    def data(bid: Long): Array[Byte] = {
      val bs = dataBlocks(bid)
      if (bs.length == 1) bs.head
      else {
        val out = new Array[Byte](bs.iterator.map(_.length).sum)
        var o = 0
        bs.foreach { b => System.arraycopy(b, 0, out, o, b.length); o += b.length }
        out
      }
    }

    /** Subnode tree (SLBLOCK/SIBLOCK): nid -> (bidData, bidSub). Entry nids
      * are masked to 32 bits — real Outlook writes uninitialized junk in
      * the high dword of SLENTRY nids (observed in the wild).
      */
    def subnodes(bidSub: Long): Map[Long, (Long, Long)] = {
      if (bidSub == 0) return Map.empty
      def walk(b: Long, depth: Int): Vector[(Long, (Long, Long))] = {
        if (depth > 2) throw new ParseFailure("subnode tree deeper than SIBLOCK allows")
        val p = payload(b)
        if (p.length < 8 || (p(0) & 0xff) != 0x02)
          throw new ParseFailure(s"block $b is not a subnode block")
        val cLevel = p(1) & 0xff
        val cEnt = u16(p, 2)
        if (cLevel == 0) {
          if (fmt.slEntryOff + fmt.slEntLen * cEnt > p.length)
            throw new ParseFailure("SLBLOCK entries truncated")
          Vector.tabulate(cEnt) { i =>
            val o = fmt.slEntryOff + fmt.slEntLen * i
            if (fmt.ansi) (u32(p, o), (u32(p, o + 4), u32(p, o + 8)))
            else (u64(p, o) & 0xffffffffL, (u64(p, o + 8), u64(p, o + 16)))
          }
        } else {
          if (fmt.slEntryOff + fmt.siEntLen * cEnt > p.length)
            throw new ParseFailure("SIBLOCK entries truncated")
          Vector.tabulate(cEnt) { i =>
            val o = fmt.slEntryOff + fmt.siEntLen * i
            if (fmt.ansi) u32(p, o + 4) else u64(p, o + 8)
          }.flatMap(walk(_, depth + 1))
        }
      }
      walk(bidSub, 0).toMap
    }
  }

  private def readHeader(bytes: Array[Byte]): (Int, Long, Long, Fmt) = {
    if (!isPst(bytes)) throw new ParseFailure("not a PST: bad !BDN signature")
    if (u16(bytes, 8) != 0x4d53) throw new ParseFailure("bad wMagicClient (not SM)")
    // version before checksums: a WIP file deserves the version reason,
    // not a CRC complaint about a layout it never claimed to have
    val wVer = u16(bytes, 10)
    val ansi = wVer == 14 || wVer == 15
    if (!ansi && wVer != 23 && wVer != 36)
      throw new ParseFailure(s"unsupported PST wVer $wVer (WIP?) — Unicode (23), ANSI (14/15), or 4K OST (36) only")
    // dwCRCPartial covers the 471 bytes from wMagicClient in both layouts;
    // only Unicode carries the additional dwCRCFull
    if (u32(bytes, 4) != crc(bytes, 8, 471))
      throw new ParseFailure("header partial CRC mismatch")
    if (ansi) {
      val ibFileEof = u32(bytes, 168) // ANSI ROOT at 164, ibFileEof +4
      if (ibFileEof != bytes.length)
        throw new ParseFailure(s"ibFileEof $ibFileEof disagrees with file length ${bytes.length}")
      // ANSI BREFs are {bid(4), ib(4)}: NBT at 184, BBT at 192
      (u8(bytes, 461), u32(bytes, 188), u32(bytes, 196), AnsiFmt)
    } else {
      // the 4K-page OST header keeps the Unicode 564-byte layout — only
      // wVer and the page geometry differ
      if (bytes.length < 564) throw new ParseFailure("Unicode header truncated")
      if (u32(bytes, 524) != crc(bytes, 8, 516))
        throw new ParseFailure("header full CRC mismatch")
      val ibFileEof = u64(bytes, 184)
      if (ibFileEof != bytes.length)
        throw new ParseFailure(s"ibFileEof $ibFileEof disagrees with file length ${bytes.length}")
      (u8(bytes, 513), u64(bytes, 224), u64(bytes, 240),
        if (wVer == 36) Ost4kFmt else UniFmt)
    }
  }

  /** Walk one B-tree (NBT ptype 0x81 / BBT ptype 0x80) to its leaf entry
    * byte records, validating every page trailer. Iterative page budget
    * bounds crafted cycles.
    */
  private def walkBt(bytes: Array[Byte], rootIb: Long, ptype: Int, fmt: Fmt): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    val maxPages = bytes.length / fmt.pageSize + 1
    var visited = 0
    def page(ib: Long, depth: Int): Unit = {
      visited += 1
      if (visited > maxPages) throw new ParseFailure("B-tree page cycle")
      if (depth > 8) throw new ParseFailure("B-tree deeper than the format allows")
      if (ib < 0 || ib > bytes.length - fmt.pageSize) // subtraction: no Long overflow
        throw new ParseFailure("B-tree page past file end")
      val o = ib.toInt
      val m = o + fmt.pageMetaOff
      // 4K pages carry u16 entry counts (cbEnt/cLevel shift to +4/+5)
      val cEnt = if (fmt.cEnt16) u16(bytes, m) else u8(bytes, m)
      val cbEnt = u8(bytes, m + (if (fmt.cEnt16) 4 else 2))
      val cLevel = u8(bytes, m + (if (fmt.cEnt16) 5 else 3))
      val t = o + fmt.pageTrailerOff
      if (u8(bytes, t) != ptype || u8(bytes, t + 1) != ptype)
        throw new ParseFailure(s"B-tree page trailer type != 0x${ptype.toHexString}")
      // ANSI trailer: wSig(2) bid(4) dwCRC(4); Unicode: wSig(2) dwCRC(4) bid(8)
      val (bid, crcStored) =
        if (fmt.ansi) (u32(bytes, t + 4), u32(bytes, t + 8))
        else (u64(bytes, t + 8), u32(bytes, t + 4))
      if (u16(bytes, t + 2) != sig(ib, bid)) throw new ParseFailure("B-tree page bad signature")
      if (crcStored != crc(bytes, o, fmt.pageCrcLen))
        throw new ParseFailure("B-tree page CRC mismatch")
      if (cbEnt <= 0 || cEnt * cbEnt > fmt.pageMetaOff)
        throw new ParseFailure("B-tree page entry overflow")
      var i = 0
      while (i < cEnt) {
        val e = slice(bytes, o + i * cbEnt, cbEnt)
        // BTENTRY: btkey then BREF{bid, ib} — ib is the last field
        if (cLevel > 0) page(if (fmt.ansi) u32(e, 8) else u64(e, 16), depth + 1)
        else out += e
        i += 1
      }
    }
    page(rootIb, 0)
    out.result()
  }

  private def readNdb(bytes: Array[Byte], maxEntryBytes: Int): Ndb = {
    val (crypt, ibNbt, ibBbt, fmt) = readHeader(bytes)
    // the reserved low bid bit MUST be ignored on BOTH sides: lookups mask
    // it (payload), and so must the map keys — a spec-valid file may carry
    // it in the BBT entries themselves
    val blocks = walkBt(bytes, ibBbt, 0x80, fmt).iterator.map { e =>
      if (fmt.ansi) (u32(e, 0) & ~1L, (u32(e, 4), u16(e, 8)))
      else (u64(e, 0) & ~1L, (u64(e, 8), u16(e, 16)))
    }.toMap
    val nodes = walkBt(bytes, ibNbt, 0x81, fmt).iterator.map { e =>
      if (fmt.ansi) {
        val nid = u32(e, 0)
        nid -> NbtE(nid, u32(e, 4), u32(e, 8), u32(e, 12))
      } else {
        val nid = u64(e, 0) & 0xffffffffL
        nid -> NbtE(nid, u64(e, 8), u64(e, 16), u32(e, 24))
      }
    }.toMap
    new Ndb(bytes, blocks, nodes, crypt, fmt, maxEntryBytes)
  }

  // LTP: heap-on-node over the ordered data blocks of a node
  private final class Heap(blocks: Vector[Array[Byte]]) {
    if (blocks.isEmpty) throw new ParseFailure("node has no data for a heap")
    private val b0 = blocks.head
    if (b0.length < 12 || (b0(2) & 0xff) != 0xEC)
      throw new ParseFailure("heap-on-node missing 0xEC signature")
    val clientSig: Int = b0(3) & 0xff
    val userRoot: Int = u32(b0, 4).toInt

    /** One heap allocation by HID (type 0 / index / block-index). */
    def item(hid: Int): Array[Byte] = {
      if ((hid & 0x1f) != 0) throw new ParseFailure(f"hid 0x$hid%x is not a heap id")
      val idx = (hid >>> 5) & 0x7ff
      val blk = hid >>> 16
      if (blk >= blocks.length) throw new ParseFailure("hid block index out of range")
      val b = blocks(blk)
      val pm = u16(b, 0) // HNHDR/HNPAGEHDR/HNBITMAPHDR all lead with ibHnpm
      if (pm + 4 > b.length) throw new ParseFailure("heap page map out of range")
      val cAlloc = u16(b, pm)
      if (idx < 1 || idx > cAlloc) throw new ParseFailure(s"hid index $idx out of $cAlloc allocs")
      if (pm + 4 + 2 * (cAlloc + 1) > b.length) throw new ParseFailure("heap alloc table truncated")
      val o0 = u16(b, pm + 4 + 2 * (idx - 1))
      val o1 = u16(b, pm + 4 + 2 * idx)
      if (o0 > o1 || o1 > pm) throw new ParseFailure("heap allocation outside heap")
      slice(b, o0, o1 - o0)
    }
  }

  /** BTree-on-heap leaf records: Vector of (key bytes ++ data bytes). */
  private def bthRecords(heap: Heap, headerHid: Int): (Int, Int, Vector[Array[Byte]]) = {
    val hdr = heap.item(headerHid)
    if (hdr.length < 8 || (hdr(0) & 0xff) != 0xB5)
      throw new ParseFailure("BTH header missing 0xB5 signature")
    val cbKey = hdr(1) & 0xff
    val cbEnt = hdr(2) & 0xff
    val levels = hdr(3) & 0xff
    val root = u32(hdr, 4).toInt
    if (levels > 8) throw new ParseFailure("BTH deeper than the format allows")
    val out = Vector.newBuilder[Array[Byte]]
    def walk(hid: Int, level: Int): Unit = {
      if (hid == 0) return
      val rec = heap.item(hid)
      if (level == 0) {
        val sz = cbKey + cbEnt
        if (sz == 0 || rec.length % sz != 0) throw new ParseFailure("BTH record array misaligned")
        var i = 0
        while (i < rec.length) { out += slice(rec, i, sz); i += sz }
      } else {
        val sz = cbKey + 4
        if (rec.length % sz != 0) throw new ParseFailure("BTH index array misaligned")
        var i = 0
        while (i < rec.length) { walk(u32(rec, i + cbKey).toInt, level - 1); i += sz }
      }
    }
    walk(root, levels)
    (cbKey, cbEnt, out.result())
  }

  /** Property context over a heap, with subnode resolution for large
    * values (HNID low-5-bits nonzero = a NID in the owning node's subnode
    * tree).
    */
  private final class Pc(heap: Heap, resolve: Long => Option[Array[Byte]]) {
    if (heap.clientSig != 0xBC) throw new ParseFailure("property context missing 0xBC client sig")
    private val recs: Map[Int, (Int, Long)] = {
      val (cbKey, cbEnt, rs) = bthRecords(heap, heap.userRoot)
      if (cbKey != 2 || cbEnt != 6) throw new ParseFailure("PC BTH record shape != (2,6)")
      rs.iterator.map(r => (u16(r, 0), (u16(r, 2), u32(r, 4)))).toMap
    }

    def has(pid: Int): Boolean = recs.contains(pid)

    def bytesOf(pid: Int): Option[Array[Byte]] = recs.get(pid).map { case (t, v) =>
      t match {
        case PtShort | PtLong | PtBool =>
          val b = new Array[Byte](4); putU32(b, 0, v); b
        case _ =>
          if (v == 0) Array.empty[Byte]
          else if ((v & 0x1f) == 0) heap.item(v.toInt)
          else resolve(v & 0xffffffffL).getOrElse(
            throw new ParseFailure(f"property 0x$pid%04x value subnode 0x$v%x missing"))
      }
    }

    def typeOf(pid: Int): Option[Int] = recs.get(pid).map(_._1)

    def str(pid: Int): String = recs.get(pid) match {
      case Some((PtUnicode, _)) =>
        new String(bytesOf(pid).getOrElse(Array.empty), StandardCharsets.UTF_16LE)
      case Some((PtString8, _)) => new String(bytesOf(pid).getOrElse(Array.empty), Biff.Cp1252)
      case _ => ""
    }

    def int(pid: Int): Option[Int] = recs.get(pid) match {
      case Some((PtShort | PtLong | PtBool, v)) => Some(v.toInt)
      case _ => None
    }
  }

  /** Table-context row membership: the RowIndex BTH keys (dwRowID = NID of
    * each row). Exactly what folder-contents reconciliation needs — the
    * row matrix itself is not consulted.
    */
  private def tcRowIds(heap: Heap): Vector[Long] = {
    if (heap.clientSig != 0x7C) throw new ParseFailure("table context missing 0x7C client sig")
    val info = heap.item(heap.userRoot)
    if (info.length < 22 || (info(0) & 0xff) != 0x7C)
      throw new ParseFailure("TCINFO missing 0x7C signature")
    val hidRowIndex = u32(info, 10).toInt
    val (cbKey, _, rs) = bthRecords(heap, hidRowIndex)
    if (cbKey != 4) throw new ParseFailure("TC RowIndex key width != 4")
    rs.map(u32(_, 0)).sorted
  }

  // ------------------------------------------------------------- messaging

  final case class Folder(nid: Long, parentNid: Long, name: String,
                          declaredCount: Int, path: String)
  final case class Message(nid: Long, folderNid: Long, folderPath: String,
                           subject: String, from: String, body: String,
                           attachments: Vector[Msg.Attachment], recovered: Boolean)
  final case class MessageFailure(nid: Long, folderNid: Long, folderPath: String,
                                  recovered: Boolean, error: String)
  final case class PstFile(folders: Vector[Folder], messages: Vector[Message],
                           failures: Vector[MessageFailure])

  /** Structure counts readable WITHOUT crypt support (B-tree pages and
    * node linkage are never encrypted): the real-file validation surface.
    */
  final case class Inventory(crypt: Int, nNodes: Int, nBlocks: Int, nFolders: Int,
                             nMessages: Int, nSubnodeMessages: Int, dataBytes: Long)

  def inventory(bytes: Array[Byte]): Inventory = {
    val ndb = readNdb(bytes, Int.MaxValue)
    val folders = ndb.nodes.keysIterator.count(n => (n & 0x1f) == TypeFolder)
    val msgs = ndb.nodes.keysIterator.count(n => (n & 0x1f) == TypeMessage)
    // attached messages live in subnode trees, one level down
    val subMsgs = ndb.nodes.valuesIterator.filter(_.bidSub != 0).map { e =>
      def countIn(sub: Map[Long, (Long, Long)], depth: Int): Int =
        if (depth > 4) 0
        else sub.iterator.map { case (nid, (_, bs)) =>
          val own = if ((nid & 0x1f) == TypeMessage) 1 else 0
          own + (if (bs != 0) countIn(ndb.subnodes(bs), depth + 1) else 0)
        }.sum
      countIn(ndb.subnodes(e.bidSub), 0)
    }.sum
    Inventory(ndb.crypt, ndb.nodes.size, ndb.blocks.size, folders, msgs, subMsgs,
      ndb.blocks.valuesIterator.map(_._2.toLong).sum)
  }

  /** Full parse. Structural (NDB) breakage throws ParseFailure; a broken
    * MESSAGE is isolated into `failures` (the reference's per-entry
    * resilience); messages not listed in any folder contents table land in
    * `[recovered]`.
    */
  def parse(bytes: Array[Byte], maxEntryBytes: Int): PstFile = {
    val ndb = readNdb(bytes, maxEntryBytes)
    // refuse unsupported crypt up front AS A DECRYPT failure
    // (FAILURE_NOT_DECRYPTED taxonomy, like encrypted PDFs): without it
    // every message would "fail" into the isolation path, misreporting an
    // encryption limitation as per-message corruption (inventory still
    // serves such files). Permute decodes transparently in dataPayload.
    if (ndb.crypt != 0 && ndb.crypt != 1) throw cryptRefusal(ndb.crypt)

    def heapOf(nid: Long): (Heap, Long => Option[Array[Byte]]) = {
      val e = ndb.nodes.getOrElse(nid, throw new ParseFailure(f"node 0x$nid%x missing"))
      val sub = ndb.subnodes(e.bidSub)
      (new Heap(ndb.dataBlocks(e.bidData)),
        (vnid: Long) => sub.get(vnid).map { case (bd, _) => ndb.data(bd) })
    }

    // folders: tree by nidParent, path parent-first; per-folder isolation
    // (an unreadable folder PC degrades to a placeholder name)
    val folderNids = ndb.nodes.keysIterator.filter(n => (n & 0x1f) == TypeFolder).toVector.sorted
    val rawFolders = folderNids.map { nid =>
      val parent = ndb.nodes(nid).nidParent
      val (name, declared) =
        try {
          val (h, res) = heapOf(nid)
          val pc = new Pc(h, res)
          (pc.str(PidDisplayName), pc.int(PidContentCount).getOrElse(0))
        } catch { case _: ParseFailure => (f"folder_0x$nid%x", 0) }
      (nid, parent, name, declared)
    }
    val byNid = rawFolders.map(f => f._1 -> f).toMap
    def pathOf(nid: Long, depth: Int): String = byNid.get(nid) match {
      case _ if depth > 64 => throw new ParseFailure("folder tree deeper than 64")
      case Some((n, parent, name, _)) if n != RootFolderNid && parent != n =>
        val pp = pathOf(parent, depth + 1)
        if (pp.isEmpty) name else s"$pp/$name"
      case _ => ""
    }
    val folders = rawFolders.map { case (nid, parent, name, declared) =>
      Folder(nid, parent, name, declared, pathOf(nid, 0))
    }

    // contents-table membership: linked = listed in the parent's contents
    // table; per-table isolation (a broken table just links nothing)
    val linked: Set[Long] = folderNids.flatMap { fnid =>
      val cnid = (fnid & ~0x1fL) | TypeContents
      if (!ndb.nodes.contains(cnid)) Vector.empty
      else try {
        val (h, _) = heapOf(cnid)
        tcRowIds(h)
      } catch { case _: ParseFailure => Vector.empty }
    }.toSet

    def readMessage(h: Heap, resolve: Long => Option[Array[Byte]],
                    sub: Map[Long, (Long, Long)], depth: Int): (String, String, String, Vector[Msg.Attachment]) = {
      if (depth > Msg.MaxNesting)
        throw new ParseFailure(s"pst message nesting deeper than ${Msg.MaxNesting}")
      val pc = new Pc(h, resolve)
      val subject0 = pc.str(PidSubject)
      // PST subject convention: a 0x01 control char + prefix-length char
      // lead the stored subject (MS-PST subject prefix encoding)
      val subject =
        if (subject0.length >= 2 && subject0.charAt(0).toInt == 1) subject0.substring(2)
        else subject0
      // body: plain PR_BODY when present, else the PR_RTF_COMPRESSED
      // stream (MS-OXRTFCP) Outlook writes for RTF-only mail — same
      // fallback order as Msg.parse
      val body = {
        val plain = pc.str(PidBody)
        if (plain.nonEmpty) plain
        else pc.bytesOf(PidRtfCompressed) match {
          case Some(comp) => graft.core.text.Rtf.text(
            new String(RtfComp.decompress(comp), Biff.Cp1252))
          case None => plain
        }
      }
      val from = pc.str(PidSenderName)
      val attNids = sub.keysIterator.filter(n => (n & 0x1f) == TypeAttachment).toVector.sorted
      // per-ATTACHMENT isolation (the reference's recovery-stub semantics,
      // `ResilientOutlookPSTParser.java:580-628`): a by-value attachment
      // whose bytes cannot be materialized — the OST-2013 truncation
      // class, or any other per-attachment breakage — degrades to a
      // named STUB carrying the reason, never a message failure. The
      // best-known name travels out of the failing scope so the stub is
      // attributable like the reference's RESOURCE_NAME_KEY stubs.
      val atts = attNids.map { anid =>
        var knownName = f"attachment_0x$anid%x"
        try {
        val (bidData, bidSub) = sub(anid)
        val attSub = ndb.subnodes(bidSub)
        val attResolve = (vnid: Long) => attSub.get(vnid).map { case (bd, _) => ndb.data(bd) }
        val apc = new Pc(new Heap(ndb.dataBlocks(bidData)), attResolve)
        val name = {
          val n = apc.str(PidAttachLongName)
          if (n.nonEmpty) n else apc.str(0x3704)
        }
        if (name.nonEmpty) knownName = name
        val method = apc.int(PidAttachMethod).getOrElse(1)
        if (method == 5 || apc.typeOf(PidAttachData).contains(PtObject)) {
          // embedded message: 0x3701 is PtypObject — its HNID names a heap
          // item holding {NID, ulSize} (§2.3.3.5); the NID is a message
          // node inside THIS attachment's subnode tree
          val obj = apc.bytesOf(PidAttachData).getOrElse(Array.empty)
          if (obj.length < 4)
            throw new ParseFailure("embedded-message attachment 0x3701 object record truncated")
          val mnid = u32(obj, 0)
          val (mBid, mSub) = attSub.getOrElse(mnid,
            throw new ParseFailure(f"embedded message node 0x$mnid%x missing from subnode tree"))
          val mSubMap = ndb.subnodes(mSub)
          val mResolve = (vnid: Long) => mSubMap.get(vnid).map { case (bd, _) => ndb.data(bd) }
          val (s, f, b, a) = readMessage(new Heap(ndb.dataBlocks(mBid)), mResolve, mSubMap, depth + 1)
          Msg.MsgAtt(Msg.MsgDoc(s, f, b, a))
        } else
          Msg.FileAtt(name, apc.bytesOf(PidAttachData).getOrElse(Array.empty))
        } catch {
          // nesting-depth breaches stay message-level (a bomb must not
          // degrade into a polite stub per level); everything else stubs
          case pf: ParseFailure if !pf.getMessage.contains("nesting deeper") =>
            Msg.StubAtt(knownName, pf.getMessage)
        }
      }
      (subject, from, body, atts)
    }

    val msgNids = ndb.nodes.keysIterator.filter(n => (n & 0x1f) == TypeMessage).toVector.sorted
    val messages = Vector.newBuilder[Message]
    val failures = Vector.newBuilder[MessageFailure]
    msgNids.foreach { nid =>
      val isLinked = linked.contains(nid)
      val parent = ndb.nodes(nid).nidParent
      // recovered = unlinked from every contents table OR parented to a
      // nonexistent folder — both are "present in the node B-tree but
      // unreachable through the folder tree", the descriptor-recovery case
      val rec = !isLinked || !byNid.contains(parent)
      val path = if (rec) "[recovered]" else pathOf(parent, 0)
      try {
        val e = ndb.nodes(nid)
        val sub = ndb.subnodes(e.bidSub)
        val resolve = (vnid: Long) => sub.get(vnid).map { case (bd, _) => ndb.data(bd) }
        val (s, f, b, a) = readMessage(new Heap(ndb.dataBlocks(e.bidData)), resolve, sub, 0)
        messages += Message(nid, parent, path, s, f, b, a, recovered = rec)
      } catch {
        case pf: ParseFailure => failures += MessageFailure(nid, parent, path, rec, pf.getMessage)
      }
    }
    PstFile(folders, messages.result(), failures.result())
  }

  // ---------------------------------------------------------------- writer

  /** Writer input: one message, optionally unlinked (present in the node
    * B-tree but left out of its folder's contents table — the recovery
    * fixture) or corrupt (valid NDB block, garbage LTP payload — the
    * per-message isolation fixture).
    */
  final case class BuildMsg(subject: String, body: String, from: String = "",
                            atts: Seq[(String, Array[Byte])] = Nil,
                            attachedMsgs: Seq[BuildMsg] = Nil,
                            linked: Boolean = true, corrupt: Boolean = false,
                            rtfBody: Boolean = false,
                            // 4K-OST truncation fixtures: attachments whose
                            // data block claims zlib but cannot inflate —
                            // the reader must stub them with the reason
                            truncAtts: Seq[String] = Nil)
  /** `path` uses '/' separators; intermediate folders are created. */
  final case class BuildFolder(path: String, messages: Seq[BuildMsg] = Nil)

  private sealed trait Pv
  private final case class PvInline(ptype: Int, v: Long) extends Pv
  private final case class PvBytes(ptype: Int, bytes: Array[Byte]) extends Pv
  private final case class PvRef(ptype: Int, nid: Long) extends Pv // pre-written subnode

  /** Deterministic minimal PST: Unicode (wVer 23, default), ANSI
    * (wVer 15, `ansi = true` — 32-bit BIDs/IBs, 12-byte trailers, the
    * MS-PST parallel layouts), or 4K-page OST (wVer 36, `ost4k = true` —
    * 4096-byte pages with u16 entry counts, plus per-leaf zlib internal
    * compression: alternate end-user leaves deflate, so every file
    * exercises the MIXED raw/zlib layout java-libpst mishandles and the
    * reference's OST recovery reader exists for). `crypt` 0 (none) or 1
    * (§5.1 permute: leaf data blocks substituted on disk AFTER
    * compression, trailer CRCs over the encoded bytes — the
    * decode-then-inflate order the reference recovery uses). The axes
    * compose (except ansi+ost4k, which no real file pairs).
    */
  def build(folders: Seq[BuildFolder], crypt: Int = 0, ansi: Boolean = false,
            ost4k: Boolean = false): Array[Byte] = {
    require(crypt == 0 || crypt == 1, s"writer supports crypt none/permute, not $crypt")
    require(!(ansi && ost4k), "ANSI and 4K-page layouts never pair")
    val fmt = if (ost4k) Ost4kFmt else if (ansi) AnsiFmt else UniFmt
    val blocks = ArrayBuffer.empty[(Long, Array[Byte])]
    var nextBid = 4L
    var leafOrd = 0
    def allocBid(internal: Boolean): Long = {
      val b = nextBid | (if (internal) 2L else 0L); nextBid += 4; b
    }
    def writeLeaf(data: Array[Byte], noCompress: Boolean = false): Long = {
      require(data.length <= fmt.maxBlockData, s"leaf block ${data.length} > ${fmt.maxBlockData}")
      // 4K internal compression, deterministic MIXED pattern (alternate
      // leaves). A raw-stored leaf must never sniff as zlib — when the
      // payload happens to carry a valid zlib header it is ALWAYS
      // deflated so the reader's sniff stays truthful. noCompress is the
      // truncation fixture's escape hatch (stores the lying header as-is).
      val stored =
        if (!fmt.ost4k || noCompress) data
        else if (looksZlib(data)) deflate(data)
        else if (leafOrd % 2 == 0) {
          val d = deflate(data)
          if (d.length < data.length) d else data
        } else data
      require(stored.length <= fmt.maxBlockData, "deflated leaf exceeds block capacity")
      leafOrd += 1
      val b = allocBid(internal = false); blocks += ((b, stored)); b
    }
    def writeData(data: Array[Byte]): Long =
      if (data.length <= fmt.maxBlockData) writeLeaf(data)
      else {
        val chunks = data.grouped(fmt.maxBlockData).toVector
        require(chunks.length <= 1021, "data tree larger than one XBLOCK (unsupported by writer)")
        val kids = chunks.map(writeLeaf(_))
        val xb = new Array[Byte](8 + fmt.xKidLen * kids.length)
        xb(0) = 0x01; xb(1) = 0x01
        putU16(xb, 2, kids.length); putU32(xb, 4, data.length.toLong)
        kids.zipWithIndex.foreach { case (k, i) =>
          if (ansi) putU32(xb, 8 + 4 * i, k) else putU64(xb, 8 + 8 * i, k)
        }
        val b = allocBid(internal = true); blocks += ((b, xb)); b
      }
    def writeSub(entries: Seq[(Long, Long, Long)]): Long =
      if (entries.isEmpty) 0L
      else {
        require(entries.length <= 340, "subnode tree larger than one SLBLOCK")
        val sl = new Array[Byte](fmt.slEntryOff + fmt.slEntLen * entries.length)
        sl(0) = 0x02; sl(1) = 0x00
        putU16(sl, 2, entries.length)
        entries.sortBy(_._1).zipWithIndex.foreach { case ((nid, bd, bs), i) =>
          val o = fmt.slEntryOff + fmt.slEntLen * i
          if (ansi) { putU32(sl, o, nid); putU32(sl, o + 4, bd); putU32(sl, o + 8, bs) }
          else { putU64(sl, o, nid); putU64(sl, o + 8, bd); putU64(sl, o + 16, bs) }
        }
        val b = allocBid(internal = true); blocks += ((b, sl)); b
      }

    // heap assembly: allocations -> one leaf block with HNHDR + page map
    def writeHeap(clientSig: Int, allocs: Seq[Array[Byte]]): Long = {
      val content = 12 + allocs.iterator.map(_.length).sum
      val pmSize = 4 + 2 * (allocs.length + 1)
      require(content + pmSize <= fmt.maxBlockData, "heap larger than one block (push values to subnodes)")
      val b = new Array[Byte](content + pmSize)
      putU16(b, 0, content) // ibHnpm
      b(2) = 0xEC.toByte; b(3) = clientSig.toByte
      putU32(b, 4, 0x20L) // hidUserRoot = first allocation
      var o = 12
      val offs = ArrayBuffer[Int](12)
      allocs.foreach { a => System.arraycopy(a, 0, b, o, a.length); o += a.length; offs += o }
      putU16(b, content, allocs.length); putU16(b, content + 2, 0)
      offs.zipWithIndex.foreach { case (off, i) => putU16(b, content + 4 + 2 * i, off) }
      writeLeaf(b)
    }

    def bthHeader(cbKey: Int, cbEnt: Int, rootHid: Int): Array[Byte] = {
      val h = new Array[Byte](8)
      h(0) = 0xB5.toByte; h(1) = cbKey.toByte; h(2) = cbEnt.toByte; h(3) = 0
      putU32(h, 4, rootHid.toLong); h
    }

    /** PC node data: BTH-header alloc (hid 0x20 = user root), record-array
      * alloc (hid 0x40), then heap value allocs; values > 3 KiB go to the
      * caller's subnode buffer as LTP-typed nids.
      */
    def buildPcBlock(props: Seq[(Int, Pv)],
                     subEntries: ArrayBuffer[(Long, Long, Long)],
                     nextLtp: () => Long): Long = {
      val values = ArrayBuffer.empty[Array[Byte]]
      val resolved = props.sortBy(_._1).map {
        case (pid, PvInline(t, v)) => (pid, t, v)
        case (pid, PvRef(t, nid)) => (pid, t, nid)
        case (pid, PvBytes(t, bytes)) =>
          // small values stay in the heap; the threshold keeps a PC with
          // several values inside one 8176-byte block, larger values ride
          // subnodes exactly as real Outlook stores long bodies
          if (bytes.length <= 1024) {
            values += bytes
            (pid, t, ((values.length + 2).toLong << 5)) // hid: allocs 1,2 are BTH+records
          } else {
            val nid = nextLtp()
            subEntries += ((nid, writeData(bytes), 0L))
            (pid, t, nid)
          }
      }
      val recs = new Array[Byte](8 * resolved.length)
      resolved.zipWithIndex.foreach { case ((pid, t, v), i) =>
        putU16(recs, 8 * i, pid); putU16(recs, 8 * i + 2, t); putU32(recs, 8 * i + 4, v)
      }
      val rootHid = if (resolved.isEmpty) 0 else 0x40
      writeHeap(0xBC, bthHeader(2, 6, rootHid) +: recs +: values.toSeq)
    }

    /** TC node data: TCINFO (hid 0x20) with the single required LtpRowId
      * column, RowIndex BTH (header hid 0x40, records hid 0x60), row
      * matrix (hid 0x80).
      */
    def buildTcBlock(rowIds: Seq[Long]): Long = {
      val sorted = rowIds.sorted
      require(sorted.length <= 340, "contents table larger than one record array")
      val info = new Array[Byte](22 + 8)
      info(0) = 0x7C.toByte; info(1) = 1 // one column
      putU16(info, 2, 4); putU16(info, 4, 4); putU16(info, 6, 4); putU16(info, 8, 5) // rgib
      putU32(info, 10, 0x40L) // hidRowIndex
      putU32(info, 14, if (sorted.isEmpty) 0L else 0x80L) // hnidRows
      putU32(info, 18, 0L) // hidIndex (deprecated)
      putU32(info, 22, 0x67F20003L) // TCOLDESC tag: PidTagLtpRowId, PT_LONG
      putU16(info, 26, 0); info(28) = 4; info(29) = 0 // ibData, cbData, iBit
      val recs = new Array[Byte](8 * sorted.length)
      sorted.zipWithIndex.foreach { case (rid, i) =>
        putU32(recs, 8 * i, rid); putU32(recs, 8 * i + 4, i.toLong)
      }
      val rows = new Array[Byte](5 * sorted.length)
      sorted.zipWithIndex.foreach { case (rid, i) =>
        putU32(rows, 5 * i, rid); rows(5 * i + 4) = 0x80.toByte // CEB: column 0 present
      }
      val rootHid = if (sorted.isEmpty) 0 else 0x60
      writeHeap(0x7C, Seq(info, bthHeader(4, 4, rootHid), recs, rows))
    }

    def uni(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_16LE)

    val nodes = ArrayBuffer.empty[(Long, Long, Long, Long)] // nid, bidData, bidSub, nidParent
    var ltpCounter = 0x300L
    val nextLtp: () => Long = () => { ltpCounter += 1; (ltpCounter << 5) | 0x1fL }

    // message (recursive for attached messages): returns (bidData, bidSub)
    var attCounter = 0x400L
    def buildMessage(m: BuildMsg): (Long, Long) = {
      if (m.corrupt) {
        // structurally valid NDB block whose payload is NOT a heap: the
        // per-message isolation fixture (LTP parse fails, NDB never does)
        return (writeLeaf(Array.fill[Byte](32)(0x5A)), 0L)
      }
      val subEntries = ArrayBuffer.empty[(Long, Long, Long)]
      val attNids = ArrayBuffer.empty[Long]
      m.atts.foreach { case (name, bytes) =>
        attCounter += 1
        val anid = (attCounter << 5) | TypeAttachment
        val attSub = ArrayBuffer.empty[(Long, Long, Long)]
        val pcBid = buildPcBlock(Seq(
          PidAttachMethod -> PvInline(PtLong, 1),
          PidAttachLongName -> PvBytes(PtUnicode, uni(name)),
          PidAttachData -> PvBytes(PtBinary, bytes)), attSub, nextLtp)
        subEntries += ((anid, pcBid, writeSub(attSub.toSeq)))
        attNids += anid
      }
      require(m.truncAtts.isEmpty || ost4k, "truncAtts is a 4K-OST fixture feature")
      m.truncAtts.foreach { name =>
        attCounter += 1
        val anid = (attCounter << 5) | TypeAttachment
        val dataNid = nextLtp()
        // a zlib header followed by a stream no inflater accepts (deflate
        // btype 11 is reserved): stored raw, so the reader's sniff sees a
        // compressed leaf that cannot inflate — the truncation class
        val garbage = Array[Byte](0x78, 0x9c.toByte) ++ Array.fill[Byte](2047)(0xff.toByte)
        val rawBid = writeLeaf(garbage, noCompress = true)
        val attSub = ArrayBuffer[(Long, Long, Long)]((dataNid, rawBid, 0L))
        val pcBid = buildPcBlock(Seq(
          PidAttachMethod -> PvInline(PtLong, 1),
          PidAttachLongName -> PvBytes(PtUnicode, uni(name)),
          PidAttachData -> PvRef(PtBinary, dataNid)), attSub, nextLtp)
        subEntries += ((anid, pcBid, writeSub(attSub.toSeq)))
        attNids += anid
      }
      m.attachedMsgs.foreach { sub =>
        attCounter += 1
        val anid = (attCounter << 5) | TypeAttachment
        attCounter += 1
        val mnid = (attCounter << 5) | TypeMessage
        val (mBid, mSub) = buildMessage(sub)
        val attSub = ArrayBuffer[(Long, Long, Long)]((mnid, mBid, mSub))
        // PtypObject spec shape (§2.3.3.5): a heap record {NID, ulSize}
        val objRec = new Array[Byte](8)
        putU32(objRec, 0, mnid); putU32(objRec, 4, 0L)
        val pcBid = buildPcBlock(Seq(
          PidAttachMethod -> PvInline(PtLong, 5),
          PidAttachLongName -> PvBytes(PtUnicode, uni(sub.subject)),
          PidAttachData -> PvBytes(PtObject, objRec)), attSub, nextLtp)
        subEntries += ((anid, pcBid, writeSub(attSub.toSeq)))
        attNids += anid
      }
      if (attNids.nonEmpty) // attachment table node, spec §2.4.6.2 shape
        subEntries += (((0x671L), buildTcBlock(attNids.toSeq), 0L))
      val msgSub = ArrayBuffer.empty[(Long, Long, Long)]
      val bodyProp =
        if (m.rtfBody) // RTF-only shape: no PR_BODY, MS-OXRTFCP stream instead
          PidRtfCompressed -> PvBytes(PtBinary, RtfComp.compress(Msg.rtfWrap(m.body)))
        else PidBody -> PvBytes(PtUnicode, uni(m.body))
      val pcBid = buildPcBlock(Seq(
        PidMessageClass -> PvBytes(PtUnicode, uni("IPM.Note")),
        PidSubject -> PvBytes(PtUnicode, uni(m.subject)),
        PidSenderName -> PvBytes(PtUnicode, uni(m.from)),
        bodyProp), msgSub, nextLtp)
      (pcBid, writeSub((subEntries ++ msgSub).toSeq))
    }

    // folder tree: create intermediates, parent-first, deterministic order
    val folderNidOf = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var folderCounter = 0x8000L
    def folderNid(path: String): Long = folderNidOf.get(path) match {
      case Some(n) => n
      case None =>
        // parents first, so LinkedHashMap iteration is parent-before-child
        if (path.contains('/')) folderNid(path.substring(0, path.lastIndexOf('/'))): Unit
        folderCounter += 1
        val n = (folderCounter << 5) | TypeFolder
        folderNidOf(path) = n
        n
    }
    folders.foreach(f => folderNid(f.path))
    val msgsByFolder = folders.groupBy(_.path).view.mapValues(_.flatMap(_.messages)).toMap

    // root folder (0x122): empty name, parent = itself
    val dummySub = ArrayBuffer.empty[(Long, Long, Long)]
    val rootPc = buildPcBlock(Seq(
      PidDisplayName -> PvBytes(PtUnicode, uni("")),
      PidContentCount -> PvInline(PtLong, 0)), dummySub, nextLtp)
    nodes += ((RootFolderNid, rootPc, 0L, RootFolderNid))
    nodes += (((RootFolderNid & ~0x1fL) | TypeContents, buildTcBlock(Nil), 0L, RootFolderNid))

    // message store node (0x21): present for spec shape
    val storePc = buildPcBlock(
      Seq(PidDisplayName -> PvBytes(PtUnicode, uni("Personal Folders"))), dummySub, nextLtp)
    nodes += ((0x21L, storePc, 0L, 0L))

    var msgCounter = 0x9000L
    folderNidOf.foreach { case (path, fnid) =>
      val parentNid =
        if (path.contains('/')) folderNidOf(path.substring(0, path.lastIndexOf('/')))
        else RootFolderNid
      val msgs = msgsByFolder.getOrElse(path, Nil)
      val linkedIds = ArrayBuffer.empty[Long]
      msgs.foreach { m =>
        msgCounter += 1
        val mnid = (msgCounter << 5) | TypeMessage
        val (bd, bs) = buildMessage(m)
        nodes += ((mnid, bd, bs, fnid))
        if (m.linked) linkedIds += mnid
      }
      val name = path.substring(path.lastIndexOf('/') + 1)
      val fpc = buildPcBlock(Seq(
        PidDisplayName -> PvBytes(PtUnicode, uni(name)),
        // declared count counts EVERY message, so unlinked ones reconcile
        // as declared-but-missing -> recovered
        PidContentCount -> PvInline(PtLong, msgs.length.toLong)), dummySub, nextLtp)
      nodes += ((fnid, fpc, 0L, parentNid))
      nodes += (((fnid & ~0x1fL) | TypeContents, buildTcBlock(linkedIds.toSeq), 0L, fnid))
    }

    // ---- layout: blocks (64-aligned), then B-tree pages (512-aligned)
    var cursor = 1024L
    val blockIb = blocks.map { case (bid, data) =>
      val ib = cursor
      cursor += ((data.length + fmt.blockTrailerLen + 63) / 64) * 64
      (bid, ib, data)
    }
    var pageCursor = ((cursor + fmt.pageSize - 1) / fmt.pageSize) * fmt.pageSize
    var nextPageBid = nextBid
    val pages = ArrayBuffer.empty[(Long, Array[Byte])] // ib -> page bytes

    def buildPage(entries: Seq[Array[Byte]], cbEnt: Int, cLevel: Int, ptype: Int): (Long, Long) = {
      val pg = new Array[Byte](fmt.pageSize)
      entries.zipWithIndex.foreach { case (e, i) =>
        System.arraycopy(e, 0, pg, i * cbEnt, e.length)
      }
      val m = fmt.pageMetaOff
      if (fmt.cEnt16) { // 4K pages: u16 counts, cbEnt/cLevel at +4/+5
        putU16(pg, m, entries.length)
        putU16(pg, m + 2, m / cbEnt)
        pg(m + 4) = cbEnt.toByte
        pg(m + 5) = cLevel.toByte
      } else {
        pg(m) = entries.length.toByte
        pg(m + 1) = (m / cbEnt).toByte
        pg(m + 2) = cbEnt.toByte
        pg(m + 3) = cLevel.toByte
      }
      val bid = nextPageBid; nextPageBid += 4
      val ib = pageCursor; pageCursor += fmt.pageSize
      val t = fmt.pageTrailerOff
      pg(t) = ptype.toByte; pg(t + 1) = ptype.toByte
      putU16(pg, t + 2, sig(ib, bid))
      if (ansi) {
        putU32(pg, t + 4, bid)
        putU32(pg, t + 8, crc(pg, 0, fmt.pageCrcLen))
      } else {
        putU32(pg, t + 4, crc(pg, 0, fmt.pageCrcLen))
        putU64(pg, t + 8, bid)
      }
      pages += ((ib, pg))
      (ib, bid)
    }

    /** Leaf-to-root page builder; returns the root BREF. */
    def buildBt(leaves: Seq[(Long, Array[Byte])], cbEntLeaf: Int, ptype: Int): (Long, Long) = {
      val maxLeaf = fmt.pageMetaOff / cbEntLeaf
      var level = 0
      var current: Seq[(Long, Long, Long)] = // (key, ib, bid)
        leaves.sortBy(_._1).grouped(maxLeaf).map { grp =>
          val (ib, bid) = buildPage(grp.map(_._2), cbEntLeaf, 0, ptype)
          (grp.head._1, ib, bid)
        }.toSeq
      while (current.length > 1) {
        level += 1
        current = current.grouped(fmt.pageMetaOff / fmt.btIndexEntLen).map { grp =>
          val entries = grp.map { case (key, ib, bid) =>
            val e = new Array[Byte](fmt.btIndexEntLen)
            if (ansi) { putU32(e, 0, key); putU32(e, 4, bid); putU32(e, 8, ib) }
            else { putU64(e, 0, key); putU64(e, 8, bid); putU64(e, 16, ib) }
            e
          }
          val (ib, bid) = buildPage(entries, fmt.btIndexEntLen, level, ptype)
          (grp.head._1, ib, bid)
        }.toSeq
      }
      (current.head._2, current.head._3)
    }

    val bbtLeaves = blockIb.map { case (bid, ib, data) =>
      val e = new Array[Byte](fmt.bbtEntLen)
      if (ansi) { putU32(e, 0, bid); putU32(e, 4, ib); putU16(e, 8, data.length); putU16(e, 10, 2) }
      else { putU64(e, 0, bid); putU64(e, 8, ib); putU16(e, 16, data.length); putU16(e, 18, 2) }
      (bid, e)
    }.toSeq
    val nbtLeaves = nodes.sortBy(_._1).map { case (nid, bd, bs, parent) =>
      val e = new Array[Byte](fmt.nbtEntLen)
      if (ansi) { putU32(e, 0, nid); putU32(e, 4, bd); putU32(e, 8, bs); putU32(e, 12, parent) }
      else { putU64(e, 0, nid); putU64(e, 8, bd); putU64(e, 16, bs); putU32(e, 24, parent) }
      (nid, e)
    }.toSeq
    val (ibBbtRoot, bidBbtRoot) = buildBt(bbtLeaves, fmt.bbtEntLen, 0x80)
    val (ibNbtRoot, bidNbtRoot) = buildBt(nbtLeaves, fmt.nbtEntLen, 0x81)

    // ---- assemble
    val fileLen = pageCursor
    val out = new Array[Byte](fileLen.toInt)
    blockIb.foreach { case (bid, ib, data) =>
      val total = ((data.length + fmt.blockTrailerLen + 63) / 64) * 64
      // crypt touches ONLY leaf data blocks (internal bid bit 2 clear);
      // the trailer CRC covers the encoded on-disk bytes
      val onDisk =
        if (crypt == 1 && (bid & 2) == 0) permuteEncode(data.clone()) else data
      System.arraycopy(onDisk, 0, out, ib.toInt, onDisk.length)
      val t = ib.toInt + total - fmt.blockTrailerLen
      putU16(out, t, onDisk.length)
      putU16(out, t + 2, sig(ib, bid))
      if (ansi) {
        putU32(out, t + 4, bid)
        putU32(out, t + 8, crc(onDisk, 0, onDisk.length))
      } else {
        putU32(out, t + 4, crc(onDisk, 0, onDisk.length))
        putU64(out, t + 8, bid)
      }
    }
    pages.foreach { case (ib, pg) => System.arraycopy(pg, 0, out, ib.toInt, fmt.pageSize) }

    // header (MS-PST §2.2.2.6: parallel Unicode/ANSI layouts)
    out(0) = '!'; out(1) = 'B'; out(2) = 'D'; out(3) = 'N'
    putU16(out, 8, 0x4d53) // "SM"
    putU16(out, 10, if (ansi) 15 else if (ost4k) 36 else 23)
    putU16(out, 12, 19) // wVerClient
    out(14) = 1; out(15) = 1 // bPlatformCreate/Access
    if (ansi) {
      putU32(out, 24, nextBid) // bidNextB
      putU32(out, 28, nextPageBid) // bidNextP
      putU32(out, 32, 1L) // dwUnique
      (0 until 32).foreach(i => putU32(out, 36 + 4 * i, 0x400L)) // rgnid
      putU32(out, 168, fileLen) // ROOT at 164: ibFileEof
      putU32(out, 184, bidNbtRoot); putU32(out, 188, ibNbtRoot) // NBT BREF
      putU32(out, 192, bidBbtRoot); putU32(out, 196, ibBbtRoot) // BBT BREF
      out(200) = 0 // fAMapValid
      java.util.Arrays.fill(out, 204, 460, 0xff.toByte) // rgbFM/rgbFP
      out(460) = 0x80.toByte // bSentinel
      out(461) = crypt.toByte // bCryptMethod
      putU32(out, 4, crc(out, 8, 471)) // dwCRCPartial (no dwCRCFull in ANSI)
    } else {
      putU64(out, 32, nextPageBid) // bidNextP
      putU32(out, 40, 1L) // dwUnique
      (0 until 32).foreach(i => putU32(out, 44 + 4 * i, 0x400L)) // rgnid
      putU64(out, 184, fileLen) // ibFileEof
      putU64(out, 216, bidNbtRoot); putU64(out, 224, ibNbtRoot) // NBT BREF
      putU64(out, 232, bidBbtRoot); putU64(out, 240, ibBbtRoot) // BBT BREF
      out(248) = 0 // fAMapValid: maps not written (legal; readers rebuild)
      java.util.Arrays.fill(out, 256, 512, 0xff.toByte) // rgbFM/rgbFP (deprecated fill)
      out(512) = 0x80.toByte // bSentinel
      out(513) = crypt.toByte // bCryptMethod
      putU64(out, 516, nextBid) // bidNextB
      putU32(out, 4, crc(out, 8, 471)) // dwCRCPartial
      putU32(out, 524, crc(out, 8, 516)) // dwCRCFull
    }
    out
  }
}
