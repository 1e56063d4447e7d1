package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.core.ParseFailure
import graft.core.compress.Lzx
import graft.sources.Chm

/** CHM container + LZX decode: uncompressed-block streams via the
  * writer, a composed verbatim block with literals AND a repeat-offset
  * match, geometry-lie refusals, end-to-end explosion.
  */
class ChmSpec extends AnyFunSuite {

  test("lzx: uncompressed-block segment round-trips") {
    val payload = ("chm uncompressed payload " * 10).getBytes(UTF_8)
    val seg = Lzx.encodeUncompressed(payload)
    val back = Lzx.decodeSegment(seg, 16, payload.length)
    assert(java.util.Arrays.equals(back, payload))
    // odd-length payload exercises the pad byte
    val odd = "odd".getBytes(UTF_8)
    assert(java.util.Arrays.equals(
      Lzx.decodeSegment(Lzx.encodeUncompressed(odd), 16, 3), odd))
  }

  test("lzx: word-align consumes a FULL pad word when already aligned") {
    // the uncompressed-block rule is 1-16 padding bits: a stream that is
    // word-aligned before the R0-R2 header still pads 16 bits. Writer and
    // reader must agree on both sides of the boundary.
    val raw = Array[Byte](7, 8, 9, 10)
    // aligned case: 16 bits consumed -> padToWord emits one pad word
    val bw1 = new Lzx.BitWriter()
    bw1.put(0xabcd, 16)
    bw1.padToWord()
    bw1.putRaw(raw)
    val d1 = bw1.result()
    assert(d1.length == 2 + 2 + 4) // data word + PAD WORD + raw
    val br1 = new Lzx.BitReader(d1, 0)
    assert(br1.bits(16) == 0xabcd)
    br1.alignToWord()
    assert(java.util.Arrays.equals(br1.readRawBytes(4), raw))
    // unaligned case: 12 bits consumed -> 4 pad bits, no extra word
    val bw2 = new Lzx.BitWriter()
    bw2.put(0xabc, 12)
    bw2.padToWord()
    bw2.putRaw(raw)
    val d2 = bw2.result()
    assert(d2.length == 2 + 4)
    val br2 = new Lzx.BitReader(d2, 0)
    assert(br2.bits(12) == 0xabc)
    br2.alignToWord()
    assert(java.util.Arrays.equals(br2.readRawBytes(4), raw))
    // aligned align at stream end with no pad word available: classifies
    val br3 = new Lzx.BitReader(Array[Byte](1, 2), 0)
    br3.bits(16)
    intercept[ParseFailure](br3.alignToWord())
  }

  test("lzx: hand-composed VERBATIM block decodes literals and an R0 match") {
    // main tree: 255 literals at length 8, literal 255 and match symbol 256
    // at length 9 — a complete canonical tree; length tree empty (header
    // lengths only); match uses lenHeader<7 so the length tree is unused.
    val mainLens = new Array[Int](256 + 8 * 32)
    (0 until 255).foreach(mainLens(_) = 8)
    mainLens(255) = 9
    mainLens(256) = 9
    // canonical codes: symbols 0..254 get 8-bit codes 0..254; the two
    // 9-bit codes are 510 and 511
    def mainCode(sym: Int): (Int, Int) =
      if (sym < 255) (sym, 8) else if (sym == 255) (510, 9) else (511, 9)

    val bw = new Lzx.BitWriter()
    bw.put(0, 1) // no intel translation
    bw.put(1, 3) // verbatim block
    val text = "ab".getBytes(UTF_8) // literals, then match copies "ab" via R0=... no: R0 match repeats at offset 1
    val outLen = 2 + 3 // 'a','b', then an R0(=1) match of length 3 -> "bbb"
    bw.put(outLen >> 8, 16); bw.put(outLen & 0xff, 8)
    // pretree for main part 1: emit 255 x len8 then 1 x len9.
    // prev=0 so len8 needs code v with (0-v+17)%17=8 -> v=9; len9 -> v=8.
    // pretree lengths: sym8:2, sym9:2, sym17:2, sym18:2 (complete: 4 x 2^-2)
    val preLens = new Array[Int](20)
    preLens(8) = 2; preLens(9) = 2; preLens(17) = 2; preLens(18) = 2
    // canonical 2-bit codes in symbol order: 8->0, 9->1, 17->2, 18->3
    def putPretree(): Unit = preLens.foreach(l => bw.put(l, 4))
    def pre(sym: Int): Unit = bw.put(Seq(8, 9, 17, 18).indexOf(sym), 2)
    putPretree()
    (0 until 255).foreach(_ => pre(9)) // 255 x length 8
    pre(8)                             // 1 x length 9
    // main part 2 (256 symbols): first is len 9 (match symbol 256), then
    // 255 zeros via run codes: 18(run 20+31=51)? emit: len9, then zeros.
    putPretree()
    pre(8) // symbol 256 -> length 9
    // 255 zeros: 4 x (18 run 51) + 1 x (18 run 51)... 5*51 = 255
    (0 until 5).foreach { _ => pre(18); bw.put(31, 5) } // run = 20 + 31 = 51
    // length tree: 249 zeros = 4 x 51 + 45 -> 18(51) x4, 18(45-20=25) x1
    putPretree()
    (0 until 4).foreach { _ => pre(18); bw.put(31, 5) }
    pre(18); bw.put(25, 5) // run 45
    // data: literals 'a','b', then match sym 256 with posSlot0 lenHeader3
    // -> s = (0<<3)|3 = 3?? sym = 256 + 3 -> wait sym 256 IS (posSlot 0,
    // lenHeader 0) -> length 2. We gave only symbol 256 a code, so use
    // lenHeader 0: match length 2 at offset R0=1 -> copies "bb".
    def put(sym: Int): Unit = { val (c, l) = mainCode(sym); bw.put(c, l) }
    put('a'.toInt); put('b'.toInt)
    put(256) // R0 match, length 2
    // one more literal to reach outLen=5: 'c'
    put('c'.toInt)
    val seg = bw.result()
    val out = Lzx.decodeSegment(seg, 16, 5)
    assert(new String(out, UTF_8) === "abbbc")
  }

  test("chm: section-0 and LZX-compressed files both explode") {
    val files = Seq(
      ("topic/intro.txt", "chm intro text".getBytes(UTF_8)),
      ("topic/deep.txt", "chm deep text".getBytes(UTF_8)))
    for (compress <- Seq(false, true)) {
      val chm = Chm.build(files, compress)
      assert(Chm.isChm(chm))
      assert(graft.sources.Ingest.sniffKind(chm, "help.chm") === "chm")
      val es = Chm.entries(chm, Int.MaxValue)
      assert(es.map(_._1).toSet === Set("topic/intro.txt", "topic/deep.txt"))
      assert(es.forall(_._2.isDefined))
      assert(es.map(e => new String(e._2.get, UTF_8)).toSet ===
        Set("chm intro text", "chm deep text"))
    }
  }

  test("chm: ITSF header fields sit at the published chmlib offsets") {
    // chmItsfHeader: dir_offset 0x48, dir_len 0x50, data_offset 0x58,
    // v3 header length 0x60 — a file written to any OTHER layout would
    // misparse in real readers even if our own round-trip passed
    val chm = Chm.build(Seq(("a.txt", "x".getBytes(UTF_8))))
    val bb = java.nio.ByteBuffer.wrap(chm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(8) == 0x60) // header length
    val dirOff = bb.getLong(0x48)
    val dirLen = bb.getLong(0x50)
    assert(dirOff == 0x60)
    assert(new String(chm, dirOff.toInt, 4, UTF_8) == "ITSP")
    assert(bb.getLong(0x58) == dirOff + dirLen) // v3 ContentOffset (no gap)
  }

  test("chm: v3 ContentOffset is honoured when content is NOT after the directory") {
    // a 64-byte gap between the directory and content section 0: readers
    // assuming adjacency (dirOff + dirLen) mis-slice every entry
    for (compress <- Seq(false, true)) {
      val chm = Chm.build(Seq(("gap.txt", "survives the gap".getBytes(UTF_8))),
        compress, contentGap = 64)
      val es = Chm.entries(chm, Int.MaxValue)
      assert(es.map(e => new String(e._2.get, UTF_8)) === Vector("survives the gap"))
    }
  }

  test("chm: multi-frame compressed content crosses reset segments") {
    // > 0x8000 bytes forces two reset segments through the reset table
    val big = ("0123456789abcdef" * 3000).getBytes(UTF_8) // 48000 bytes
    val chm = Chm.build(Seq(("big.txt", big)), compress = true)
    val es = Chm.entries(chm, Int.MaxValue)
    assert(java.util.Arrays.equals(es.head._2.get, big))
  }

  test("chm: geometry lies classify") {
    val chm = Chm.build(Seq(("a.txt", "x".getBytes(UTF_8))), compress = true)
    // corrupt the LZXC signature
    val pos = indexOfSlice(chm, "LZXC".getBytes(ISO_8859_1))
    val bad = chm.clone(); bad(pos) = 'Q'
    intercept[ParseFailure] { Chm.entries(bad, Int.MaxValue) }
    // truncate mid-content
    intercept[ParseFailure] { Chm.entries(chm.take(chm.length - 4), Int.MaxValue) }
    // a directory header length past 2^31 (byte 107, its top byte) puts
    // the first listing chunk at a negative offset: classified at the
    // root, and nested it fails only itself
    val far = Chm.build(Seq(("a.txt", "x".getBytes(UTF_8)))); far(107) = 0xff.toByte
    intercept[ParseFailure] { Chm.entries(far, Int.MaxValue) }
    BinarySweepSpec.assertFailsAlone("bad.chm", far)
  }

  test("explodes through the container route, nested chm-in-zip recurses") {
    val chm = Chm.build(Seq(("t.txt", "chm body text".getBytes(UTF_8))), compress = true)
    val out = graft.core.route.Extract.explode(graft.core.DocIn(13L,
      Array(graft.core.SpanIn("chm", new String(chm, ISO_8859_1), "", 0))))
    assert(out.filter(_.level == 1).flatMap(_.spans).map(_.text) === Seq("chm body text"))
    val zip = graft.sources.Archive.zipBytes(Seq(("help.chm", chm)))
    val out2 = graft.core.route.Extract.explode(graft.core.DocIn(14L,
      Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(out2.filter(_.level == 2).flatMap(_.spans).map(_.text) === Seq("chm body text"))
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int =
    hay.indices.find(i => i + needle.length <= hay.length &&
      needle.indices.forall(j => hay(i + j) == needle(j))).get
}
