package graft.core.office

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Bin, ParseFailure}

/** Package-private surfaces of the 4K-OST internal-compression path:
  * the zlib stall states of the capped inflate ([[Bin.inflate]], which
  * every leaf goes through) that must CLASSIFY (a preset-dictionary
  * demand would otherwise spin inflate() forever on a crafted leaf), and
  * the sniff arithmetic.
  */
class OstCryptSpec extends AnyFunSuite {

  test("inflateCapped: FDICT zlib header classifies instead of hanging") {
    // CM=8, FDICT bit set, (CMF<<8|FLG) % 31 == 0: 0x78 0x20
    assert((0x7820 % 31) == 0)
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5) // dict id + "data"
    assert(Pst.looksZlib(fdict))
    val e = intercept[ParseFailure](Bin.inflate(fdict, nowrap = false, 1 << 20))
    assert(e.getMessage.contains("preset dictionary"))
    // truncated-but-valid-header stream still classifies as truncated
    val trunc = Array[Byte](0x78, 0x9c.toByte, 0x01) // header + 1 byte
    intercept[ParseFailure](Bin.inflate(trunc, nowrap = false, 1 << 20))
    // and a real stream still round-trips under the cap
    val data = Array.tabulate[Byte](5000)(i => (i % 97).toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    assert(java.util.Arrays.equals(Bin.inflate(out.toByteArray, nowrap = false, 1 << 20), data))
    intercept[ParseFailure](Bin.inflate(out.toByteArray, nowrap = false, 100)) // cap
  }
}
