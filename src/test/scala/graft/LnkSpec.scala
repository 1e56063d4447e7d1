package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.core.ParseFailure
import graft.core.office.Lnk

/** MS-SHLLINK shortcuts: target path from LinkInfo, unicode string data,
  * offset-lie refusals.
  */
class LnkSpec extends AnyFunSuite {

  test("full field set round-trips; absent fields stay silent") {
    val b = Lnk.build("C:\\data\\report.pdf", name = "Quarterly Report",
      relativePath = "..\\report.pdf", workingDir = "C:\\data",
      arguments = "/open", fileSize = 4242)
    assert(Lnk.isLnk(b))
    assert(Lnk.text(b) ===
      "target: C:\\data\\report.pdf\nname: Quarterly Report\n" +
        "relative: ..\\report.pdf\nworkdir: C:\\data\nargs: /open\nsize: 4242")
    val minimal = Lnk.build("D:\\x.txt")
    assert(Lnk.text(minimal) === "target: D:\\x.txt")
  }

  test("unicode string data decodes beyond ASCII") {
    val b = Lnk.build("C:\\t.doc", name = "résumé ünïcode")
    assert(Lnk.parse(b).name === "résumé ünïcode")
  }

  test("offset lies and truncations classify, never crash") {
    val b = Lnk.build("C:\\a.txt", name = "n")
    // LinkInfo size lie
    val lie = b.clone(); lie(76) = 0x02 // liSize below the 0x1c floor
    intercept[ParseFailure] { Lnk.parse(lie) }
    // unterminated base path: kill the NUL
    val b2 = Lnk.build("C:\\b.txt")
    val nul = b2.indexOfSlice("C:\\b.txt".getBytes(ISO_8859_1)) + 8
    val noNul = b2.take(nul) // cut the file at the terminator
    intercept[ParseFailure] { Lnk.parse(noNul) }
    // string data declaring more chars than remain
    val b3 = Lnk.build("C:\\c.txt", name = "name").dropRight(4)
    intercept[ParseFailure] { Lnk.parse(b3) }
    // a LocalBasePathOffset past 2^31 (byte 95, its top byte) points the
    // base path before the file: classified at the root, and nested it
    // fails only itself
    val far = Lnk.build("C:\\d.txt"); far(95) = 0xff.toByte
    intercept[ParseFailure] { Lnk.parse(far) }
    BinarySweepSpec.assertFailsAlone("bad.lnk", far)
  }

  test("sniffs and routes; nested lnk-in-zip extracts as metadata text") {
    val b = Lnk.build("C:\\evidence\\mail.pst", fileSize = 9)
    assert(graft.sources.Ingest.sniffKind(b, "recent.lnk") === "lnk")
    val zip = graft.sources.Archive.zipBytes(Seq(("r.lnk", b)))
    val out = graft.core.route.Extract.explode(graft.core.DocIn(11L,
      Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(out.filter(_.level == 1).flatMap(_.spans).map(_.text) ===
      Seq("target: C:\\evidence\\mail.pst\nsize: 9"))
  }
}
