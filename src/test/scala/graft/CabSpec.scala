package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.core.ParseFailure
import graft.sources.Cab

/** CAB cabinets: stored and MSZIP round-trips, cross-block history,
  * checksum verification, continuation/codec refusals, end-to-end
  * explosion through the container route.
  */
class CabSpec extends AnyFunSuite {

  test("stored and MSZIP cabinets both round-trip") {
    val files = Seq(
      ("setup/readme.txt", "cab readme text".getBytes(UTF_8)),
      ("setup/app.ini", "cab ini text".getBytes(UTF_8)))
    for (compress <- Seq(false, true)) {
      val cab = Cab.build(files, compress)
      assert(Cab.isCab(cab))
      assert(graft.sources.Ingest.sniffKind(cab, "setup.cab") === "cab")
      val es = Cab.entries(cab, Int.MaxValue)
      assert(es.map(_._1) === Vector("setup/readme.txt", "setup/app.ini"))
      assert(es.map(e => new String(e._2.get, UTF_8)) ===
        Vector("cab readme text", "cab ini text"))
    }
  }

  test("MSZIP history carries across 32 KiB blocks") {
    // a file far larger than one CFDATA block whose later blocks
    // back-reference earlier ones: wrong dictionary handling corrupts it
    val big = ("cab block history payload " * 5000).getBytes(UTF_8) // 130 KB
    val cab = Cab.build(Seq(("big.bin", big)), compress = true)
    val es = Cab.entries(cab, Int.MaxValue)
    assert(java.util.Arrays.equals(es.head._2.get, big))
  }

  test("block checksum mismatches classify") {
    val cab = Cab.build(Seq(("a.txt", ("payload " * 100).getBytes(UTF_8))), compress = true)
    // flip a payload byte near the end (inside CFDATA data, after the
    // checksummed header) — the declared csum must catch it
    val bad = cab.clone(); bad(bad.length - 3) = (bad(bad.length - 3) ^ 0x41).toByte
    intercept[ParseFailure] { Cab.entries(bad, Int.MaxValue) }
    // truncation classifies too
    intercept[ParseFailure] { Cab.entries(cab.take(cab.length - 6), Int.MaxValue) }
    // a 38-byte cabinet whose reserve flag points the reserve sizes past
    // its end: classified at the root, and nested it fails only itself
    val reserve = cab.take(38)
    reserve(8) = 38; reserve(9) = 0; reserve(10) = 0; reserve(11) = 0 // cbCabinet
    reserve(30) = 4 // flags: cfhdrRESERVE_PRESENT
    intercept[ParseFailure] { Cab.entries(reserve, Int.MaxValue) }
    BinarySweepSpec.assertFailsAlone("bad.cab", reserve)
  }

  test("LZX folders decode through the continuous-bitstream route") {
    // small file and a two-frame file (> 32 KiB output) both round-trip
    val big = ("lzx folder stream payload " * 2500).getBytes(UTF_8) // 65 KB
    for (files <- Seq(
      Seq(("t.txt", "lzx member text".getBytes(UTF_8))),
      Seq(("a.txt", "first member".getBytes(UTF_8)), ("big.bin", big)))) {
      val cab = Cab.buildLzx(files)
      assert(Cab.isCab(cab))
      val es = Cab.entries(cab, Int.MaxValue)
      assert(es.map(_._1) === files.map(_._1).toVector)
      files.zip(es).foreach { case ((_, want), (_, got)) =>
        assert(java.util.Arrays.equals(got.get, want))
      }
    }
  }

  test("unsupported codecs and cabinet-spanning files refuse per entry") {
    val cab = Cab.build(Seq(("q.txt", "quantum text".getBytes(UTF_8))), compress = false)
    // folder typeCompress lives 6 bytes into the CFFOLDER at offset 36
    val quantum = cab.clone(); quantum(36 + 6) = 2 // QUANTUM
    val qe = Cab.entries(quantum, Int.MaxValue)
    assert(qe === Vector(("q.txt", None)))
    // iFolder = 0xFFFE marks a file continued into the next cabinet
    val cont = cab.clone()
    val coffFiles = 36 + 8
    cont(coffFiles + 8) = 0xfe.toByte; cont(coffFiles + 9) = 0xff.toByte
    assert(Cab.entries(cont, Int.MaxValue) === Vector(("q.txt", None)))
    // declared-size guard refuses before decode
    assert(Cab.entries(cab, 4) === Vector(("q.txt", None)))
  }

  test("explodes through the container route, nested cab-in-zip recurses") {
    val cab = Cab.build(Seq(("t.txt", "cab body text".getBytes(UTF_8))), compress = true)
    val out = graft.core.route.Extract.explode(graft.core.DocIn(15L,
      Array(graft.core.SpanIn("cab", new String(cab, ISO_8859_1), "", 0))))
    assert(out.filter(_.level == 1).flatMap(_.spans).map(_.text) === Seq("cab body text"))
    val zip = graft.sources.Archive.zipBytes(Seq(("driver.cab", cab)))
    val out2 = graft.core.route.Extract.explode(graft.core.DocIn(16L,
      Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(out2.filter(_.level == 2).flatMap(_.spans).map(_.text) === Seq("cab body text"))
  }
}
