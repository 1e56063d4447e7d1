package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocIn, SpanIn}
import graft.core.route.Extract
import graft.sources.Rar

/** RAR 4.x / 5.x goldens: store-method round-trips through both block
  * chains, compressed-member refusal with sibling isolation, CRC
  * enforcement, and the container-machinery wiring.
  */
class RarSpec extends AnyFunSuite {

  private val files = Seq(
    ("a.txt", "alpha text".getBytes(UTF_8)),
    ("b/c.txt", "beta text".getBytes(UTF_8))) // nested path

  test("rar4 store round-trips; header and file CRCs enforced") {
    val rar = Rar.buildRar4(files.map { case (n, b) => (n, b) })
    assert(Rar.isRar4(rar) && !Rar.isRar5(rar))
    val es = Rar.entries(rar, 1 << 20)
    assert(es.map(_._1) == Vector("a.txt", "b/c.txt"))
    assert(es.forall(_._2.nonEmpty))
    assert(new String(es(0)._2.get, UTF_8) == "alpha text")
    // flip a payload byte: file CRC must catch it
    val broken = rar.clone()
    val at = rar.length - 12 // inside the last payload
    broken(at) = (broken(at) ^ 0x7).toByte
    intercept[graft.core.ParseFailure](Rar.entries(broken, 1 << 20))
  }

  test("rar5 store round-trips with vint framing, UTF-8 names, data CRCs") {
    // rar5 names are UTF-8 natively (4.x would need the unicode-flag path)
    val files5 = files.init :+ (("b/с.txt", "beta текст".getBytes(UTF_8)))
    val rar = Rar.buildRar5(files5)
    assert(Rar.isRar5(rar))
    val es = Rar.entries(rar, 1 << 20)
    assert(es.map(_._1) == Vector("a.txt", "b/с.txt"))
    assert(new String(es(1)._2.get, UTF_8) == "beta текст")
    val broken = rar.clone()
    broken(10) = (broken(10) ^ 0x1).toByte // corrupt the main header
    intercept[graft.core.ParseFailure](Rar.entries(broken, 1 << 20))
  }

  test("compressed members refuse; stored siblings and ordinals survive") {
    for (build <- Seq[(Seq[(String, Array[Byte])], Set[String]) => Array[Byte]](
        Rar.buildRar4, Rar.buildRar5)) {
      val rar = build(Seq(
        ("keep1.txt", "keep one".getBytes(UTF_8)),
        ("packed.bin", "zzz".getBytes(UTF_8)),
        ("keep2.txt", "keep two".getBytes(UTF_8))), Set("packed.bin"))
      val es = Rar.entries(rar, 1 << 20)
      assert(es.map(_._1) == Vector("keep1.txt", "packed.bin", "keep2.txt"))
      assert(es(0)._2.nonEmpty && es(1)._2.isEmpty && es(2)._2.nonEmpty)
    }
  }

  test("rar spans explode through the container machinery, both formats") {
    for (rar <- Seq(Rar.buildRar4(files), Rar.buildRar5(files))) {
      assert(graft.sources.Ingest.sniffKind(rar) == "rar")
      val d = DocIn(3L, Array(SpanIn("rar", new String(rar, ISO_8859_1), "", 0)))
      val out = Extract.explode(d)
      assert(out.length == 3) // root + 2 members
      assert(out.exists(o => o.level == 1 && o.spans.exists(_.text == "alpha text")))
    }
    // nested rar-in-zip recurses
    val zip = graft.sources.Archive.zipBytes(Seq(("inner.rar", Rar.buildRar4(files))))
    val out = Extract.explode(DocIn(4L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(out.exists(o => o.level == 2 && o.spans.exists(_.text == "alpha text")))
  }

  test("empty or truncated rars classify, never throw junk errors") {
    intercept[graft.core.ParseFailure](Rar.entries(
      Array[Byte](0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x00), 1 << 20))
    val rar = Rar.buildRar4(files)
    intercept[graft.core.ParseFailure](Rar.entries(rar.take(20), 1 << 20))
    // a rar5 service block whose data size is minus its own length: the
    // 10-byte vint EF FF..FF 01 sets the sign bit, so an unchecked walk
    // would step back onto this block forever
    val header = Array[Byte](3, 2, 0xef.toByte) ++ Array.fill(8)(0xff.toByte) :+ 1.toByte
    val framed = header.length.toByte +: header // type 3, data area, size -17
    val crc = new java.util.zip.CRC32(); crc.update(framed)
    val loop = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).array() ++ framed
    assert(loop.length == 17)
    val rar5 = Rar.buildRar5(files)
    intercept[graft.core.ParseFailure](Rar.entries(rar5.take(8) ++ loop ++ rar5.drop(8), 1 << 20))
  }
}
