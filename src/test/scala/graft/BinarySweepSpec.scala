package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.util.control.NonFatal
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocIn, DocOut, Reason, SpanIn}
import graft.core.office.{Cfb, Hwp, Lnk, OneNote, Pub, Wpd}
import graft.core.route.Extract
import graft.sources.{Archive, Cab, Chm, Iso, Rar}

/** A deterministic mutation sweep over the in-repo writer of every binary
  * format: each well-formed file, cut short at up to 400 evenly spaced
  * lengths and with each of its first 600 bytes overwritten by 0x00, 0x7f
  * and 0xff, rides as a zip entry next to a readable sibling. Nothing may
  * escape the explode route, and the sibling must be emitted: one
  * malformed entry fails only itself. A mutant, unlike the junk of
  * [[BinaryFuzzProps]], is well formed up to the field it breaks, so the
  * reads behind that field run.
  */
class BinarySweepSpec extends AnyFunSuite {
  import BinarySweepSpec._

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private val pair = Seq(("a.txt", b("alpha entry text")), ("dir/b.txt", b("beta entry text")))

  private val seeds: Seq[(String, Array[Byte])] = Seq(
    "x.cab" -> Cab.build(pair),
    "x.chm" -> Chm.build(pair),
    "x4.rar" -> Rar.buildRar4(pair),
    "x5.rar" -> Rar.buildRar5(pair),
    "x.iso" -> Iso.build(pair),
    "x.cfb" -> Cfb.build(pair),
    "x.lnk" -> Lnk.build("C:\\dir\\target.txt", name = "shortcut", relativePath = "..\\target.txt",
      workingDir = "C:\\dir", arguments = "/open", fileSize = 42),
    "x.wpd" -> Wpd.build(Seq("first line", "second line"), extChar = Some('e')),
    "x.dbf" -> graft.core.db.Dbf.build(Seq("NAME", "QTY"), Seq(Seq("apple", "1"), Seq("pear", "2"))),
    "x.hwp" -> Hwp.build(Seq("hwp paragraph one", "paragraph two")),
    "x.one" -> OneNote.build(Seq("onenote paragraph"), Seq(b("embedded file blob"))),
    "x.pub" -> Pub.build(Seq("publisher story", "second frame")))

  /** Up to 400 evenly spaced truncations, then every byte of the first
    * 600 overwritten with 0x00, 0x7f and 0xff (where that changes it).
    */
  private def mutants(seed: Array[Byte]): Iterator[Array[Byte]] = {
    val cuts = math.min(400, seed.length)
    val truncated = (0 until cuts).iterator.map(k => seed.take((k.toLong * seed.length / cuts).toInt))
    val overwritten = for {
      i <- (0 until math.min(600, seed.length)).iterator
      v <- Iterator(0x00, 0x7f, 0xff).map(_.toByte)
      if seed(i) != v
    } yield { val m = seed.clone(); m(i) = v; m }
    truncated ++ overwritten
  }

  seeds.foreach { case (name, seed) =>
    test(s"mutation sweep: every mutant of $name fails only itself beside a sibling") {
      assert(siblingLost(name, seed).isEmpty, "the unmutated seed")
      var n = 0
      val lost = mutants(seed).zipWithIndex.flatMap { case (m, k) =>
        n += 1
        siblingLost(name, m).map(why => s"mutant $k (${m.length} bytes): $why")
      }.toVector
      info(s"$n mutants of a ${seed.length}-byte seed")
      assert(lost.isEmpty, s"${lost.size} escapes, first: ${lost.take(3).mkString("; ")}")
    }
  }
}

object BinarySweepSpec extends Assertions {
  val SiblingText = "the readable sibling"

  /** `bytes` as the zip entry `name`, next to `sibling.txt`, exploded. */
  def beside(name: String, bytes: Array[Byte]): Seq[DocOut] = {
    val zip = Archive.zipBytes(Seq((name, bytes), ("sibling.txt", SiblingText.getBytes(UTF_8))))
    Extract.explodeCounted(DocIn(1L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))._1
  }

  /** None when the explode route returns and emits the sibling; else why not. */
  def siblingLost(name: String, bytes: Array[Byte]): Option[String] =
    try {
      if (beside(name, bytes).exists(d => d.level == 1 && d.spans.exists(_.text == SiblingText))) None
      else Some("sibling not emitted")
    } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }

  /** Nested beside the sibling, `bad` explodes to the sibling plus one
    * content-less parse-failure child.
    */
  def assertFailsAlone(name: String, bad: Array[Byte]): Unit = {
    val kids = beside(name, bad).filter(_.level == 1)
      .map(k => (k.no_content_reason, k.spans.map(_.text).mkString))
    assert(kids.sorted == Seq(("", SiblingText), (Reason.ParseFailed, "")).sorted)
  }
}
