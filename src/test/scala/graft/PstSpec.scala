package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ParseFailure
import graft.core.office.{Msg, Pst}

/** MS-PST reader/writer: round-trips over every layer (NDB B-trees and
  * data/subnode trees, heap-on-node, BTH, PC, TC row index), the
  * resilience semantics the reference's ResilientOutlookPSTParser is known
  * for (per-message isolation, `[recovered]` for unlinked descriptors,
  * declared-count reconciliation), and an NDB structural validation
  * against a REAL Outlook-written fixture when present.
  */
class PstSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private val Cap = 16 << 20

  test("build/parse round-trips folders, messages, attachments") {
    val pst = Pst.build(Seq(
      Pst.BuildFolder("inbox", Seq(
        Pst.BuildMsg("hello", "body one", from = "alice"),
        Pst.BuildMsg("with att", "body two",
          atts = Seq(("a.txt", b("attachment payload")))))),
      Pst.BuildFolder("inbox/sub", Seq(
        Pst.BuildMsg("deep", "body three"))),
      Pst.BuildFolder("empty")))
    assert(Pst.isPst(pst))
    val f = Pst.parse(pst, Cap)
    assert(f.failures.isEmpty)
    val paths = f.folders.map(_.path).toSet
    assert(Set("", "inbox", "inbox/sub", "empty").subsetOf(paths))
    val byPath = f.messages.groupBy(_.folderPath)
    assert(byPath("inbox").map(_.subject).sorted == Vector("hello", "with att"))
    assert(byPath("inbox/sub").head.body == "body three")
    assert(byPath("inbox").find(_.subject == "hello").get.from == "alice")
    val att = byPath("inbox").find(_.subject == "with att").get.attachments
    assert(att.size == 1)
    val Msg.FileAtt(name, bytes) = att.head: @unchecked
    assert(name == "a.txt" && bytes.sameElements(b("attachment payload")))
    assert(f.messages.forall(!_.recovered))
    // declared counts reconcile: every folder declares its message count
    assert(f.folders.find(_.path == "inbox").get.declaredCount == 2)
    assert(f.folders.find(_.path == "empty").get.declaredCount == 0)
  }

  test("an RTF-only message body decompresses via PR_RTF_COMPRESSED") {
    val body = "rich pst line one\nrich pst line two"
    val pst = Pst.build(Seq(Pst.BuildFolder("inbox", Seq(
      Pst.BuildMsg("rich", body, from = "alice", rtfBody = true)))))
    val f = Pst.parse(pst, Cap)
    assert(f.failures.isEmpty)
    assert(f.messages.head.body == body)
  }

  test("attached message (msg-in-pst) recurses; deep chains stay bounded") {
    val nested = Pst.BuildMsg("inner", "inner body",
      atts = Seq(("n.txt", b("nested att"))))
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(
      Pst.BuildMsg("outer", "outer body", attachedMsgs = Seq(nested))))))
    val m = Pst.parse(pst, Cap).messages.head
    assert(m.subject == "outer")
    val Msg.MsgAtt(sub) = m.attachments.head: @unchecked
    assert(sub.subject == "inner" && sub.body == "inner body")
    val Msg.FileAtt(n2, b2) = sub.attachments.head: @unchecked
    assert(n2 == "n.txt" && b2.sameElements(b("nested att")))
  }

  test("unlinked messages are recovered; corrupt messages isolate as failures") {
    val pst = Pst.build(Seq(Pst.BuildFolder("box", Seq(
      Pst.BuildMsg("ok", "fine"),
      Pst.BuildMsg("lost", "orphan body", linked = false),
      Pst.BuildMsg("broken", "never seen", corrupt = true)))))
    val f = Pst.parse(pst, Cap)
    val ok = f.messages.find(_.subject == "ok").get
    assert(!ok.recovered && ok.folderPath == "box")
    val lost = f.messages.find(_.subject == "lost").get
    assert(lost.recovered && lost.folderPath == "[recovered]")
    // the corrupt message fails ALONE; reconciliation sees declared 3,
    // extracted 2 (one of them recovered), failed 1
    assert(f.failures.size == 1)
    assert(f.folders.find(_.path == "box").get.declaredCount == 3)
    assert(f.messages.size == 2)
  }

  test("large bodies ride subnodes and XBLOCK chains byte-identically") {
    val big = ("lorem " * 4000).trim // ~24 KB >> one 8176-byte block
    val bigAtt = Array.tabulate[Byte](20000)(i => (i % 251).toByte)
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(
      Pst.BuildMsg("big", big, atts = Seq(("blob.bin", bigAtt)))))))
    val m = Pst.parse(pst, Cap).messages.head
    assert(m.body == big)
    val Msg.FileAtt(_, got) = m.attachments.head: @unchecked
    assert(got.sameElements(bigAtt))
  }

  test("determinism: same input gives byte-identical files") {
    val in = Seq(Pst.BuildFolder("a/b", Seq(Pst.BuildMsg("s", "b"))))
    assert(Pst.build(in).sameElements(Pst.build(in)))
  }

  test("malformed input throws ParseFailure, never anything else") {
    intercept[ParseFailure](Pst.parse("!BDN".getBytes ++ new Array[Byte](600), Cap))
    val good = Pst.build(Seq(Pst.BuildFolder("f", Seq(Pst.BuildMsg("s", "b")))))
    // flip a byte inside the last B-tree page (every written page belongs
    // to the NBT/BBT, so the walk must hit its CRC mismatch)
    val c1 = good.clone()
    val o = c1.length - 512 + 100
    c1(o) = (c1(o) ^ 0x41).toByte
    intercept[ParseFailure](Pst.parse(c1, Cap))
    // WIP version refused with a precise reason (version outranks the
    // CRC complaint: the file never claimed a parsable layout)
    val c2 = good.clone(); c2(10) = 37; c2(11) = 0
    val e = intercept[ParseFailure](Pst.parse(c2, Cap))
    assert(e.getMessage.contains("wVer 37"))
    // wVer 36 (4K OST) now ENGAGES: a Unicode file re-stamped 36 without
    // re-CRCing fails the header checksum, not the version gate
    val c3 = good.clone(); c3(10) = 36; c3(11) = 0
    val e2 = intercept[ParseFailure](Pst.parse(c3, Cap))
    assert(e2.getMessage.contains("CRC"))
    // truncation
    intercept[ParseFailure](Pst.parse(good.take(good.length / 2), Cap))
  }

  test("size cap refuses oversized declared data before materializing") {
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(
      Pst.BuildMsg("s", "x" * 50000)))))
    val f = Pst.parse(pst, 4096) // cap below the body size
    // the oversized message isolates as a failure, not a file failure
    assert(f.failures.size == 1 && f.failures.head.error.contains("cap"))
  }

  test("a pst span explodes: folder tree, messages, recovery, failures") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val pst = Pst.build(Seq(
      Pst.BuildFolder("box", Seq(
        Pst.BuildMsg("m one", "body one"),
        Pst.BuildMsg("lost", "orphan", linked = false))),
      Pst.BuildFolder("box/deep", Seq(
        Pst.BuildMsg("deep msg", "deep body",
          atts = Seq(("d.txt", b("deep att")))))),
      Pst.BuildFolder("crash", Seq(Pst.BuildMsg("broken", "x", corrupt = true)))))
    assert(graft.sources.Ingest.sniffKind(pst) == "pst")
    val d = DocIn(7L, Array(SpanIn("pst", new String(pst, ISO_8859_1), "", 0)))
    val nodes = Extract.explode(d)
    val byLevel = nodes.groupBy(_.level)
    // root + level-1 folders (box, crash, [recovered])
    assert(byLevel(0).size == 1)
    val root = byLevel(0).head
    assert(root.no_content_reason == "empty-file") // pure container
    val l1 = byLevel(1).map(_.doc_id).toSet
    assert(l1.size == 3)
    // level 2: deep folder + m one + broken(failure) + lost(recovered)
    val l2 = byLevel(2)
    assert(l2.size == 4)
    assert(l2.count(_.no_content_reason == "parse-failure") == 1)
    assert(l2.exists(_.spans.exists(_.text == "body one")))
    assert(l2.exists(_.spans.exists(_.text == "orphan")))
    // level 3: deep msg; level 4: its attachment
    assert(byLevel(3).exists(_.spans.exists(_.text == "deep body")))
    assert(byLevel(4).exists(_.spans.exists(_.text == "deep att")))
  }

  test("a pst span and a later container span number the root's children 0..n-1") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, Ids, SpanIn}
    import graft.core.route.Extract
    // root children: folder "f" and the [recovered] node (pst), then the
    // zip's two entries, one ordinal run across both spans
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(
      Pst.BuildMsg("kept", "kept body"), Pst.BuildMsg("lost", "orphan", linked = false)))))
    val zip = graft.sources.Archive.zipBytes(Seq(("a.txt", b("alpha")), ("b.txt", b("beta"))))
    val d = DocIn(12L, Array(SpanIn("pst", new String(pst, ISO_8859_1), "", 0),
      SpanIn("zip", new String(zip, ISO_8859_1), "", 1)))
    val nodes = Extract.explode(d)
    val rid = Ids.rootId(12L)
    assert(nodes.filter(_.level == 1).map(_.doc_id).sorted == Seq(
      Ids.embedId("f", rid, 0, resourceName = "f"),
      Ids.embedId("[recovered]", rid, 1, resourceName = "[recovered]"),
      Ids.embedId("alpha", rid, 2, resourceName = "a.txt"),
      Ids.embedId("beta", rid, 3, resourceName = "b.txt")).sorted)
    assert(nodes.map(_.doc_id).distinct.size == nodes.size)
  }

  test("a pst nested in a zip explodes as a container child; junk pst isolates") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(Pst.BuildMsg("s", "inner body")))))
    val zip = graft.sources.Archive.zipBytes(Seq(("mail.pst", pst)))
    val d = DocIn(9L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0)))
    val nodes = Extract.explode(d)
    assert(nodes.exists(n => n.level == 3 && n.spans.exists(_.text == "inner body")))
    // a truncated pst entry becomes a parse-failure child, parent survives
    val zip2 = graft.sources.Archive.zipBytes(Seq(("bad.pst", pst.take(800))))
    val d2 = DocIn(10L, Array(SpanIn("zip", new String(zip2, ISO_8859_1), "", 0)))
    val nodes2 = Extract.explode(d2)
    assert(nodes2.exists(n => n.level == 1 && n.no_content_reason == "parse-failure"))
  }

  test("a corrupt cfb attachment inside a pst isolates — no duplicate nodes") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    // CFB magic + junk: Cfb.streamEntries throws ParseFailure when the
    // attachment spawns; the failure must become a child row, the pst
    // tree must stay intact, and no doc_id may appear twice
    val badCfb = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte) ++
      Array.fill[Byte](64)(0x33)
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(
      Pst.BuildMsg("carrier", "carrier body", atts = Seq(("evil.doc", badCfb)))))))
    val d = DocIn(11L, Array(SpanIn("pst", new String(pst, ISO_8859_1), "", 0)))
    val nodes = Extract.explode(d)
    assert(nodes.map(_.doc_id).distinct.size == nodes.size) // no duplicates
    assert(nodes.exists(_.spans.exists(_.text == "carrier body")))
    assert(nodes.exists(_.no_content_reason == "parse-failure")) // the bad attachment
  }

  test("cyclic-encrypted pst classifies NOT_DECRYPTED top-level, encrypted nested") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val good = Pst.build(Seq(Pst.BuildFolder("f", Seq(Pst.BuildMsg("s", "b")))))
    // flip bCryptMethod to CYCLIC (permute now decodes) and restore CRCs
    val enc = good.clone(); enc(513) = 2
    patchHeaderCrcs(enc)
    val e = intercept[graft.core.DecryptFailure](Pst.parse(enc, Cap))
    assert(e.getMessage.contains("NDB_CRYPT"))
    assert(graft.pipeline.ExtractJob.classify(e) == graft.core.Status.NotDecrypted)
    // nested: the child carries the encrypted reason, parent survives
    val zip = graft.sources.Archive.zipBytes(Seq(("locked.pst", enc)))
    val d = DocIn(12L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0)))
    val nodes = Extract.explode(d)
    assert(nodes.exists(n => n.level == 1 && n.no_content_reason == "encrypted"))
  }

  test("a bomb of cheap corrupt messages caps at the breadth guard") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val pst = Pst.build(Seq(Pst.BuildFolder("f",
      (1 to 40).map(i => Pst.BuildMsg(s"m$i", "x", corrupt = true)))))
    val d = DocIn(13L, Array(SpanIn("pst", new String(pst, ISO_8859_1), "", 0)))
    val cfg = Extract.DefaultConfig.copy(maxSpans = 10)
    val (nodes, skipped) = Extract.explodeCounted(d, cfg)
    assert(nodes.size <= 12) // root + folder + <= maxSpans children
    assert(skipped >= 30) // the refused failure children are COUNTED
  }

  test("reserved bid bit is ignored on lookups (real Outlook sets it)") {
    // find the NBT leaf page, set the r-bit on a message's bidData, and
    // re-CRC the page: MS-PST says readers MUST ignore that bit, and the
    // reference fixture really does carry it on data-tree references
    val pst = Pst.build(Seq(Pst.BuildFolder("f", Seq(Pst.BuildMsg("s", "still reads")))))
    val c = pst.clone()
    var patched = false
    var off = c.length - 512
    while (off >= 0 && !patched) {
      if ((c(off + 496) & 0xff) == 0x81 && (c(off + 491) & 0xff) == 0) { // NBT leaf
        val cEnt = c(off + 488) & 0xff
        val cbEnt = c(off + 490) & 0xff
        var i = 0
        while (i < cEnt && !patched) {
          val e = off + i * cbEnt
          val nid = java.nio.ByteBuffer.wrap(c, e, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
          if ((nid & 0x1f) == 0x04) { // a message node: set bidData r-bit
            c(e + 8) = (c(e + 8) | 1).toByte
            patchPageCrc(c, off)
            patched = true
          }
          i += 1
        }
      }
      off -= 512
    }
    assert(patched, "no NBT leaf message entry found to patch")
    val f = Pst.parse(c, Cap)
    assert(f.failures.isEmpty && f.messages.head.body == "still reads")
  }

  // one independent CRC (MS-PST §5.3 convention) shared by both fixture
  // patchers — intentionally NOT Pst's internal crc, so a production CRC
  // bug cannot hide behind a test patched with the same code
  private val CrcTbl = Array.tabulate(256) { i =>
    var x = i; var k = 0
    while (k < 8) { x = (x >>> 1) ^ (if ((x & 1) != 0) 0xEDB88320 else 0); k += 1 }
    x
  }
  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    var c = 0; var i = off
    while (i < off + len) { c = (c >>> 8) ^ CrcTbl((c ^ b(i)) & 0xff); i += 1 }
    c.toLong & 0xffffffffL
  }
  private def putCrc(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def patchPageCrc(b: Array[Byte], pageOff: Int): Unit =
    putCrc(b, pageOff + 500, crc32(b, pageOff, 496))

  private def patchHeaderCrcs(b: Array[Byte]): Unit = {
    putCrc(b, 4, crc32(b, 8, 471)); putCrc(b, 524, crc32(b, 8, 516))
  }

  test("REAL Outlook fixture parses completely through permute decode") {
    // The reference's own binary fixture, read in place (never copied):
    // a French-locale Outlook-written permute-encrypted Unicode PST. Full
    // fidelity required: every CRC validates, the \u00a75.1 substitution
    // decodes every leaf data block, all 7 messages (including the
    // msg-in-pst attachment chain) parse with zero failures.
    val path = java.nio.file.Paths.get(
      "/root/reference/extract-lib/src/test/resources/documents/pst/testPST.pst")
    assume(java.nio.file.Files.exists(path), "reference fixture not present")
    val bytes = java.nio.file.Files.readAllBytes(path)
    assert(Pst.isPst(bytes))
    val inv = Pst.inventory(bytes)
    assert(inv.crypt == 1) // NDB_CRYPT_PERMUTE
    assert(inv.nNodes == 61 && inv.nBlocks == 118)
    assert(inv.nFolders == 5 && inv.nMessages == 7)
    assert(inv.nSubnodeMessages == 1) // the attached msg-in-pst
    val f = Pst.parse(bytes, Cap)
    assert(f.failures.isEmpty)
    assert(f.messages.size == 7 && f.messages.forall(!_.recovered))
    // locale-specific folder names decode exactly (UTF-16 accents intact;
    // escapes because this platform compiles sources as ASCII)
    assert(f.folders.exists(_.name == "D\u00e9but du fichier de donn\u00e9es Outlook"))
    assert(f.folders.exists(_.name == "\u00c9l\u00e9ments supprim\u00e9s"))
    val bySubject = f.messages.map(m => m.subject -> m).toMap
    assert(bySubject.contains("Re: Feature Generators"))
    assert(bySubject("Re: Feature Generators").from == "J\u00f6rn Kottmann")
    assert(bySubject("Re: Feature Generators").body.startsWith("Hello,"))
    val fw = bySubject("FW: First email")
    assert(fw.from == "Luis Filipe da Cruz Nassif")
    assert(fw.attachments.size == 1)
    fw.attachments.head match {
      case Msg.MsgAtt(inner) =>
        assert(inner.subject == "First email")
        assert(inner.attachments.size == 1) // the nested chain bottoms out
      case other => fail(s"expected an attached message, got $other")
    }
  }

  test("permute writer/reader round-trip is cipher-transparent") {
    // the ~20 KB body rides an XBLOCK + subnode value: proves the writer
    // encodes ONLY leaf data blocks and the reader decodes exactly those,
    // without depending on the assume-gated real-fixture test
    val folders = Seq(
      Pst.BuildFolder("box", Seq(
        Pst.BuildMsg("s1", "big " * 5000, from = "a@x", atts = Seq(("f.bin", Array[Byte](1, 2, 3)))),
        Pst.BuildMsg("lost", "orphan", linked = false))),
      Pst.BuildFolder("box/deep", Seq(
        Pst.BuildMsg("outer", "o", attachedMsgs = Seq(Pst.BuildMsg("inner", "i"))))))
    val plain = Pst.build(folders)
    val enc = Pst.build(folders, crypt = 1)
    assert(!java.util.Arrays.equals(plain, enc)) // the cipher really applied
    assert((enc(513) & 0xff) == 1)
    val a = Pst.parse(plain, Cap)
    val b2 = Pst.parse(enc, Cap)
    assert(a.failures.isEmpty && b2.failures.isEmpty)
    assert(a.folders == b2.folders)
    assert(a.messages.map(m => (m.folderPath, m.subject, m.from, m.body, m.recovered)) ==
      b2.messages.map(m => (m.folderPath, m.subject, m.from, m.body, m.recovered)))
    def norm(as: Vector[Msg.Attachment]): Vector[Any] = as.map {
      case Msg.FileAtt(n, bs) => (n, bs.toSeq)
      case Msg.MsgAtt(d) => (d.subject, d.from, d.body, norm(d.attachments))
    }
    assert(a.messages.map(m => norm(m.attachments)) == b2.messages.map(m => norm(m.attachments)))
  }

  test("ANSI (wVer 15) round-trips every layer, incl XBLOCK and recovery") {
    // long body forces the data tree through ANSI's 4-byte-kid XBLOCK;
    // unlinked + corrupt exercise recovery and isolation on the ANSI path
    val big = "ansi body " * 2000 // ~20 KB > one 8180-byte ANSI block
    val folders = Seq(
      Pst.BuildFolder("inbox", Seq(
        Pst.BuildMsg("big", big, from = "who", atts = Seq(("x.bin", Array.tabulate[Byte](300)(_.toByte)))),
        Pst.BuildMsg("lost", "orphan", linked = false),
        Pst.BuildMsg("bad", "x", corrupt = true))),
      Pst.BuildFolder("inbox/sub", Seq(
        Pst.BuildMsg("outer", "o", attachedMsgs = Seq(Pst.BuildMsg("inner", "i"))))))
    val ansi = Pst.build(folders, ansi = true)
    assert((java.nio.ByteBuffer.wrap(ansi, 10, 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort & 0xffff) == 15) // wVer
    val inv = Pst.inventory(ansi)
    assert(inv.nFolders == 3 && inv.nMessages == 4 && inv.nSubnodeMessages == 1)
    val f = Pst.parse(ansi, Cap)
    assert(f.failures.size == 1) // the corrupt message isolates, never aborts
    val byPath = f.messages.groupBy(_.folderPath)
    assert(byPath("inbox").find(_.subject == "big").get.body == big)
    assert(f.messages.find(_.subject == "lost").get.recovered)
    assert(f.messages.find(_.subject == "lost").get.folderPath == "[recovered]")
    val att = byPath("inbox").find(_.subject == "big").get.attachments
    assert(att.collect { case Msg.FileAtt(n, bs) => (n, bs.length) } == Vector(("x.bin", 300)))
    byPath("inbox/sub").head.attachments.head match {
      case Msg.MsgAtt(inner) => assert(inner.subject == "inner" && inner.body == "i")
      case other => fail(s"expected attached message, got $other")
    }
  }

  test("ANSI and permute compose; parse output matches the Unicode file's") {
    val folders = Seq(Pst.BuildFolder("box", Seq(
      Pst.BuildMsg("s", "same body", from = "f", atts = Seq(("a.txt", b("att")))))))
    val results = for {
      ansi <- Seq(false, true)
      crypt <- Seq(0, 1)
    } yield {
      val f = Pst.parse(Pst.build(folders, crypt, ansi), Cap)
      assert(f.failures.isEmpty)
      f.messages.map(m => (m.folderPath, m.subject, m.from, m.body,
        m.attachments.collect { case Msg.FileAtt(n, bs) => (n, bs.toSeq) }))
    }
    // all four format x crypt corners yield identical logical content
    assert(results.distinct.size == 1)
  }

  test("4K OST (wVer 36) round-trips every layer; leaves really compress") {
    // big body forces XBLOCK; the writer's alternate-leaf rule makes the
    // file MIXED raw/zlib — the exact OST-2013 layout class the reference
    // recovers (OstCompressedBlockReader). Unlinked + corrupt exercise
    // recovery and isolation on the 4K path.
    val big = "ost body " * 3000 // ~27 KB > three 8176-byte leaves
    val folders = Seq(
      Pst.BuildFolder("inbox", Seq(
        Pst.BuildMsg("big", big, from = "who",
          atts = Seq(("x.bin", Array.tabulate[Byte](2000)(i => (i * 7).toByte)))),
        Pst.BuildMsg("lost", "orphan", linked = false),
        Pst.BuildMsg("bad", "x", corrupt = true))),
      Pst.BuildFolder("inbox/sub", Seq(
        Pst.BuildMsg("outer", "o", attachedMsgs = Seq(Pst.BuildMsg("inner", "i"))))))
    val ost = Pst.build(folders, ost4k = true)
    assert((java.nio.ByteBuffer.wrap(ost, 10, 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort & 0xffff) == 36) // wVer
    val inv = Pst.inventory(ost)
    assert(inv.nFolders == 3 && inv.nMessages == 4 && inv.nSubnodeMessages == 1)
    // stored bytes beat the uncompressed twin: compression REALLY happened
    val plain = Pst.inventory(Pst.build(folders))
    assert(inv.dataBytes < plain.dataBytes,
      s"4K stored ${inv.dataBytes} not smaller than Unicode ${plain.dataBytes}")
    val f = Pst.parse(ost, Cap)
    assert(f.failures.size == 1) // the corrupt message isolates, never aborts
    val byPath = f.messages.groupBy(_.folderPath)
    assert(byPath("inbox").find(_.subject == "big").get.body == big)
    assert(f.messages.find(_.subject == "lost").get.folderPath == "[recovered]")
    val att = byPath("inbox").find(_.subject == "big").get.attachments
    assert(att.collect { case Msg.FileAtt(n, bs) => (n, bs.length) } == Vector(("x.bin", 2000)))
    byPath("inbox/sub").head.attachments.head match {
      case Msg.MsgAtt(inner) => assert(inner.subject == "inner" && inner.body == "i")
      case other => fail(s"expected attached message, got $other")
    }
  }

  test("4K OST composes with permute; logical output matches the other formats") {
    val folders = Seq(Pst.BuildFolder("box", Seq(
      Pst.BuildMsg("s", "same body", from = "f", atts = Seq(("a.txt", b("att")))))))
    val results = for {
      (ansi, ost4k) <- Seq((false, false), (true, false), (false, true))
      crypt <- Seq(0, 1)
    } yield {
      val f = Pst.parse(Pst.build(folders, crypt, ansi, ost4k), Cap)
      assert(f.failures.isEmpty)
      f.messages.map(m => (m.folderPath, m.subject, m.from, m.body,
        m.attachments.collect { case Msg.FileAtt(n, bs) => (n, bs.toSeq) }))
    }
    // all six format x crypt corners yield identical logical content
    assert(results.distinct.size == 1)
  }

  test("truncated OST attachment degrades to a NAMED stub, never a failure") {
    // the reference's semantics (ResilientOutlookPSTParser.java:598-628 +
    // emitRecoveryStub): a by-value attachment whose compressed blocks
    // cannot inflate is visibly lost — stub with the name and the reason —
    // while the message and its readable attachments survive intact
    val ost = Pst.build(Seq(Pst.BuildFolder("inbox", Seq(
      Pst.BuildMsg("m", "the body", atts = Seq(("ok.txt", b("fine"))),
        truncAtts = Seq("cut.bin"))))), crypt = 1, ost4k = true)
    val f = Pst.parse(ost, Cap)
    assert(f.failures.isEmpty, f.failures.map(_.error).mkString("; "))
    val m = f.messages.find(_.subject == "m").get
    assert(m.body == "the body")
    assert(m.attachments.collect { case Msg.FileAtt(n, _) => n } == Vector("ok.txt"))
    val stubs = m.attachments.collect { case Msg.StubAtt(n, r) => (n, r) }
    assert(stubs.map(_._1) == Vector("cut.bin"))
    assert(stubs.head._2.contains("inflate"), stubs.head._2)
    // and through the explode route: a named content-less parse-failure
    // child under the message, ordinal after the readable attachment
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    val out = graft.core.route.Extract.explode(
      DocIn(7L, Array(SpanIn("pst", new String(ost, ISO_8859_1), "", 0))))
    val msgNode = out.find(_.spans.exists(_.text == "the body")).get
    val kids = out.filter(_.parent_id == msgNode.doc_id).sortBy(_.doc_id)
    assert(kids.exists(k => k.spans.exists(_.text == "fine")))
    val stub = kids.find(_.no_content_reason == graft.core.Reason.ParseFailed).get
    assert(stub.spans.isEmpty)
    assert(stub.doc_id == graft.core.Ids.embedId("", msgNode.doc_id, 1, resourceName = "cut.bin"))
  }

  test("a truncated-style block in a NON-4K pst is data, not a stub") {
    // the zlib sniff is gated to wVer 36: Unicode/ANSI files never carry
    // internal compression, so bytes that merely look like a zlib header
    // must come back verbatim
    val lying = Array[Byte](0x78, 0x9c.toByte) ++ Array.fill[Byte](1100)(0x2a)
    val pst = Pst.build(Seq(Pst.BuildFolder("inbox", Seq(
      Pst.BuildMsg("m", "b", atts = Seq(("z.bin", lying)))))))
    val f = Pst.parse(pst, Cap)
    val Msg.FileAtt(n, bytes) = f.messages.head.attachments.head: @unchecked
    assert(n == "z.bin" && bytes.sameElements(lying))
  }
}
