package graft

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocIn, ParseFailure, SpanIn}
import graft.core.office.{Cfb, Docx, Epub, Msg, OoxmlCrypt}
import graft.core.route.Extract
import graft.sources.{Archive, Ingest}

/** Compound File Binary (OLE2) reader/writer and the MS-OXMSG (.msg) route:
  * round-trips, mini-vs-regular sector placement, malformed-input contract,
  * and msg-in-msg-in-msg explosion (the reference's `3rd-level-bug-732.msg`
  * shape).
  */
class CfbSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private val Cp1252Charset = java.nio.charset.Charset.forName("windows-1252")

  test("build/entries round-trips streams across mini and regular sectors") {
    val big = Array.tabulate[Byte](5000)(i => (i % 251).toByte) // >= 4096: regular FAT
    val streams = Seq(
      ("small.txt", b("tiny payload")),       // < 4096: mini stream
      ("empty.bin", Array.empty[Byte]),       // zero-length stream
      ("big.bin", big),
      ("dir/inner.txt", b("nested storage payload")))
    val bytes = Cfb.build(streams)
    assert(Cfb.isCfb(bytes))
    val got = Cfb.streamEntries(bytes, maxEntryBytes = 1 << 20)
    val byName = got.toMap
    assert(byName.keySet == Set("small.txt", "empty.bin", "big.bin", "dir/inner.txt"))
    assert(byName("small.txt").get.sameElements(b("tiny payload")))
    assert(byName("empty.bin").get.isEmpty)
    assert(byName("big.bin").get.sameElements(big))
    assert(byName("dir/inner.txt").get.sameElements(b("nested storage payload")))
    // storage node appears in the full entry listing
    assert(Cfb.entries(bytes, 1 << 20).exists(e => e.path == "dir" && e.isStorage))
  }

  test("entries come back in canonical CFB name order (length, then upper)") {
    val bytes = Cfb.build(Seq(
      ("bb", b("1")), ("a", b("2")), ("ccc", b("3")), ("AB", b("4"))))
    val names = Cfb.streamEntries(bytes, 1 << 20).map(_._1)
    // shorter first; same length compares uppercase
    assert(names == Vector("a", "AB", "bb", "ccc"))
  }

  test("determinism: same streams give byte-identical containers") {
    val s = Seq(("x.txt", b("one")), ("y/z.txt", b("two")))
    assert(Cfb.build(s).sameElements(Cfb.build(s)))
  }

  test("declared-size guard refuses oversized streams as None") {
    val bytes = Cfb.build(Seq(("ok.txt", b("ok")), ("huge.txt", b("x" * 500))))
    val got = Cfb.streamEntries(bytes, maxEntryBytes = 100).toMap
    assert(got("ok.txt").isDefined && got("huge.txt").isEmpty)
  }

  test("malformed input throws ParseFailure, never anything else") {
    val good = Cfb.build(Seq(("a.txt", b("payload here"))))
    intercept[ParseFailure](Cfb.entries("nonsense".getBytes, 1 << 20))
    intercept[ParseFailure](Cfb.entries(good.take(200), 1 << 20)) // truncated
    // corrupt the directory start sector to an out-of-range value
    val corrupt = good.clone()
    corrupt(48) = 0x7f; corrupt(49) = 0x7f; corrupt(50) = 0x7f; corrupt(51) = 0x7f
    intercept[ParseFailure](Cfb.entries(corrupt, 1 << 20))
  }

  test("truncated mini stream throws ParseFailure, never zero-fills") {
    // shrink the Root Entry's declared size so the mini stream ends
    // mid-sector: reading small.txt's mini chain must throw, not emit
    // partially-zeroed bytes into content-derived ids
    val bytes = Cfb.build(Seq(("small.txt", b("tiny payload"))))
    val idx = bytes.indexOfSlice("Root Entry".getBytes(StandardCharsets.UTF_16LE))
    assert(idx >= 0)
    val patched = bytes.clone()
    patched(idx + 120) = 8 // LE size field: 8 bytes < the 12-byte payload
    patched(idx + 121) = 0; patched(idx + 122) = 0; patched(idx + 123) = 0
    intercept[ParseFailure](Cfb.streamEntries(patched, 1 << 20))
  }

  test("sniffKind detects compound files") {
    assert(Ingest.sniffKind(Cfb.build(Seq(("s", b("x"))))) == "cfb")
  }

  test("large containers spill FAT locations into chained DIFAT sectors") {
    // > 109 FAT sectors needs > ~7MB of payload
    val big = Array.tabulate[Byte](8 << 20)(i => (i * 31 % 251).toByte)
    val bytes = Cfb.build(Seq(("big.bin", big), ("small.txt", b("side payload"))))
    val got = Cfb.streamEntries(bytes, maxEntryBytes = 32 << 20).toMap
    assert(got("big.bin").get.sameElements(big))
    assert(got("small.txt").get.sameElements(b("side payload")))
  }

  test("v3 readers ignore garbage in the high 4 bytes of stream size") {
    val bytes = Cfb.build(Seq(("s.txt", b("low bits only"))))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val firstDir = bb.getInt(48)
    // directory ids are pre-order: root=0, the stream=1; poke junk into
    // size bytes 124..127 of its 128-byte entry (MS-CFB says v3 readers
    // must read only the low 32 bits)
    val entryOff = 512 + firstDir * 512 + 128 + 124
    (0 until 4).foreach(i => bytes(entryOff + i) = 0xde.toByte)
    val got = Cfb.streamEntries(bytes, 1 << 20).toMap
    assert(got("s.txt").get.sameElements(b("low bits only")))
  }

  test("entry-cap overflow surfaces as counted refusals, not silence") {
    val many = (0 until 30).map(i => (f"s$i%02d.txt", b(s"payload $i")))
    val bytes = Cfb.build(many)
    val got = Cfb.streamEntries(bytes, 1 << 20, maxEntries = 10)
    assert(got.length == 30) // every entry listed
    assert(got.count(_._2.isDefined) == 10 && got.count(_._2.isEmpty) == 20)
  }

  test("ANSI (001E) property streams parse with the cp1252 fallback") {
    val streams = Seq(
      ("__substg1.0_0037001E", "ansi subject".getBytes(Cp1252Charset)),
      ("__substg1.0_0C1A001E", "ansi sender".getBytes(Cp1252Charset)),
      ("__substg1.0_1000001E", "ansi body éü".getBytes(Cp1252Charset)),
      ("__properties_version1.0", new Array[Byte](32)))
    val parsed = Msg.parse(Cfb.streamEntries(Cfb.build(streams), 1 << 20))
    assert(parsed.subject == "ansi subject" && parsed.from == "ansi sender" &&
      parsed.body == "ansi body éü")
  }

  test("msg nesting beyond the ceiling is ParseFailure, not stack overflow") {
    val deep = (0 until Msg.MaxNesting + 2).foldLeft(
      Msg.MsgDoc("innermost", "x@example.com", "core", Vector.empty)) { (inner, k) =>
      Msg.MsgDoc(s"level $k", "x@example.com", s"body $k", Vector(Msg.MsgAtt(inner)))
    }
    val entries = Cfb.streamEntries(Msg.build(deep), 64 << 20, maxEntries = 100000)
    intercept[ParseFailure](Msg.parse(entries))
  }

  private val threeLevel = Msg.MsgDoc(
    subject = "outer", from = "alice@example.com", body = "outer body",
    attachments = Vector(
      Msg.FileAtt("notes.txt", b("plain attachment")),
      Msg.MsgAtt(Msg.MsgDoc("middle", "bob@example.com", "middle body",
        Vector(Msg.MsgAtt(Msg.MsgDoc("inner", "carol@example.com", "inner body",
          Vector(Msg.FileAtt("deep.txt", b("third level payload"))))))))))

  test("msg build/parse round-trips three levels of nesting") {
    val parsed = Msg.parse(Cfb.streamEntries(Msg.build(threeLevel), 1 << 20))
    assert(parsed.subject == "outer" && parsed.from == "alice@example.com" &&
      parsed.body == "outer body")
    assert(parsed.attachments.length == 2)
    val Msg.FileAtt(n0, d0) = parsed.attachments(0): @unchecked
    assert(n0 == "notes.txt" && d0.sameElements(b("plain attachment")))
    val Msg.MsgAtt(mid) = parsed.attachments(1): @unchecked
    assert(mid.body == "middle body")
    val Msg.MsgAtt(inner) = mid.attachments(0): @unchecked
    assert(inner.subject == "inner")
    val Msg.FileAtt(n3, d3) = inner.attachments(0): @unchecked
    assert(n3 == "deep.txt" && d3.sameElements(b("third level payload")))
  }

  test("msg canonical is invariant to rebuild but distinguishes fields") {
    val again = Msg.parse(Cfb.streamEntries(Msg.build(threeLevel), 1 << 20))
    assert(Msg.canonical(again) == Msg.canonical(threeLevel))
    assert(Msg.canonical(threeLevel.copy(subject = "other")) != Msg.canonical(threeLevel))
  }

  test("explode walks msg-in-msg-in-msg with per-level document children") {
    val latin1 = new String(Msg.build(threeLevel), StandardCharsets.ISO_8859_1)
    val doc = DocIn(7L, Array(SpanIn("cfb", latin1, "", 0)))
    val nodes = Extract.explode(doc)
    val byLevel = nodes.groupBy(_.level)
    // root (body text) + 2 level-1 (file att, middle msg) + 1 level-2 + 1 level-3
    assert(nodes.map(_.level).sorted == Seq(0, 1, 1, 2, 3))
    assert(byLevel(0).head.spans.map(_.text).mkString == "outer body")
    val texts = nodes.map(n => n.spans.map(_.text).mkString).toSet
    assert(texts.contains("plain attachment") && texts.contains("middle body") &&
      texts.contains("inner body") && texts.contains("third level payload"))
    // parent chain: inner msg's parent is middle msg's node
    val middle = nodes.find(n => n.spans.map(_.text).mkString == "middle body").get
    val inner = nodes.find(n => n.spans.map(_.text).mkString == "inner body").get
    assert(inner.parent_id == middle.doc_id && middle.parent_id == byLevel(0).head.doc_id)
  }

  test("zip attachment inside a msg re-enters the archive recursion") {
    val zip = Archive.zipBytes(Seq(("in.txt", b("zipped text"))))
    val m = Msg.MsgDoc("s", "f@example.com", "body", Vector(Msg.FileAtt("a.zip", zip)))
    val latin1 = new String(Msg.build(m), StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(8L, Array(SpanIn("cfb", latin1, "", 0))))
    // root + zip container node + its entry
    assert(nodes.map(_.level).sorted == Seq(0, 1, 2))
    assert(nodes.exists(n => n.level == 2 && n.spans.map(_.text).mkString == "zipped text"))
  }

  test("generic (non-msg) compound file explodes streams as sniffed children") {
    val cfb = Cfb.build(Seq(
      ("readme.txt", b("generic stream")),
      ("inner.zip", Archive.zipBytes(Seq(("z.txt", b("nested via cfb")))))))
    val latin1 = new String(cfb, StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(9L, Array(SpanIn("cfb", latin1, "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.spans.map(_.text).mkString == "generic stream"))
    assert(nodes.exists(n => n.level == 2 && n.spans.map(_.text).mkString == "nested via cfb"))
    // the container root has no own text (its content lives in children)
    assert(nodes.find(_.level == 0).get.spans.map(_.text).mkString.isEmpty)
  }

  test("WordDoc build/text round-trips across cp1252 and utf16 pieces") {
    import graft.core.office.WordDoc
    val t = "first line of the doc\nsecond line here\nthird"
    assert(WordDoc.text(Cfb.streamEntries(WordDoc.build(t), 1 << 20)) == t)
    // non-ASCII forces a real utf16 piece split at the charset boundary
    val uni = "ascii prefix éü世界 suffix"
    assert(WordDoc.text(Cfb.streamEntries(WordDoc.build(uni), 1 << 20)) == uni)
    assert(WordDoc.text(Cfb.streamEntries(WordDoc.build(""), 1 << 20)) == "")
  }

  test("WordDoc malformed inputs throw ParseFailure") {
    import graft.core.office.WordDoc
    // WordDocument stream present but garbage
    intercept[ParseFailure](WordDoc.text(Vector(("WordDocument", Some(new Array[Byte](64))))))
    // valid FIB magic but missing table stream
    val good = Cfb.streamEntries(WordDoc.build("some text body"), 1 << 20)
    val noTable = good.filterNot(_._1 == "1Table")
    intercept[ParseFailure](WordDoc.text(noTable))
  }

  test("a .doc explodes as a document: body text, no stream children") {
    import graft.core.office.WordDoc
    val latin1 = new String(WordDoc.build("legacy word body text"), StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(11L, Array(SpanIn("cfb", latin1, "", 0))))
    assert(nodes.length == 1) // no WordDocument/1Table stream children
    assert(nodes.head.spans.map(_.text).mkString == "legacy word body text")
  }

  test(".doc ObjectPool embedded objects spawn as sniffed children") {
    import graft.core.office.WordDoc
    val doc = WordDoc.build("host document body",
      objects = Seq(("note.txt", b("embedded note")),
        ("inner.zip", Archive.zipBytes(Seq(("z.txt", b("zip in objectpool")))))))
    val nodes = Extract.explode(
      DocIn(16L, Array(SpanIn("cfb", new String(doc, StandardCharsets.ISO_8859_1), "", 0))))
    assert(nodes.find(_.level == 0).get.spans.map(_.text).mkString == "host document body")
    val texts = nodes.map(n => n.spans.map(_.text).mkString).toSet
    assert(texts.contains("embedded note"))
    assert(nodes.exists(n => n.level == 2 && n.spans.map(_.text).mkString == "zip in objectpool"))
    // and via a zip: the .doc child still spawns its embedded object below it
    val zip = Archive.zipBytes(Seq(("host.doc", doc)))
    val nested = Extract.explode(
      DocIn(17L, Array(SpanIn("zip", new String(zip, StandardCharsets.ISO_8859_1), "", 0))))
    val docChild = nested.find(n => n.spans.map(_.text).mkString == "host document body").get
    assert(nested.exists(n => n.parent_id == docChild.doc_id &&
      n.spans.map(_.text).mkString == "embedded note"))
  }

  test("a .doc inside a zip becomes a document child with its text") {
    import graft.core.office.WordDoc
    val zip = Archive.zipBytes(Seq(("old.doc", WordDoc.build("doc in archive"))))
    val nodes = Extract.explode(
      DocIn(12L, Array(SpanIn("zip", new String(zip, StandardCharsets.ISO_8859_1), "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.spans.map(_.text).mkString == "doc in archive"))
  }

  test("Xls build/text round-trips SST indirection and numeric cells") {
    import graft.core.office.Xls
    val rows = Seq(
      Seq(("alpha", false), ("beta", false)),
      Seq(("gamma", false), ("alpha", false)), // duplicate string: same SST slot
      Seq(("total", false), ("42", true)))     // numeric cell
    val txt = Xls.text(Cfb.streamEntries(Xls.build(rows), 1 << 20))
    assert(txt == "alpha\tbeta\ngamma\talpha\ntotal\t42")
    // non-ASCII forces the UTF-16 SST branch
    val uni = Xls.text(Cfb.streamEntries(
      Xls.build(Seq(Seq(("héllo wörld", false)))), 1 << 20))
    assert(uni == "héllo wörld")
  }

  test("Xls SST larger than one record spans CONTINUE records") {
    import graft.core.office.Xls
    // ~1200 distinct ~16-byte strings ≈ 20 KB of SST: forces >= 3 chunks
    val rows = (0 until 600).map(i => Seq((f"alpha$i%05d", false), (f"beta$i%05d", false)))
    val txt = Xls.text(Cfb.streamEntries(Xls.build(rows), 1 << 20))
    val lines = txt.split('\n')
    assert(lines.length == 600)
    assert(lines(0) == "alpha00000\tbeta00000" && lines(599) == "alpha00599\tbeta00599")
  }

  test("a size-refused Unicode property falls back to its ANSI copy") {
    val entries = Vector[(String, Option[Array[Byte]])](
      ("__substg1.0_1000001F", None), // refused by the size guard
      ("__substg1.0_1000001E", Some("ansi fallback body".getBytes(Cp1252Charset))))
    assert(Msg.parse(entries).body == "ansi fallback body")
  }

  test("Xls malformed records throw ParseFailure") {
    import graft.core.office.Xls
    intercept[ParseFailure](Xls.text(Vector(("Workbook", Some(Array[Byte](1, 2, 3))))))
    intercept[ParseFailure](Xls.text(Vector(("other", Some(Array.empty[Byte])))))
  }

  test("Ppt build/text round-trips both atom encodings in document order") {
    import graft.core.office.Ppt
    val paras = Seq("first slide line", "second slide line", "third après ça")
    val txt = Ppt.text(Cfb.streamEntries(Ppt.build(paras), 1 << 20))
    assert(txt == paras.mkString("\n"))
  }

  test("legacy xls and ppt explode as documents with text, no children") {
    import graft.core.office.{Ppt, Xls}
    val xls = Xls.build(Seq(Seq(("cell", false), ("7", true))))
    val n1 = Extract.explode(
      DocIn(13L, Array(SpanIn("cfb", new String(xls, StandardCharsets.ISO_8859_1), "", 0))))
    assert(n1.length == 1 && n1.head.spans.map(_.text).mkString == "cell\t7")
    val ppt = Ppt.build(Seq("deck text here"))
    val n2 = Extract.explode(
      DocIn(14L, Array(SpanIn("cfb", new String(ppt, StandardCharsets.ISO_8859_1), "", 0))))
    assert(n2.length == 1 && n2.head.spans.map(_.text).mkString == "deck text here")
    // and inside a zip they become document children
    val zip = Archive.zipBytes(Seq(("old.xls", xls), ("old.ppt", ppt)))
    val n3 = Extract.explode(
      DocIn(15L, Array(SpanIn("zip", new String(zip, StandardCharsets.ISO_8859_1), "", 0))))
    val texts = n3.filter(_.level == 1).map(_.spans.map(_.text).mkString).toSet
    assert(texts == Set("cell\t7", "deck text here"))
  }

  test("a .pub explodes as a document: Quill story text, no stream children") {
    import graft.core.office.Pub
    val latin1 = new String(Pub.build(Seq("publisher story text", "second frame")),
      StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(61L, Array(SpanIn("cfb", latin1, "", 0))))
    assert(nodes.length == 1) // no Quill/Escher/Contents stream children
    assert(nodes.head.spans.map(_.text).mkString == "publisher story text\nsecond frame")
  }

  test("Pub malformed CONTENTS throws ParseFailure") {
    import graft.core.office.Pub
    val good = Pub.contents(Seq("x"))
    intercept[ParseFailure](Pub.quillText(good.take(100))) // shorter than the index
    val magic = good.clone(); magic(0) = 'X'.toByte
    intercept[ParseFailure](Pub.quillText(magic))
    val past = good.clone(); past(0x20 + 21) = 0x7f // len high byte: span past end
    intercept[ParseFailure](Pub.quillText(past))
    val odd = good.clone(); odd(0x20 + 18) = 1 // TEXT bit with odd byte length
    intercept[ParseFailure](Pub.quillText(odd))
  }

  test("an .hwp explodes as a document: deflated PARA_TEXT, no stream children") {
    import graft.core.office.Hwp
    val latin1 = new String(Hwp.build(Seq("hangul line one", "line two")),
      StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(63L, Array(SpanIn("cfb", latin1, "", 0))))
    assert(nodes.length == 1)
    assert(nodes.head.spans.map(_.text).mkString == "hangul line one\nline two\n")
  }

  test("hwp control codes follow the width table; encrypted flag classifies") {
    import graft.core.office.Hwp
    import java.nio.charset.StandardCharsets.UTF_16LE
    // hand-build a section: tab (8 units), an extended control (8 units),
    // a space variant, then prose — exercise the walk directly
    val units = new StringBuilder()
      .append('\u0009').append("AAAAAAA") // tab control: emits \t, consumes 8
      .append('\u000B').append("BBBBBBB") // drawing control: consumed silently
      .append('\u001E') // no-break space variant -> ' '
      .append("ok").append('\r') // prose + paragraph break
      .toString
    val entries = graft.core.office.Cfb.streamEntries(
      Hwp.build(Seq("seed")), 1 << 20)
    // swap in an uncompressed section via a crafted FileHeader (flags=0)
    val header = entries.collectFirst { case ("FileHeader", Some(b)) => b.clone() }.get
    header(36) = 0 // not compressed, not encrypted
    val rec = {
      val payload = units.getBytes(UTF_16LE)
      val out = new Array[Byte](4 + payload.length)
      val hdr = (payload.length.toLong << 20) | 0x43L
      out(0) = hdr.toByte; out(1) = (hdr >>> 8).toByte
      out(2) = (hdr >>> 16).toByte; out(3) = (hdr >>> 24).toByte
      System.arraycopy(payload, 0, out, 4, payload.length)
      out
    }
    val crafted = Seq[(String, Option[Array[Byte]])](
      ("FileHeader", Some(header)), ("BodyText/Section0", Some(rec)))
    assert(Hwp.text(crafted) == "\t ok\n")
    intercept[graft.core.DecryptFailure](
      Hwp.text(graft.core.office.Cfb.streamEntries(
        Hwp.build(Seq("x"), encrypted = true), 1 << 20)))
    // distribution documents (ViewText, flags bit 2) classify too
    val dist = header.clone(); dist(36) = 4
    intercept[graft.core.DecryptFailure](
      Hwp.text(Seq(("FileHeader", Some(dist)))))
    // a paragraph past the 12-bit size field exercises the extended-size
    // record form (size sentinel 0xFFF + u32) — bits 20-31 per the spec
    val long = ("word " * 1000).trim
    assert(Hwp.text(graft.core.office.Cfb.streamEntries(
      Hwp.build(Seq(long)), 1 << 20)) == long + "\n")
  }

  test("RtfComp round-trips bodies past the 4096-byte dictionary wrap") {
    import graft.core.office.RtfComp
    val rnd = new scala.util.Random(7)
    val raw = Array.tabulate[Byte](20000) { i =>
      if (i % 97 < 40) ('a' + (i % 7)).toByte else rnd.nextInt(256).toByte
    }
    assert(java.util.Arrays.equals(RtfComp.decompress(RtfComp.compress(raw)), raw))
    val repetitive = ("{\\rtf1\\ansi " + ("the same phrase again " * 400) + "}")
      .getBytes(StandardCharsets.US_ASCII)
    val comp = RtfComp.compress(repetitive)
    assert(comp.length < repetitive.length / 4) // references really engage
    assert(java.util.Arrays.equals(RtfComp.decompress(comp), repetitive))
  }

  test("a crafted nested Ole10Native chain is bounded, never a stack overflow") {
    import graft.core.office.Ole
    def wrap(label: String, payload: Array[Byte]): Array[Byte] = {
      val lb = label.getBytes(StandardCharsets.US_ASCII)
      val body = new java.io.ByteArrayOutputStream()
      def p16(v: Int): Unit = { body.write(v & 0xff); body.write((v >>> 8) & 0xff) }
      def p32(v: Int): Unit = { p16(v & 0xffff); p16(v >>> 16) }
      p16(2) // flags1: labeled
      body.write(lb); body.write(0)
      body.write('c'); body.write(0) // source path
      p16(0); p16(0) // flags2 + unknown
      p32(1); body.write('x') // command
      p32(payload.length); body.write(payload)
      val inner = body.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      out.write(inner.length & 0xff); out.write(inner.length >>> 8 & 0xff)
      out.write(inner.length >>> 16 & 0xff); out.write(inner.length >>> 24 & 0xff)
      out.write(inner) // totalSize = bytes following the field
      out.toByteArray
    }
    var chain = "innermost payload".getBytes(StandardCharsets.UTF_8)
    (0 until 100).foreach(_ => chain = wrap("Ole10Native", chain))
    val cfb = Cfb.build(Seq(("Ole10Native", chain)))
    val zip = Archive.zipBytes(Seq(("evil.bin", cfb)))
    // must complete (hop-capped) with the parent intact — contents of the
    // over-deep chain degrade, the document never fails
    val nodes = Extract.explode(
      DocIn(64L, Array(SpanIn("zip", new String(zip, StandardCharsets.ISO_8859_1), "", 0))))
    assert(nodes.nonEmpty)
    // a legitimate single wrap still unwraps to its payload
    val ok = Cfb.build(Seq(("Ole10Native", wrap("note.txt", "packaged text".getBytes(StandardCharsets.UTF_8)))))
    val good = Extract.explode(
      DocIn(65L, Array(SpanIn("cfb", new String(ok, StandardCharsets.ISO_8859_1), "", 0))))
    assert(good.exists(_.spans.map(_.text).mkString == "packaged text"))
    assert(Ole.tryUnwrap("junk".getBytes).isEmpty)
  }

  test("an RTF-only msg body decompresses and renders verbatim") {
    import graft.core.office.RtfComp
    val body = "first line of the rich body\nsecond line repeats repeats repeats\n\\brace{d}"
    val m = Msg.MsgDoc("rich subject", "rich@example.com", body, Vector.empty)
    val latin1 = new String(Msg.buildRtfBody(m), StandardCharsets.ISO_8859_1)
    val nodes = Extract.explode(DocIn(62L, Array(SpanIn("cfb", latin1, "", 0))))
    assert(nodes.length == 1)
    assert(nodes.head.spans.map(_.text).mkString == body)
    // the encoder really compresses: the preload dictionary covers the
    // RTF prologue and repeats become references
    val raw = Msg.rtfWrap(body)
    val comp = RtfComp.compress(raw)
    assert(comp.length < raw.length + 16)
    assert(RtfComp.decompress(comp).sameElements(raw))
  }

  test("RtfComp malformed streams throw ParseFailure") {
    import graft.core.office.RtfComp
    val good = RtfComp.compress("{\\rtf1\\ansi hello}".getBytes(StandardCharsets.US_ASCII))
    intercept[ParseFailure](RtfComp.decompress(good.take(10))) // header truncated
    val crc = good.clone(); crc(20) = (crc(20) ^ 1).toByte
    intercept[ParseFailure](RtfComp.decompress(crc)) // payload CRC mismatch
    val kind = good.clone(); kind(8) = 'X'.toByte
    intercept[ParseFailure](RtfComp.decompress(kind)) // unknown COMPTYPE
    val short = good.clone(); short(0) = (good.length + 50).toByte
    intercept[ParseFailure](RtfComp.decompress(short)) // COMPSIZE past end
  }

  test("msg nested inside a zip becomes a document child with body text") {
    val inner = Msg.MsgDoc("zipped msg", "z@example.com", "msg body in zip", Vector.empty)
    val zip = Archive.zipBytes(Seq(("mail.msg", Msg.build(inner))))
    val nodes = Extract.explode(
      DocIn(10L, Array(SpanIn("zip", new String(zip, StandardCharsets.ISO_8859_1), "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.spans.map(_.text).mkString == "msg body in zip"))
  }

  test("password-protected Office docs classify encrypted, never explode") {
    import graft.core.route.Extract
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    val enc = OoxmlCrypt.buildAgileEncrypted(
      "ciphertext-bytes-here".getBytes(UTF_8), "a-real-password")
    val latin1 = new String(enc, ISO_8859_1)
    intercept[graft.core.DecryptFailure](Extract.extractSpan("cfb", latin1))
    // nested in a zip: ONE encrypted failure child, no ciphertext leak
    val zip = graft.sources.Archive.zipBytes(Seq(("locked.docx", enc)))
    val out = Extract.explode(graft.core.DocIn(6L,
      Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    val kids = out.filter(_.level == 1)
    assert(kids.length == 1 && kids.head.no_content_reason == graft.core.Reason.Encrypted)
    assert(!out.exists(_.spans.exists(_.text.contains("ciphertext"))))
    // a generic compound file with only ONE of the two streams still explodes
    val one = Cfb.build(Seq(("EncryptionInfo", "x".getBytes(UTF_8))))
    assert(Extract.extractSpan("cfb", new String(one, ISO_8859_1))._1 == "")
  }

  test("standard-encrypted OOXML opens silently under the default password") {
    import graft.core.route.Extract
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    val png = graft.multimodal.Media.encodePng(2, 2, 7)
    val docx = Docx.buildMinimal(Seq("sealed body text"), Seq(("word/media/img1.png", png)))
    for (pw <- Seq("VelvetSweatshop", "")) {
      val enc = OoxmlCrypt.buildEncrypted(docx, pw)
      assert(graft.sources.Ingest.sniffKind(enc, "locked.docx") === "cfb")
      // body text flows as if the package were plaintext
      assert(Extract.extractSpan("cfb", new String(enc, ISO_8859_1))._1 === "sealed body text")
      // top-level explosion spawns only the embedded media part
      val out = Extract.explode(graft.core.DocIn(7L,
        Array(graft.core.SpanIn("cfb", new String(enc, ISO_8859_1), "", 0))))
      assert(out.head.spans.map(_.text).mkString === "sealed body text")
      assert(out.count(_.level == 1) === 1) // img1.png, media child
      // nested in a zip: the decrypted package re-enters as a document
      // child carrying the body text
      val zip = graft.sources.Archive.zipBytes(Seq(("locked.docx", enc)))
      val out2 = Extract.explode(graft.core.DocIn(8L,
        Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
      val kids = out2.filter(_.level == 1)
      assert(kids.exists(_.spans.exists(_.text == "sealed body text")))
      assert(!out2.exists(_.no_content_reason == graft.core.Reason.Encrypted))
    }
    // AGILE (2010+) encryption: same silent open, HMAC verified
    for (pw <- Seq("VelvetSweatshop", "")) {
      val agile = OoxmlCrypt.buildAgileEncrypted(docx, pw)
      assert(Extract.extractSpan("cfb", new String(agile, ISO_8859_1))._1 === "sealed body text")
    }
    // agile real password refuses; a tampered package fails integrity
    val agileSealed = OoxmlCrypt.buildAgileEncrypted(docx, "actual-secret")
    intercept[graft.core.DecryptFailure](
      Extract.extractSpan("cfb", new String(agileSealed, ISO_8859_1)))
    val agileOk = OoxmlCrypt.buildAgileEncrypted(docx, "VelvetSweatshop")
    val streams = Cfb.streamEntries(agileOk, Int.MaxValue)
      .map { case (n, b) =>
        val bytes = b.get.clone()
        if (n == "EncryptedPackage") bytes(100) = (bytes(100) ^ 1).toByte
        (n, bytes)
      }
    val tampered = Cfb.build(streams)
    intercept[ParseFailure](
      graft.core.office.OoxmlCrypt.decryptDefault(streams.map { case (n, b) => (n, Some(b)) }))
    intercept[Exception](Extract.extractSpan("cfb", new String(tampered, ISO_8859_1)))
    // malformed agile descriptors classify, never raw exceptions
    def agileInfo(xml: String): Seq[(String, Option[Array[Byte]])] = Seq(
      ("EncryptionInfo", Some(Array[Byte](4, 0, 4, 0, 0x40, 0, 0, 0) ++ xml.getBytes(UTF_8))),
      ("EncryptedPackage", Some(new Array[Byte](24))))
    intercept[ParseFailure](OoxmlCrypt.decryptDefault(agileInfo(
      """<encryption><keyData saltSize="16" blockSize="junk" keyBits="128" hashSize="64" cipherAlgorithm="AES" cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512" saltValue="AA=="/></encryption>""")))
    intercept[ParseFailure](OoxmlCrypt.decryptDefault(agileInfo(
      "encryptedKey with no real structure")))
    // a REAL password still classifies encrypted at every site
    val sealed_ = OoxmlCrypt.buildEncrypted(docx, "actual-secret")
    intercept[graft.core.DecryptFailure](
      Extract.extractSpan("cfb", new String(sealed_, ISO_8859_1)))
    val zip = graft.sources.Archive.zipBytes(Seq(("locked.docx", sealed_)))
    val out = Extract.explode(graft.core.DocIn(9L,
      Array(graft.core.SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    val kids = out.filter(_.level == 1)
    assert(kids.length == 1 && kids.head.no_content_reason == graft.core.Reason.Encrypted)
  }

  test("an encrypted EPUB spawns its manifest images at the root and nested in a zip") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val png = graft.multimodal.Media.encodePng(3, 3, 0x445566)
    val epub = Epub.build("Sealed", Seq(
      ("c.xhtml", "<html><body><p>sealed chapter</p></body></html>")),
      images = Seq(("pic.png", png)))
    val enc = OoxmlCrypt.buildEncrypted(epub, "VelvetSweatshop")
    // children of `parent`, without the ids (they hash the parent's id)
    def kids(out: Seq[graft.core.DocOut], parent: String) =
      out.filter(_.parent_id == parent)
        .map(o => (o.no_content_reason, o.spans.map(_.text).toSeq)).sortBy(_.toString)
    val root = Extract.explode(DocIn(10L, Array(SpanIn("cfb", new String(enc, ISO_8859_1), "", 0))))
    val atRoot = kids(root, root.head.doc_id)
    val zip = Archive.zipBytes(Seq(("sealed.epub", enc)))
    val nested = Extract.explode(DocIn(11L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    val book = nested.filter(_.level == 1)
    assert(book.size == 1)
    val inZip = kids(nested, book.head.doc_id)
    assert(inZip.size == 1) // the manifest image only
    assert(atRoot == inZip)
  }
}
