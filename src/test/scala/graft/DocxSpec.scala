package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.office.{Docx, Pptx}
import graft.core.route.Extract
import graft.sources.Archive

/** OOXML (docx) goldens: WordprocessingML body extraction, entity handling,
  * lookalike tags, package routing (body on the doc, media parts as
  * children), and embedded docx-in-zip.
  */
class DocxSpec extends AnyFunSuite {

  test("bodyText extracts w:t runs, one line per paragraph, entities unescaped") {
    val xml = """<w:document><w:body>""" +
      """<w:p><w:r><w:t>first para</w:t></w:r><w:r><w:t xml:space="preserve"> cont</w:t></w:r></w:p>""" +
      """<w:p><w:r><w:t>a &amp; b &lt;tag&gt;</w:t></w:r></w:p>""" +
      """</w:body></w:document>"""
    assert(Docx.bodyText(xml) == "first para cont\na & b <tag>")
  }

  test("bodyText skips lookalike tags (w:tbl/w:tc) and self-closing w:t") {
    val xml = """<w:body><w:tbl><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p></w:tc></w:tbl>""" +
      """<w:p><w:r><w:t/></w:r><w:r><w:t>after empty</w:t></w:r></w:p></w:body>"""
    assert(Docx.bodyText(xml) == "cell\nafter empty")
    // junk never throws
    Docx.bodyText("<w:t unclosed")
    Docx.bodyText("")
    assert(Docx.bodyText("<w:tblGrid/>") == "")
  }

  test("bodyText resolves the prefix from xmlns: strict URI, odd prefix, default ns") {
    // ISO 29500 STRICT namespace with the conventional w: prefix
    val strict = """<w:document xmlns:w="http://purl.oclc.org/ooxml/wordprocessingml/main">""" +
      """<w:body><w:p><w:r><w:t>strict text</w:t></w:r></w:p></w:body></w:document>"""
    assert(Docx.bodyText(strict) == "strict text")
    // transitional URI bound to an arbitrary prefix — legal for any producer
    val odd = """<ns0:document xmlns:ns0="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<ns0:body><ns0:p><ns0:r><ns0:t>odd prefix</ns0:t></ns0:r></ns0:p></ns0:body></ns0:document>"""
    assert(Docx.bodyText(odd) == "odd prefix")
    // DEFAULT namespace: unprefixed tags
    val deflt = """<document xmlns="http://purl.oclc.org/ooxml/wordprocessingml/main">""" +
      """<body><p><r><t>default ns</t></r></p></body></document>"""
    assert(Docx.bodyText(deflt) == "default ns")
    // no declaration at all (fragments, legacy fixtures): w: fallback holds
    assert(Docx.bodyText("<w:p><w:r><w:t>bare</w:t></w:r></w:p>") == "bare")
    // SINGLE-quoted declarations are conformant XML 1.0 AttValue
    val single = "<ns1:document xmlns:ns1='http://purl.oclc.org/ooxml/wordprocessingml/main'>" +
      "<ns1:body><ns1:p><ns1:r><ns1:t>single quoted</ns1:t></ns1:r></ns1:p></ns1:body></ns1:document>"
    assert(Docx.bodyText(single) == "single quoted")
    // an unrelated xmlns must not hijack the prefix
    val other = """<w:document xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"""" +
      """ xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      """<w:body><w:p><w:r><w:t>both declared</w:t></w:r></w:p></w:body></w:document>"""
    assert(Docx.bodyText(other) == "both declared")
  }

  test("pptx slideText resolves strict/odd DrawingML prefixes") {
    val strict = """<p:sld xmlns:a="http://purl.oclc.org/ooxml/drawingml/main">""" +
      """<a:p><a:r><a:t>strict slide</a:t></a:r></a:p></p:sld>"""
    assert(Pptx.slideText(strict) == "strict slide")
    val odd = """<sld xmlns:d="http://schemas.openxmlformats.org/drawingml/2006/main">""" +
      """<d:p><d:r><d:t>renamed</d:t></d:r></d:p></sld>"""
    assert(Pptx.slideText(odd) == "renamed")
  }

  test("buildMinimal round-trips paragraphs (incl. XML-special chars)") {
    val paras = Seq("plain words", "with & < > \" specials", "third")
    val bytes = Docx.buildMinimal(paras)
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == paras.mkString("\n"))
  }

  test("docx package: body text on the root, media part as a child") {
    val bytes = Docx.buildMinimal(Seq("hello body"),
      Seq(("word/media/pic.bin", "picture bytes".getBytes(UTF_8))))
    val d = DocIn(40, Array(SpanIn("zip", new String(bytes, ISO_8859_1), "", 0)))
    val out = Extract.explode(d)
    val rid = Ids.rootId(40)
    assert(out.head.spans.head.text == "hello body")
    assert(out.head.no_content_reason == "")
    assert(out.length == 2)
    assert(out(1).doc_id == Ids.embedId("picture bytes", rid, 0, resourceName = "word/media/pic.bin"))
    // package internals ([Content_Types], document.xml) do NOT spawn
    assert(out(1).spans.head.text == "picture bytes")
  }

  test("xlsx: shared strings resolve, numeric and inline cells read, sheets ordered") {
    import graft.core.office.Xlsx
    val bytes = Xlsx.buildMinimal(Seq(
      Seq(("alpha", false), ("beta", false)),
      Seq(("alpha", false), ("42", true)))) // shared string reused + numeric cell
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == "alpha\tbeta\nalpha\t42")
    // inline strings + junk tolerance + entity unescape in shared strings
    assert(Xlsx.sheetText(
      """<sheetData><row><c t="inlineStr"><is><t>in line</t></is></c><c><v>7</v></c></row></sheetData>""",
      Vector.empty) == "in line\t7")
    assert(Xlsx.sharedStrings("<sst><si><t>a &amp; b</t></si><si><t>x</t><t>y</t></si></sst>")
      == Vector("a & b", "xy"))
    Xlsx.sheetText("<row><c t=\"s\"><v>99</v></c></row>", Vector.empty) // OOB index -> ""
    // malformed cell with no '>' must degrade, never throw (untrusted bytes)
    Xlsx.sheetText("<row><c x</row>", Vector.empty)
    // a self-closing styled cell must NOT swallow its successor
    assert(Xlsx.sheetText(
      """<row><c r="A1" s="1"/><c t="s"><v>0</v></c></row>""",
      Vector("kept")) == "\tkept")
    // <rowBreaks> is not a row (name-terminator check)
    assert(Xlsx.sheetText(
      """<sheetData><row><c><v>1</v></c></row></sheetData><rowBreaks count="1"/>""",
      Vector.empty) == "1")
    // spec-valid quote/whitespace variants of the t attribute must not
    // fall through to the numeric branch (single quotes, spaced '=')
    assert(Xlsx.sheetText(
      """<row><c t = 's'><v>0</v></c><c t='inlineStr'><is><t>iv</t></is></c></row>""",
      Vector("shared")) == "shared\tiv")
    // an attribute merely CONTAINING 't' (e.g. format="s") is not t
    assert(Xlsx.sheetText(
      """<row><c fmt="s"><v>3</v></c></row>""", Vector("no")) == "3")
  }

  test("pptx: slides extract in numeric order, one line per a:p paragraph") {
    import graft.core.office.Pptx
    val bytes = Pptx.buildMinimal(Seq(
      Seq("slide one line a", "slide one line b"),
      Seq("slide two line a")))
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == "slide one line a\nslide one line b\nslide two line a")
  }

  test("xlsx/pptx EMBEDDED in an archive become document children with body text") {
    import graft.core.office.{Pptx, Xlsx}
    val xlsx = Xlsx.buildMinimal(Seq(Seq(("cell", false))))
    val pptx = Pptx.buildMinimal(Seq(Seq("deck text")))
    val zip = Archive.zipBytes(Seq(("sheet.xlsx", xlsx), ("deck.pptx", pptx)))
    val out = Extract.explode(DocIn(42, Array(SpanIn("zip",
      new String(zip, ISO_8859_1), "", 0))))
    assert(out.length == 3)
    assert(out(1).spans.map(_.text).toSeq == Seq("cell"))
    assert(out(2).spans.map(_.text).toSeq == Seq("deck text"))
  }

  test("docx EMBEDDED in a zip becomes a document child with body text") {
    val inner = Docx.buildMinimal(Seq("inner doc text"))
    val zip = Archive.zipBytes(Seq(("report.docx", inner), ("readme.txt", "hi".getBytes(UTF_8))))
    val d = DocIn(41, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0)))
    val out = Extract.explode(d)
    assert(out.length == 3) // root + docx child + readme child
    val docxChild = out(1)
    assert(docxChild.level == 1)
    assert(docxChild.spans.map(_.text).toSeq == Seq("inner doc text"))
    assert(out(2).spans.head.text == "hi")
  }

  test("Odf build/bodyText round-trips paragraphs, spans, entities, headings") {
    import graft.core.office.Odf
    val odt = Odf.buildMinimal(Seq("first paragraph", "a < b & c"))
    val entries = graft.sources.Archive.unzip(odt, 1 << 20)
    assert(Odf.isOdf(entries))
    val xml = new String(entries.collectFirst {
      case ("content.xml", Some(b)) => b
    }.get, java.nio.charset.StandardCharsets.UTF_8)
    assert(Odf.bodyText(xml) == "first paragraph\na < b & c")
    // nested spans strip, headings count as paragraphs, empty p is a line
    val hand = "<office:text><text:h>Title</text:h>" +
      "<text:p>runs <text:span text:style-name=\"T1\">inside</text:span> here</text:p>" +
      "<text:p/></office:text>"
    assert(Odf.bodyText(hand) == "Title\nruns inside here\n")
    // a footnote NESTS text:p inside text:p: the inner close must not
    // truncate the outer paragraph's tail
    val foot = "<text:p>body<text:note><text:note-body><text:p>note</text:p>" +
      "</text:note-body></text:note> rest</text:p>"
    assert(Odf.bodyText(foot) == "bodynote rest")
    // lookalike element names must not open or close paragraphs
    val look = "<text:page-count/><text:p>real para</text:p>"
    assert(Odf.bodyText(look) == "real para")
  }

  test("ods sheetText: rows/cells, repeats, covered merges, trailing trim") {
    import graft.core.office.Odf
    import graft.core.route.Extract
    // builder round-trip through the zip route
    val ods = Odf.buildSpreadsheet(Seq(Seq("a1", "b1"), Seq("a2", "b2")))
    val latin1 = new String(ods, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Extract.extractSpan("zip", latin1)._1 == "a1\tb1\na2\tb2")
    // hand-built structural cases
    val xml =
      """<table:table><table:table-row>""" +
        """<table:table-cell table:number-columns-repeated="3"><text:p>x</text:p></table:table-cell>""" +
        """<table:table-cell/><table:covered-table-cell/>""" +
        """<table:table-cell><text:p>end</text:p></table:table-cell>""" +
        """<table:table-cell table:number-columns-repeated="16384"/>""" +
        """</table:table-row><table:table-row/></table:table>"""
    // text repeats expand, empty repeats collapse, trailing empties trim
    assert(Odf.sheetText(xml) == "x\tx\tx\t\t\tend\n")
    // a cell with two paragraphs space-joins inside its tab slot
    val multi = """<table:table-row><table:table-cell><text:p>one</text:p>""" +
      """<text:p>two</text:p></table:table-cell></table:table-row>"""
    assert(Odf.sheetText(multi) == "one two")
  }

  test("odp presentation text flattens draw pages in document order") {
    import graft.core.office.Odf
    import graft.core.route.Extract
    val odp = Odf.buildPresentation(Seq(Seq("slide one line"), Seq("slide two line")))
    val latin1 = new String(odp, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Extract.extractSpan("zip", latin1)._1 == "slide one line\nslide two line")
  }

  test("xps: Glyphs text in numeric page order despite reversed archive order") {
    import graft.core.office.Xps
    import graft.core.route.Extract
    val xps = Xps.build(Seq(Seq("page one line a", "page one line b"), Seq("page two line")))
    val latin1 = new String(xps, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Extract.extractSpan("zip", latin1)._1 ==
      "page one line a\npage one line b\npage two line")
    // attribute tolerance: single quotes, spacing, entity unescape
    val page = """<FixedPage><Glyphs Fill='#000' UnicodeString = 'a &amp; b'/>""" +
      """<Glyphs UnicodeString="second"></Glyphs><Path Data="M0,0"/></FixedPage>"""
    assert(Xps.pageText(page) == "a & b\nsecond")
  }

  test("a non-ODF zip with lookalike entry names still explodes generically") {
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    // files NAMED mimetype/content.xml but a non-ODF mimetype value: the
    // package route must not claim it and swallow the other entries
    val fake = graft.sources.Archive.zipBytes(Seq(
      ("mimetype", "text/plain".getBytes(UTF_8)),
      ("content.xml", "<not-odf/>".getBytes(UTF_8)),
      ("data.txt", "generic entry survives".getBytes(UTF_8))))
    val out = Extract.explode(
      DocIn(23L, Array(SpanIn("zip", new String(fake, ISO_8859_1), "", 0))))
    assert(out.exists(n => n.level == 1 &&
      n.spans.map(_.text).mkString == "generic entry survives"))
    assert(out.count(_.level == 1) == 3) // every entry a child, none swallowed
  }

  test("an odt explodes as a package: body on the root, picture child") {
    import graft.core.{DocIn, SpanIn}
    import graft.core.office.Odf
    import graft.core.route.Extract
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    val odt = Odf.buildMinimal(Seq("odt body line"), Seq(("pic.bin", "picture".getBytes(UTF_8))))
    val out = Extract.explode(
      DocIn(21L, Array(SpanIn("zip", new String(odt, ISO_8859_1), "", 0))))
    assert(out.head.spans.map(_.text).mkString == "odt body line")
    assert(out.exists(n => n.level == 1 && n.spans.map(_.text).mkString == "picture"))
    // mimetype/content.xml are package internals: exactly one child
    assert(out.count(_.level == 1) == 1)
  }

  test("an epub routes as a PACKAGE: spine text on the node, not a generic zip") {
    import graft.core.{DocIn, ParseFailure, SpanIn}
    import graft.core.route.Extract
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    // round 3 let epubs ride the generic zip explosion; the dedicated OCF/
    // OPF route (EpubSpec) supersedes that — the book text lands on the
    // package node itself, in spine order
    val epub = graft.core.office.Epub.build("B",
      Seq(("ch1.xhtml", "<html><body><p>chapter one text</p></body></html>")))
    val out = Extract.explode(
      DocIn(22L, Array(SpanIn("zip", new String(epub, ISO_8859_1), "", 0))))
    assert(out.find(_.level == 0).get.spans.map(_.text).mkString ==
      "B\nchapter one text")
    // a VERIFIED epub mimetype without the OCF container is malformed —
    // the package probe classifies, it must not fall back to generic
    val broken = graft.sources.Archive.zipBytes(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8)),
      ("OEBPS/ch1.xhtml", "<html><body><p>x</p></body></html>".getBytes(UTF_8))))
    intercept[ParseFailure](Extract.explode(
      DocIn(23L, Array(SpanIn("zip", new String(broken, ISO_8859_1), "", 0)))))
  }

  test("iwork: legacy .pages text extracts, gzipped index, styled runs flatten") {
    import graft.core.office.Iwork
    val paras = Seq("alpha beta gamma", "delta & <epsilon>", "solo")
    val bytes = Iwork.buildPages(paras)
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == paras.mkString("\n"))
    // routes as a PACKAGE, not a generic zip: body on the root, no children
    val out = Extract.explode(DocIn(25L,
      Array(SpanIn("zip", new String(bytes, ISO_8859_1), "", 0))))
    assert(out.head.spans.map(_.text).mkString("") == txt)
    assert(out.length == 1)
    // <sf:path> lookalike tags never parse as paragraphs
    assert(Iwork.paragraphs("<sf:path d=\"x\"/><sf:p>real</sf:p>") == "real")
    // unclosed paragraph classifies
    intercept[ParseFailure](Iwork.paragraphs("<sf:p>never closes"))
  }

  test("iwa: 2013-era bundle round-trips text runs through snappy chunks") {
    import graft.core.office.{Iwa, Iwork}
    val paras = Seq("first paragraph", "second one", "unicode ünïcødé ✓")
    val pkg = Iwa.buildPages13(paras)
    def ents(b: Array[Byte]) = graft.sources.Archive.unzip(b, Int.MaxValue)
    assert(Iwork.isIwork(ents(pkg)) && Iwork.isIwork13(ents(pkg)))
    assert(Iwork.docText(ents(pkg)) == paras.mkString("\n"))
    // part-level: harvest sees exactly the runs, order preserved
    assert(Iwa.harvest(Iwa.buildIwa(paras)) == paras.toVector)
    assert(Iwa.harvest(Iwa.buildIwa(Nil)).isEmpty)
    // non-StorageArchive messages are skipped, not text
    // (type 1 ArchiveInfo with an empty payload in front)
    val multi = Iwa.buildIwa(Seq("kept"))
    assert(Iwa.harvest(multi) == Vector("kept"))
    // the explode route: body text on the package node, era-invisible
    val legacy = Iwork.buildPages(paras.take(2))
    val modern = Iwa.buildPages13(paras.take(2))
    for (b <- Seq(legacy, modern)) {
      val out = Extract.explode(DocIn(31L,
        Array(SpanIn("zip", new String(b, ISO_8859_1), "", 0))))
      assert(out.head.spans.map(_.text).mkString("") == paras.take(2).mkString("\n"))
    }
  }

  test("iwa: malformed chunks/snappy/protobuf classify as ParseFailure") {
    import graft.core.office.Iwa
    // bad chunk type byte
    intercept[ParseFailure](Iwa.decodeChunks(Array[Byte](1, 0, 0, 0)))
    // declared chunk length past end
    intercept[ParseFailure](Iwa.decodeChunks(Array[Byte](0, 9, 0, 0, 1)))
    // valid framing, garbage snappy
    intercept[ParseFailure](Iwa.decodeChunks(Array[Byte](0, 3, 0, 0, 0x7f, 0x7f, 0x7f)))
    // truncated protobuf stream: drop the trailing text bytes so the
    // declared payload length overruns
    val good = Iwa.buildIwa(Seq("x"))
    val shortOne = Iwa.buildIwa(Seq("xy")) // same shapes, longer payload
    intercept[ParseFailure] {
      // re-chunk a stream cut mid-payload
      val stream = Iwa.decodeChunks(shortOne)
      val cut = java.util.Arrays.copyOf(stream, stream.length - 1)
      val comp = org.xerial.snappy.Snappy.compress(cut)
      val part = Array[Byte](0, (comp.length & 0xff).toByte,
        ((comp.length >> 8) & 0xff).toByte, ((comp.length >> 16) & 0xff).toByte) ++ comp
      Iwa.harvest(part)
    }
    // a crafted MessageInfo length near Int.MaxValue must CLASSIFY, not
    // wrap the bound check negative into an AIOOBE (Long arithmetic)
    intercept[ParseFailure] {
      val mi = Array[Byte](0x08, 0xD1.toByte, 0x0F, // type = 2001
        0x18, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0x07) // len = MaxInt
      val info = Array[Byte](0x08, 0x01, 0x12, mi.length.toByte) ++ mi
      val stream = Array[Byte](info.length.toByte) ++ info // varint len + info, no payload
      val comp = org.xerial.snappy.Snappy.compress(stream)
      val part = Array[Byte](0, (comp.length & 0xff).toByte,
        ((comp.length >> 8) & 0xff).toByte, ((comp.length >> 16) & 0xff).toByte) ++ comp
      Iwa.harvest(part)
    }
    // byte-flip fuzz over the whole part: always ParseFailure or success
    (0 until good.length).foreach { i =>
      val b = good.clone(); b(i) = (b(i) ^ 0x2a).toByte
      try { Iwa.harvest(b); () } catch { case _: ParseFailure => () }
    }
  }

  test("iwork: a generic zip carrying a non-Apple index.xml is NOT hijacked") {
    import graft.core.office.Iwork
    // name-only routing would swallow this archive: empty body, no spawns
    val generic = graft.sources.Archive.zipBytes(Seq(
      ("index.xml", "<catalog><item>not apple</item></catalog>".getBytes(UTF_8)),
      ("data/readme.txt", "archive payload".getBytes(UTF_8))))
    def ents(b: Array[Byte]) = graft.sources.Archive.unzip(b, Int.MaxValue)
    assert(!Iwork.isIwork(ents(generic)))
    val out = Extract.explode(DocIn(26L,
      Array(SpanIn("zip", new String(generic, ISO_8859_1), "", 0))))
    // generic-archive route: children spawn (the readme is one of them)
    assert(out.exists(d => d.level == 1 && d.spans.exists(_.text == "archive payload")))
    // the real fixture still validates (namespaced, gzipped)
    assert(Iwork.isIwork(ents(Iwork.buildPages(Seq("p")))))
    // refused/undecodable index: not iWork either, no throw from the gate
    assert(!Iwork.isIwork(Seq(("index.xml.gz", Some(Array[Byte](1, 2, 3))))))
    assert(!Iwork.isIwork(Seq(("index.xml", None))))
  }

  test("odg: graphics pages route as ODF and flatten their text frames") {
    import graft.core.office.Odf
    val bytes = Odf.buildGraphics(Seq(Seq("drawing label one"), Seq("page two label")))
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == "drawing label one\npage two label")
    val out = Extract.explode(DocIn(27L,
      Array(SpanIn("zip", new String(bytes, ISO_8859_1), "", 0))))
    assert(out.length == 1 && out.head.spans.map(_.text).mkString("") == txt)
  }

  test("vsdx: shape Text harvests in page order; lookalikes and the index skip") {
    import graft.core.office.Vsdx
    val bytes = Vsdx.buildMinimal(Seq(Seq("box one", "arrow & <label>"), Seq("page two box")))
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == "box one\narrow & <label>\npage two box")
    // routes as a PACKAGE, not a generic zip: body on the root, no children
    val out = Extract.explode(DocIn(26L,
      Array(SpanIn("zip", new String(bytes, ISO_8859_1), "", 0))))
    assert(out.length == 1 && out.head.spans.map(_.text).mkString("") == txt)
    // <TextXForm> lookalike elements and self-closed <Text/> never harvest
    assert(Vsdx.pageText("<Shape><TextXForm>geom</TextXForm><Text/><Text>real</Text></Shape>") == "real")
    // nested field markers strip, entities decode
    assert(Vsdx.pageText("<Text><cp IX='0'/>a &amp; b</Text>") == "a & b")
    // the pages INDEX part is not a page
    assert(!Vsdx.isPage("visio/pages/pages.xml") && Vsdx.isPage("visio/pages/page12.xml"))
  }

  test("xlsb: BIFF12 cells decode — SST, inline, RK ints, doubles, bools") {
    import graft.core.office.Xlsb
    val rows = Seq(
      Seq(("alpha", false), ("beta", false)),
      Seq(("alpha", false), ("42", true)),      // SST dedupe + RK int
      Seq(("-7", true), ("2.5", true)),          // negative RK, real
      Seq(("total", false), ("123456789", true)))
    val bytes = Xlsb.buildMinimal(rows)
    val txt = Extract.extractSpan("zip", new String(bytes, ISO_8859_1))._1
    assert(txt == "alpha\tbeta\nalpha\t42\n-7\t2.5\ntotal\t123456789")
    // routes as a PACKAGE through the zip span: body on the root document
    val d = DocIn(24L, Array(SpanIn("zip", new String(bytes, ISO_8859_1), "", 0)))
    val out = Extract.explode(d)
    assert(out.head.spans.map(_.text).mkString("") == txt)
    assert(out.length == 1) // no generic entry children
  }

  test("xlsb: malformed record streams throw ParseFailure") {
    import graft.core.office.Xlsb
    // shared-string index out of range
    val sheet = {
      val good = Xlsb.buildMinimal(Seq(Seq(("x", false))))
      val entries = graft.sources.Archive.unzip(good, 1 << 20)
      val bad = entries.map {
        case ("xl/sharedStrings.bin", _) => ("xl/sharedStrings.bin", Array.emptyByteArray)
        case (n, b) => (n, b.get)
      }
      graft.sources.Archive.zipBytes(bad)
    }
    intercept[ParseFailure](
      Extract.extractSpan("zip", new String(sheet, ISO_8859_1)))
    // truncated record payload
    intercept[ParseFailure](Xlsb.sheetText(Array[Byte](7, 20, 1, 2), Vector.empty))
  }
}
