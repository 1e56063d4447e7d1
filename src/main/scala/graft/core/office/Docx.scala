package graft.core.office

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal OOXML WordprocessingML (docx) support, from scratch on the
  * published ECMA-376 package layout: a docx is a ZIP whose
  * `word/document.xml` carries the body as `<w:p>` paragraphs of `<w:r>`
  * runs with `<w:t>` text. The reference extracts these through Tika's
  * OOXML parser and recursively spawns the package's embedded media/objects
  * (`recursive_embedded.docx` fixture, `EmbedSpawner.java:429-515`).
  *
  * Here: body text = `<w:t>` runs concatenated, one line per paragraph;
  * embedded parts (word/media/, word/embeddings/) spawn as children; the
  * rest of the package (content types, styles, rels) is internals and does
  * not spawn. Parsing is a linear scan — no XML library, no DOM.
  */
object Docx {

  val DocumentEntry = "word/document.xml"

  /** Body text of word/document.xml: `<w:t>` run contents in document
    * order, a newline per closed paragraph, XML entities unescaped.
    * Tolerant of junk — scans, never throws.
    *
    * The run/paragraph prefix is RESOLVED from the document's own xmlns
    * declarations rather than assumed to be `w:` — ISO 29500 STRICT
    * documents bind a different namespace URI
    * (`http://purl.oclc.org/ooxml/wordprocessingml/main`), and any
    * conformant producer may pick an arbitrary prefix (or the default
    * namespace) for either URI. Tika/POI match by URI; matching the
    * literal `w:` would silently extract nothing from such files.
    */
  def bodyText(xml: String): String = {
    val p = nsPrefix(xml, WmlUris, "w")
    runsText(xml, tagOf(p, "t"), tagOf(p, "p"))
  }

  /** Transitional + strict WordprocessingML main-namespace URIs. */
  private val WmlUris = Seq(
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main",
    "http://purl.oclc.org/ooxml/wordprocessingml/main")

  /** Transitional + strict DrawingML main-namespace URIs. */
  private[office] val DmlUris = Seq(
    "http://schemas.openxmlformats.org/drawingml/2006/main",
    "http://purl.oclc.org/ooxml/drawingml/main")

  private[office] def tagOf(prefix: String, local: String): String =
    if (prefix.isEmpty) local else prefix + ":" + local

  private val XmlnsDecl =
    """xmlns(?::([A-Za-z0-9_.\-]+))?\s*=\s*(?:"([^"]*)"|'([^']*)')""".r

  /** The prefix the document binds to any of `uris` (first declaration
    * wins; "" means the default namespace — unprefixed tags), or
    * `fallback` when none is declared (fragments and legacy fixtures).
    * Both XML 1.0 AttValue quote forms accepted — a single-quoted
    * declaration is conformant and would otherwise silently extract
    * nothing. A linear scan over declarations only — tolerant of junk
    * XML like the rest of this scanner family.
    */
  private[office] def nsPrefix(xml: String, uris: Seq[String], fallback: String): String =
    XmlnsDecl.findAllMatchIn(xml)
      .collectFirst {
        case m if uris.contains(Option(m.group(2)).getOrElse(m.group(3))) =>
          Option(m.group(1)).getOrElse("")
      }
      .getOrElse(fallback)

  /** Generic OOXML run scanner: `<runTag>` contents in document order, a
    * newline per closed `</paraTag>` (WordprocessingML w:t/w:p,
    * DrawingML a:t/a:p). Lookalike tags (w:tbl vs w:t) are skipped by
    * requiring a name-terminating char.
    */
  private[office] def runsText(xml: String, runTag: String, paraTag: String): String = {
    val open = "<" + runTag
    val close = "</" + runTag + ">"
    val paraClose = "</" + paraTag + ">"
    val sb = new StringBuilder
    var i = 0
    val n = xml.length
    def isRunOpen(t: Int): Boolean = {
      val c = if (t + open.length < n) xml.charAt(t + open.length) else ' '
      c == '>' || c == ' ' || c == '/'
    }
    while (i < n) {
      val t0 = xml.indexOf(open, i)
      val t = if (t0 >= 0 && !isRunOpen(t0)) {
        var k = t0
        while (k >= 0 && !isRunOpen(k)) k = xml.indexOf(open, k + open.length)
        k
      } else t0
      val p = xml.indexOf(paraClose, i)
      if (t < 0 && p < 0) i = n
      else if (p >= 0 && (t < 0 || p < t)) {
        // one newline per CLOSED paragraph, unconditionally — an empty
        // paragraph is an empty line, exactly like the SQL oracle's
        // string_agg over lines (the final close's newline is trimmed below)
        sb.append('\n')
        i = p + paraClose.length
      } else {
        val gt = xml.indexOf('>', t)
        if (gt < 0) i = n
        else if (xml.charAt(gt - 1) == '/') i = gt + 1 // self-closing run
        else {
          val end = xml.indexOf(close, gt)
          if (end < 0) i = n
          else { sb.append(unescape(xml.substring(gt + 1, end))); i = end + close.length }
        }
      }
    }
    // a trailing paragraph close leaves one dangling newline
    if (sb.nonEmpty && sb.charAt(sb.length - 1) == '\n') sb.setLength(sb.length - 1)
    sb.toString
  }

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&") // &amp; LAST (no double-decode)

  /** Deterministic minimal docx package: one `<w:t>` run per paragraph,
    * plus embedded media parts. Round-trips through [[bodyText]].
    */
  def buildMinimal(paragraphs: Seq[String],
                   media: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val body = paragraphs.map(p => s"<w:p><w:r><w:t>${escape(p)}</w:t></w:r></w:p>").mkString
    val doc = ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      s"<w:body>$body</w:body></w:document>")
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/></Types>"""
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", contentTypes.getBytes(UTF_8)),
      (DocumentEntry, doc.getBytes(UTF_8))) ++ media)
  }

}

/** SpreadsheetML (xlsx): sheets under xl/worksheets/, string cells indirect
  * through xl/sharedStrings.xml `<si>` items (each the concat of its `<t>`
  * runs), numeric cells carry their `<v>` literally, inline strings ride in
  * `<is><t>`. Rendered as tab-joined cells, newline-joined rows, sheets in
  * numeric order — the delimited-table convention [[graft.core.text.Csv]]
  * uses. Linear scans, junk-tolerant.
  */
object Xlsx {

  def sharedStrings(xml: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = xml.length
    while (i < n) {
      val s = xml.indexOf("<si>", i)
      if (s < 0) i = n
      else {
        val e = xml.indexOf("</si>", s)
        if (e < 0) i = n
        else {
          out += Docx.runsText(xml.substring(s + 4, e), "t", "si")
          i = e + 5
        }
      }
    }
    out.result()
  }

  /** One worksheet's cells: rows by `<row>`, cells by `<c ...>`; `t="s"`
    * resolves through the shared-string table, `t="inlineStr"` reads
    * `<is><t>`, anything else takes `<v>` verbatim (numbers).
    */
  def sheetText(xml: String, shared: Vector[String]): String = {
    val rows = new StringBuilder
    var i = 0
    val n = xml.length
    var firstRow = true
    // tag-open matcher with a name-terminating char, so <rowBreaks>/<cols>
    // never parse as <row>/<c> (same rule as Docx.runsText)
    def tagAt(tag: String, from: Int, until: Int): Int = {
      var k = xml.indexOf(tag, from)
      while (k >= 0 && k < until && {
        val c = if (k + tag.length < n) xml.charAt(k + tag.length) else '>'
        !(c == ' ' || c == '>' || c == '/')
      }) k = xml.indexOf(tag, k + tag.length)
      if (k >= 0 && k < until) k else -1
    }
    while (i < n) {
      val r = tagAt("<row", i, n)
      if (r < 0) i = n
      else {
        val re = xml.indexOf("</row>", r)
        val rowEnd = if (re < 0) n else re
        if (!firstRow) rows.append('\n')
        firstRow = false
        var j = r
        var firstCell = true
        var continue = true
        while (continue) {
          val c = tagAt("<c", j, rowEnd)
          if (c < 0) continue = false
          else {
            val gt = xml.indexOf('>', c)
            if (gt < 0 || gt >= rowEnd) continue = false // unterminated cell tag: row over
            else {
              val attrs = xml.substring(c, gt)
              val selfClosing = xml.charAt(gt - 1) == '/'
              val cellEnd0 = xml.indexOf("</c>", gt)
              val cellEnd =
                if (selfClosing) gt // a bare <c/> owns no body, never the NEXT cell's close
                else if (cellEnd0 < 0 || cellEnd0 > rowEnd) rowEnd
                else cellEnd0
              val body = if (selfClosing || gt + 1 > cellEnd) "" else xml.substring(gt + 1, cellEnd)
              val v = {
                val vs = body.indexOf("<v>")
                val ve = body.indexOf("</v>")
                if (vs >= 0 && ve > vs) body.substring(vs + 3, ve) else ""
              }
              val cell = attrVal(attrs, "t") match {
                case "s" =>
                  val idx = v.toIntOption.getOrElse(-1)
                  if (idx >= 0 && idx < shared.length) shared(idx) else ""
                case "inlineStr" => Docx.runsText(body, "t", "is")
                case _ => Docx.unescape(v)
              }
              if (!firstCell) rows.append('\t')
              firstCell = false
              rows.append(cell)
              j = if (selfClosing) gt + 1 else cellEnd + 4
            }
          }
        }
        i = rowEnd + 6
      }
    }
    rows.toString
  }

  /** Value of an XML attribute in a raw tag-attribute substring, tolerant
    * of quote style (single or double) and whitespace around '=' — both
    * spec-valid, so `t = 's'` must not fall through to the numeric branch.
    * Empty string when absent.
    */
  private[office] def attrVal(attrs: String, name: String): String = {
    var i = attrs.indexOf(name)
    while (i >= 0) {
      val boundary = i > 0 && Character.isWhitespace(attrs.charAt(i - 1))
      var j = i + name.length
      if (boundary) {
        while (j < attrs.length && Character.isWhitespace(attrs.charAt(j))) j += 1
        if (j < attrs.length && attrs.charAt(j) == '=') {
          j += 1
          while (j < attrs.length && Character.isWhitespace(attrs.charAt(j))) j += 1
          if (j < attrs.length && (attrs.charAt(j) == '"' || attrs.charAt(j) == '\'')) {
            val e = attrs.indexOf(attrs.charAt(j), j + 1)
            if (e > j) return attrs.substring(j + 1, e)
          }
        }
      }
      i = attrs.indexOf(name, i + 1)
    }
    ""
  }

  /** Deterministic minimal xlsx: every string cell shared, the per-row
    * `nums` flags marking numeric `<v>` cells. Round-trips through
    * [[Ooxml.textFromEntries]].
    */
  def buildMinimal(rows: Seq[Seq[(String, Boolean)]]): Array[Byte] = { // (value, isNumber)
    val strings = rows.flatten.collect { case (v, false) => v }.distinct
    val idx = strings.zipWithIndex.toMap
    val sst = "<sst>" + strings.map(s => s"<si><t>${Docx.escape(s)}</t></si>").mkString + "</sst>"
    val body = rows.map { cells =>
      "<row>" + cells.map {
        case (v, true) => s"<c><v>${Docx.escape(v)}</v></c>"
        case (v, false) => s"""<c t="s"><v>${idx(v)}</v></c>"""
      }.mkString + "</row>"
    }.mkString
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8)),
      ("xl/workbook.xml", "<workbook/>".getBytes(UTF_8)),
      ("xl/sharedStrings.xml", sst.getBytes(UTF_8)),
      ("xl/worksheets/sheet1.xml", s"<worksheet><sheetData>$body</sheetData></worksheet>".getBytes(UTF_8))))
  }
}

/** PresentationML (pptx): slides under ppt/slides/slideN.xml carry
  * DrawingML `<a:p>` paragraphs of `<a:r><a:t>` runs; text is slides in
  * numeric order, one line per paragraph.
  */
object Pptx {

  /** DrawingML prefix resolved from the slide's own xmlns declarations
    * (strict vs transitional URI, arbitrary prefix) — see
    * [[Docx.bodyText]].
    */
  def slideText(xml: String): String = {
    val p = Docx.nsPrefix(xml, Docx.DmlUris, "a")
    Docx.runsText(xml, Docx.tagOf(p, "t"), Docx.tagOf(p, "p"))
  }

  def buildMinimal(slides: Seq[Seq[String]]): Array[Byte] = {
    val slideEntries = slides.zipWithIndex.map { case (paras, i) =>
      val body = paras.map(p =>
        s"<a:p><a:r><a:t>${Docx.escape(p)}</a:t></a:r></a:p>").mkString
      (s"ppt/slides/slide${i + 1}.xml",
        s"<p:sld><p:txBody>$body</p:txBody></p:sld>".getBytes(UTF_8))
    }
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8)),
      ("ppt/presentation.xml", "<p:presentation/>".getBytes(UTF_8))) ++ slideEntries)
  }
}

/** Visio `.vsdx` drawings (OPC packages, the Tika XDGFParser surface):
  * page parts at `visio/pages/page<N>.xml` keep all geometry in
  * attributes — prose lives only as character data inside `<Text>`
  * elements (one per shape), which this harvests in document order
  * through the shared XML text machinery (nested `<cp/>`-style field
  * markers stripped, entities decoded).
  */
object Vsdx {

  private val PagePrefix = "visio/pages/page"

  /** page<N>.xml parts only — `visio/pages/pages.xml` (the page INDEX)
    * must not parse as a page.
    */
  def isPage(n: String): Boolean =
    n.startsWith(PagePrefix) && n.endsWith(".xml") && {
      val rest = n.substring(PagePrefix.length, n.length - 4)
      rest.nonEmpty && rest.forall(_.isDigit)
    }

  /** Character data of each `<Text>` element, one line per shape. */
  def pageText(xml: String): String = {
    val out = Vector.newBuilder[String]
    var i = 0
    var done = false
    while (!done) {
      val a = xml.indexOf("<Text", i)
      // exact element name: "<TextXForm"-style lookalikes don't match
      if (a < 0 || a + 5 >= xml.length) done = true
      else if (xml.charAt(a + 5) != '>' && !xml.charAt(a + 5).isWhitespace &&
        xml.charAt(a + 5) != '/') i = a + 5
      else {
        val open = xml.indexOf('>', a)
        if (open < 0) done = true
        else if (xml.charAt(open - 1) == '/') i = open + 1 // <Text/>: empty shape
        else {
          val close = xml.indexOf("</Text>", open)
          if (close < 0) done = true
          else {
            out += graft.core.text.Xml.text(
              "<t>" + xml.substring(open + 1, close) + "</t>")
            i = close + 7
          }
        }
      }
    }
    out.result().mkString("\n")
  }

  def buildMinimal(pages: Seq[Seq[String]]): Array[Byte] = {
    val pageEntries = pages.zipWithIndex.map { case (shapes, i) =>
      val body = shapes.map(s =>
        s"<Shape ID='${i + 1}' Type='Shape'><Text>${Docx.escape(s)}</Text></Shape>").mkString
      (s"visio/pages/page${i + 1}.xml",
        s"<PageContents><Shapes>$body</Shapes></PageContents>".getBytes(UTF_8))
    }
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8)),
      ("visio/document.xml", "<VisioDocument/>".getBytes(UTF_8)),
      ("visio/pages/pages.xml", "<Pages/>".getBytes(UTF_8))) ++ pageEntries)
  }
}

/** The OOXML package router: renders a zip's body text from its
  * text-bearing parts (word/document.xml, xl/sharedStrings + sheets,
  * ppt/slides, ...); a plain archive yields "". The zip row of
  * [[graft.core.route.Extract]] reads it at the root and nested alike.
  */
object Ooxml {

  /** Text-part name prefixes — deliberately TIGHT (`.../sheet`, not
    * `xl/worksheets/`), so the per-part _rels relationship files real
    * Office writers emit under `xl/worksheets/_rels/` never parse as
    * sheets/slides.
    */
  private val SheetPrefix = "xl/worksheets/sheet"
  private val SlidePrefix = "ppt/slides/slide"

  def isPackage(names: Seq[String]): Boolean =
    names.contains(Docx.DocumentEntry) ||
      names.exists(_.startsWith(SheetPrefix)) ||
      names.exists(_.startsWith(SlidePrefix)) ||
      names.exists(Vsdx.isPage)

  /** Package detection over full entries — OOXML by its well-known part
    * names, ODF and EPUB by a VERIFIED mimetype payload (see
    * [[Odf.isOdf]] / [[Epub.isEpub]]).
    */
  def isPackageEntries(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    isPackage(entries.map(_._1)) || Odf.isOdf(entries) || Epub.isEpub(entries) ||
      Xps.isXps(entries.map(_._1)) || Iwork.isIwork(entries)

  /** Embedded parts that spawn as children (media AND OLE-embedded
    * objects, consistently across the three package types); package
    * internals (content types, styles, rels, the text parts themselves)
    * do not.
    */
  def isEmbeddedPart(name: String): Boolean =
    name.startsWith("word/media/") || name.startsWith("word/embeddings/") ||
      name.startsWith("xl/media/") || name.startsWith("xl/embeddings/") ||
      name.startsWith("ppt/media/") || name.startsWith("ppt/embeddings/") ||
      name.startsWith("Pictures/") // ODF images

  /** The part that opens an OPC package (`[Content_Types].xml`: OOXML,
    * XPS, Visio) or an ODF/EPUB one (`mimetype`): an archive walk cut off
    * after it still reads as a package.
    */
  def isPackageMarker(name: String): Boolean =
    name == "[Content_Types].xml" || name == "mimetype"

  /** Numeric suffix for sheetN/slideN ordering (archive order is not the
    * document order).
    */
  private def partNo(name: String): Int =
    name.reverse.dropWhile(!_.isDigit).takeWhile(_.isDigit).reverse
      .toIntOption.getOrElse(Int.MaxValue)

  def textFromEntries(entries: Vector[(String, Option[Array[Byte]])]): String = {
    def str(b: Array[Byte]) = new String(b, UTF_8)
    val byName = entries.collect { case (n, Some(b)) => (n, b) }
    // NO nonEmpty filtering: an all-empty sheet/slide is an empty LINE,
    // exactly like the SQL oracle's string_agg over lines — silently
    // dropping it would diverge on documents with empty trailing parts
    if (entries.exists(_._1 == Docx.DocumentEntry))
      byName.collectFirst { case (Docx.DocumentEntry, b) => Docx.bodyText(str(b)) }.getOrElse("")
    else if (Epub.isEpub(entries)) // checked before ODF: mimetypes disjoint
      Epub.bookText(entries)
    else if (Xps.isXps(entries.map(_._1)))
      Xps.pagesText(entries)
    else if (Iwork.isIwork(entries))
      Iwork.docText(entries)
    else if (Odf.isOdf(entries))
      byName.collectFirst { case ("content.xml", b) =>
        Odf.contentText(str(b), Odf.mimeOf(entries)) }.getOrElse("")
    else if (entries.exists(e => e._1.startsWith(SheetPrefix) && e._1.endsWith(".bin"))) {
      // BINARY Excel (.xlsb): BIFF12 record parts, checked before the
      // XML branch whose prefix also matches these names
      val shared = byName.collectFirst { case ("xl/sharedStrings.bin", b) =>
        Xlsb.sharedStrings(b) }.getOrElse(Vector.empty)
      byName.filter(e => e._1.startsWith(SheetPrefix) && e._1.endsWith(".bin"))
        .sortBy(e => (partNo(e._1.stripSuffix(".bin")), e._1))
        .map(e => Xlsb.sheetText(e._2, shared))
        .mkString("\n")
    } else if (entries.exists(_._1.startsWith(SheetPrefix))) {
      val shared = byName.collectFirst { case ("xl/sharedStrings.xml", b) =>
        Xlsx.sharedStrings(str(b)) }.getOrElse(Vector.empty)
      byName.filter(_._1.startsWith(SheetPrefix))
        .sortBy(e => (partNo(e._1), e._1))
        .map(e => Xlsx.sheetText(str(e._2), shared))
        .mkString("\n")
    } else if (entries.exists(_._1.startsWith(SlidePrefix)))
      byName.filter(_._1.startsWith(SlidePrefix))
        .sortBy(e => (partNo(e._1), e._1))
        .map(e => Pptx.slideText(str(e._2)))
        .mkString("\n")
    else if (entries.exists(e => Vsdx.isPage(e._1)))
      byName.filter(e => Vsdx.isPage(e._1))
        .sortBy(e => (partNo(e._1), e._1))
        .map(e => Vsdx.pageText(str(e._2)))
        .mkString("\n")
    else ""
  }
}

/** OpenDocument text (`.odt` — ODF 1.x, the LibreOffice/OpenOffice
  * family the reference parses via Tika's OpenDocumentParser): a zip
  * package whose `mimetype` entry names the ODF type and whose body
  * lives in `content.xml` as `<text:p>` paragraphs (possibly holding
  * nested `<text:span>` runs). Pictures ride under `Pictures/` and spawn
  * as embedded children like OOXML media parts.
  */
object Odf {

  /** The ODF mimetype prefix shared by text/spreadsheet/presentation. */
  private val OdfMime = "application/vnd.oasis.opendocument"

  /** ODF detection VERIFIES the mimetype payload — a generic zip that
    * merely contains files named `mimetype` and `content.xml` must keep
    * exploding generically, not have its entries silently suppressed.
    */
  def isOdf(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists(_._1 == "content.xml") &&
      entries.exists { case (n, b) =>
        n == "mimetype" && b.exists(bytes =>
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8).startsWith(OdfMime))
      }

  /** Paragraph text of an ODF content document: each `<text:p>` (and
    * `<text:h>` heading) element's character content with nested markup
    * stripped and entities unescaped, newline-joined in document order.
    * LINEAR depth-tracking scan: lookalike elements (`<text:page-count/>`)
    * are excluded by requiring a name-terminating char, and a nested
    * paragraph (footnote bodies hold `<text:p>` inside `<text:p>`)
    * accumulates into its enclosing paragraph instead of truncating it.
    */
  def bodyText(xml: String): String = {
    def openParaAt(i: Int): Boolean =
      (xml.startsWith("<text:p", i) || xml.startsWith("<text:h", i)) && {
        val t = i + 7
        t >= xml.length || xml.charAt(t) == ' ' || xml.charAt(t) == '>' || xml.charAt(t) == '/'
      }
    def closeParaAt(i: Int): Boolean =
      (xml.startsWith("</text:p", i) || xml.startsWith("</text:h", i)) && {
        val t = i + 8
        t >= xml.length || xml.charAt(t) == '>' || xml.charAt(t) == ' '
      }
    val paras = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < xml.length) {
      if (xml.charAt(i) == '<') {
        val gt = xml.indexOf('>', i)
        if (gt < 0) i = xml.length // truncated tag: stop cleanly
        else {
          if (openParaAt(i)) {
            if (xml.charAt(gt - 1) == '/') { if (depth == 0) paras += "" } // empty para
            else depth += 1
          } else if (closeParaAt(i) && depth > 0) {
            depth -= 1
            if (depth == 0) { paras += Docx.unescape(cur.toString); cur.clear() }
          }
          i = gt + 1
        }
      } else {
        if (depth > 0) cur.append(xml.charAt(i))
        i += 1
      }
    }
    paras.result().mkString("\n")
  }

  /** Deterministic minimal odt package: mimetype + content.xml with one
    * `<text:p>` per paragraph, plus Pictures/ parts. Round-trips through
    * [[bodyText]].
    */
  /** The package's declared mimetype (empty when absent/refused). */
  def mimeOf(entries: Seq[(String, Option[Array[Byte]])]): String =
    entries.collectFirst { case ("mimetype", Some(b)) =>
      new String(b, java.nio.charset.StandardCharsets.UTF_8).trim }.getOrElse("")

  /** Dispatch on the ODF flavor: spreadsheets get tabular row text (the
    * engine's xlsx convention); text documents AND presentations get the
    * paragraph scan — `<text:p>` inside `draw:text-box` frames is exactly
    * where ODP slide text lives, and document order == slide order, the
    * same flattening Tika's OpenDocumentContentParser performs.
    */
  def contentText(xml: String, mime: String): String =
    if (mime.startsWith(OdfMime + ".spreadsheet")) sheetText(xml)
    else bodyText(xml)

  private val RepeatAttr =
    """table:number-columns-repeated\s*=\s*"(\d+)"""".r

  /** Spreadsheet content: `<table:table-row>` rows as tab-joined lines of
    * cell text (a cell's paragraphs space-joined), in document order
    * across all tables. `table:number-columns-repeated` expands (empty
    * repeats collapse to one; text repeats cap at 256 — the attribute is
    * how real sheets encode 16k trailing blanks, a classic bomb vector);
    * trailing empty cells trim per row; covered cells (merges) are empty.
    * Row repeats are NOT expanded (a repeated row renders once).
    */
  def sheetText(xml: String): String = {
    val lines = Vector.newBuilder[String]
    var i = 0
    var continue = true
    while (continue) {
      val rs = xml.indexOf("<table:table-row", i)
      if (rs < 0) continue = false
      else {
        val openEnd = xml.indexOf('>', rs)
        if (openEnd < 0) continue = false
        else if (xml.charAt(openEnd - 1) == '/') { lines += ""; i = openEnd + 1 }
        else {
          val re = xml.indexOf("</table:table-row>", openEnd)
          val rowXml = xml.substring(openEnd + 1, if (re < 0) xml.length else re)
          lines += rowText(rowXml)
          if (re < 0) continue = false else i = re + "</table:table-row>".length
        }
      }
    }
    lines.result().mkString("\n")
  }

  private def rowText(rowXml: String): String = {
    val cells = Vector.newBuilder[String]
    var i = 0
    var continue = true
    while (continue) {
      val plain = rowXml.indexOf("<table:table-cell", i)
      val cov = rowXml.indexOf("<table:covered-table-cell", i)
      val cs = if (plain < 0) cov else if (cov < 0) plain else math.min(plain, cov)
      if (cs < 0) continue = false
      else {
        val covered = cs == cov
        val openEnd = rowXml.indexOf('>', cs)
        if (openEnd < 0) continue = false
        else {
          val open = rowXml.substring(cs, openEnd + 1)
          val rep = RepeatAttr.findFirstMatchIn(open)
            .flatMap(m => m.group(1).toIntOption).getOrElse(1) max 1
          val (txt, next) =
            if (rowXml.charAt(openEnd - 1) == '/' || covered) ("", openEnd + 1)
            else {
              val ce = rowXml.indexOf("</table:table-cell>", openEnd)
              val seg = rowXml.substring(openEnd + 1, if (ce < 0) rowXml.length else ce)
              (bodyText(seg).replace('\n', ' '),
                if (ce < 0) rowXml.length else ce + "</table:table-cell>".length)
            }
          var r = if (txt.isEmpty) 1 else math.min(rep, 256)
          while (r > 0) { cells += txt; r -= 1 }
          i = next
        }
      }
    }
    val cs = cells.result()
    cs.take(cs.lastIndexWhere(_.nonEmpty) + 1).mkString("\t")
  }

  private def zipPackage(mime: String, contentXml: String,
                         pictures: Seq[(String, Array[Byte])]): Array[Byte] = {
    import java.nio.charset.StandardCharsets.UTF_8
    graft.sources.Archive.zipBytes(
      Seq(("mimetype", mime.getBytes(UTF_8)),
        ("content.xml", contentXml.getBytes(UTF_8))) ++
        pictures.map { case (n, b) => (s"Pictures/$n", b) })
  }

  private val ContentPrefix =
    """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
      """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" """ +
      """xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" """ +
      """xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0">"""

  def buildMinimal(paragraphs: Seq[String],
                   pictures: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val content = ContentPrefix + "<office:body><office:text>" +
      paragraphs.map(p => s"<text:p>${Docx.escape(p)}</text:p>").mkString +
      "</office:text></office:body></office:document-content>"
    zipPackage(OdfMime + ".text", content, pictures)
  }

  /** Deterministic minimal ods package: one table, string-typed cells. */
  def buildSpreadsheet(rows: Seq[Seq[String]]): Array[Byte] = {
    val content = ContentPrefix +
      """<office:body><office:spreadsheet><table:table table:name="S1">""" +
      rows.map(r => "<table:table-row>" + r.map(c =>
        s"""<table:table-cell office:value-type="string"><text:p>${Docx.escape(c)}</text:p></table:table-cell>""")
        .mkString + "</table:table-row>").mkString +
      "</table:table></office:spreadsheet></office:body></office:document-content>"
    zipPackage(OdfMime + ".spreadsheet", content, Nil)
  }

  /** Deterministic minimal odp package: one text-box frame per slide. */
  def buildPresentation(slides: Seq[Seq[String]]): Array[Byte] = {
    val content = ContentPrefix + "<office:body><office:presentation>" +
      slides.zipWithIndex.map { case (paras, i) =>
        s"""<draw:page draw:name="page${i + 1}"><draw:frame><draw:text-box>""" +
          paras.map(p => s"<text:p>${Docx.escape(p)}</text:p>").mkString +
          "</draw:text-box></draw:frame></draw:page>"
      }.mkString +
      "</office:presentation></office:body></office:document-content>"
    zipPackage(OdfMime + ".presentation", content, Nil)
  }

  /** Deterministic minimal odg package: drawing pages with text frames —
    * the graphics flavor rides the same mimetype prefix and paragraph
    * scan as presentations (Tika's OpenDocumentParser does likewise).
    */
  def buildGraphics(pages: Seq[Seq[String]]): Array[Byte] = {
    val content = ContentPrefix + "<office:body><office:drawing>" +
      pages.zipWithIndex.map { case (paras, i) =>
        s"""<draw:page draw:name="page${i + 1}"><draw:frame><draw:text-box>""" +
          paras.map(p => s"<text:p>${Docx.escape(p)}</text:p>").mkString +
          "</draw:text-box></draw:frame></draw:page>"
      }.mkString +
      "</office:drawing></office:body></office:document-content>"
    zipPackage(OdfMime + ".graphics", content, Nil)
  }
}

/** XPS / OpenXPS fixed documents (ECMA-388; Tika's XPS surface): an OPC
  * package whose `*.fpage` parts carry the rendered text as `<Glyphs>`
  * elements with `UnicodeString` attributes. Pages read in NUMERIC part
  * order (archive order is not document order), one line per Glyphs run,
  * entities unescaped — the same flattening the reference inherits.
  */
object Xps {

  def isXps(names: Seq[String]): Boolean = names.exists(_.endsWith(".fpage"))

  /** `UnicodeString="..."` attribute values of every Glyphs element, in
    * markup order; tolerant of single quotes and attribute spacing.
    */
  private val GlyphsAttr =
    """(?s)<Glyphs\b[^>]*?UnicodeString\s*=\s*("([^"]*)"|'([^']*)')""".r

  def pageText(xml: String): String =
    GlyphsAttr.findAllMatchIn(xml).map { m =>
      Docx.unescape(Option(m.group(2)).getOrElse(m.group(3)))
    }.mkString("\n")

  private def pageNo(name: String): Int =
    name.reverse.dropWhile(!_.isDigit).takeWhile(_.isDigit).reverse
      .toIntOption.getOrElse(Int.MaxValue)

  def pagesText(entries: Seq[(String, Option[Array[Byte]])]): String =
    entries.collect { case (n, Some(b)) if n.endsWith(".fpage") => (n, b) }
      .sortBy { case (n, _) => (pageNo(n), n) }
      .map { case (_, b) =>
        pageText(new String(b, java.nio.charset.StandardCharsets.UTF_8)) }
      .mkString("\n")

  /** Deterministic minimal XPS package; pages are written to the archive
    * in REVERSE order so only numeric-part ordering reads correctly.
    */
  def build(pages: Seq[Seq[String]]): Array[Byte] = {
    import java.nio.charset.StandardCharsets.UTF_8
    val pageEntries = pages.zipWithIndex.map { case (lines, i) =>
      val glyphs = lines.map(l =>
        s"""<Glyphs OriginX="16" OriginY="${32 + 16 * i}" FontRenderingEmSize="12" UnicodeString="${Docx.escape(l)}" />""").mkString
      (s"Documents/1/Pages/${i + 1}.fpage",
        (s"""<FixedPage xmlns="http://schemas.microsoft.com/xps/2005/06" Width="816" Height="1056">""" +
          glyphs + "</FixedPage>").getBytes(UTF_8))
    }
    graft.sources.Archive.zipBytes(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes(UTF_8)),
      ("FixedDocSeq.fdseq", "<FixedDocumentSequence/>".getBytes(UTF_8))) ++
      pageEntries.reverse)
  }
}

/** Legacy iWork packages (`.pages`/`.key`/`.numbers`, the pre-2013
  * XML era Tika's IWorkPackageParser reads): a zip whose document
  * lives in `index.xml` / `index.apxl` (possibly gzipped in place).
  * Body text rides in `<sf:p>` paragraphs across all three apps; one
  * output line per paragraph, runs flattened, entities decoded —
  * the Docx convention. (The 2013+ IWA snappy-protobuf era is a
  * different format and classifies as a generic zip.)
  */
object Iwork {

  private val IndexNames = Set(
    "index.xml", "index.xml.gz", "index.apxl", "index.apxl.gz",
    "presentation.apxl", "presentation.apxl.gz")

  /** Routing gate, both eras: the legacy XML index part must VALIDATE as
    * an Apple document (sl:/sf:/key: namespaces or roots) before the
    * package is treated as iWork — name-only detection would hijack any
    * generic zip carrying a root `index.xml`, silencing its child spawns
    * and emptying its body. The 2013-era gate is a `.iwa` part under
    * `Index/`
    * (Apple's own layout; the extension+directory pair has no generic-zip
    * collision class the way `index.xml` does).
    */
  def isIwork(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    indexHead(entries).isDefined || isIwork13(entries)

  /** 2013-era (IWA) bundle: snappy-chunked protobuf parts under Index/. */
  def isIwork13(entries: Seq[(String, Option[Array[Byte]])]): Boolean =
    entries.exists { case (n, _) => n.startsWith("Index/") && n.endsWith(".iwa") }

  /** HEAD-limited validation for the ROUTING gates: only the first 8 KiB
    * decode (looksApple reads the namespace head), so the gates — which
    * run twice per package on the extraction hot path — never pay a full
    * 64 MB gunzip; the full payload decodes exactly once, in [[docText]].
    */
  private def indexHead(entries: Seq[(String, Option[Array[Byte]])]): Option[String] =
    entries.collectFirst { case (n, Some(b)) if IndexNames(n) => (n, b) }
      .flatMap { case (n, b) =>
        val head =
          if (n.endsWith(".gz")) gunzipHead(b, 8192)
          else Some(java.util.Arrays.copyOf(b, math.min(b.length, 8192)))
        head.map(new String(_, UTF_8)).filter(looksApple)
      }

  private def gunzipHead(b: Array[Byte], n: Int): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      try {
        val buf = new Array[Byte](n)
        var off = 0
        var k = 0
        while (off < n && k >= 0) {
          k = in.read(buf, off, n - off)
          if (k > 0) off += k
        }
        Some(java.util.Arrays.copyOf(buf, off))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** The located, gunzipped, VALIDATED index payload — None when absent,
    * refused, undecodable, or not Apple-namespaced.
    */
  def indexXml(entries: Seq[(String, Option[Array[Byte]])]): Option[String] =
    entries.collectFirst { case (n, Some(b)) if IndexNames(n) => (n, b) }
      .flatMap { case (n, b) =>
        val payload =
          if (n.endsWith(".gz"))
            scala.util.Try(graft.sources.Archive.gunzip(b, 64 << 20)._2).toOption.flatten
          else Some(b)
        payload.map(new String(_, UTF_8)).filter(looksApple)
      }

  private def looksApple(xml: String): Boolean = {
    val head = xml.substring(0, math.min(xml.length, 4096))
    head.contains("xmlns:sf=") || head.contains("xmlns:sl=") ||
      head.contains("xmlns:key=") || head.contains("xmlns:ls=") ||
      head.contains("<sl:document") || head.contains("<key:presentation") ||
      head.contains("<ls:document")
  }

  /** One line per `<sf:p>` element; nested run markup stripped through
    * the shared XML text machinery.
    */
  def paragraphs(xml: String): String = {
    val out = Vector.newBuilder[String]
    var i = 0
    var nP = 0
    while (i < xml.length) {
      val p = xml.indexOf("<sf:p", i)
      if (p < 0) i = xml.length
      else {
        val after = p + 5
        // tag-name boundary: <sf:p> or <sf:p attr=...>, never <sf:path>
        if (after < xml.length && (xml.charAt(after) == '>' || xml.charAt(after) == ' ' ||
            xml.charAt(after) == '/' || xml.charAt(after) == '\t' || xml.charAt(after) == '\n')) {
          val open = xml.indexOf('>', p)
          if (open < 0) throw new graft.core.ParseFailure("iwork: unterminated sf:p tag")
          if (xml.charAt(open - 1) == '/') { out += ""; i = open + 1 } // empty paragraph
          else {
            val close = xml.indexOf("</sf:p>", open)
            if (close < 0) throw new graft.core.ParseFailure("iwork: sf:p never closes")
            out += graft.core.text.Xml.text(xml.substring(open + 1, close)).replace('\n', ' ')
            i = close + 7
          }
          nP += 1
          if (nP > (1 << 20)) throw new graft.core.ParseFailure("iwork: paragraph flood")
        } else i = after
      }
    }
    out.result().mkString("\n")
  }

  def docText(entries: Seq[(String, Option[Array[Byte]])]): String =
    indexXml(entries) match {
      case Some(xml) => paragraphs(xml)
      case None if isIwork13(entries) =>
        // 2013-era: harvest text runs from every .iwa part under Index/,
        // name order (deterministic; Document.iwa leads in real bundles).
        // A refused (size-guarded) part classifies rather than silently
        // shortening the harvest.
        entries.iterator
          .filter { case (n, _) => n.startsWith("Index/") && n.endsWith(".iwa") }
          .toSeq.sortBy(_._1)
          .flatMap {
            case (_, Some(b)) => Iwa.harvest(b)
            case (n, None) =>
              throw new graft.core.ParseFailure(s"iwork: iwa part $n refused by size guard")
          }
          .mkString("\n")
      case None =>
        throw new graft.core.ParseFailure("iwork: index part refused, missing, or not Apple-namespaced")
    }

  /** Deterministic legacy-Pages package: gzipped `index.xml` with one
    * `<sf:p>` per paragraph (styled runs exercise the flattening).
    */
  def buildPages(paragraphsIn: Seq[String]): Array[Byte] = {
    val body = paragraphsIn.map { p =>
      val words = p.split(" ", -1)
      // split each paragraph across a styled run boundary like real output
      if (words.length > 1)
        s"<sf:p sf:style=\"paragraph-style-1\"><sf:span>${Docx.escape(words.head)}</sf:span> ${Docx.escape(words.tail.mkString(" "))}</sf:p>"
      else s"<sf:p>${Docx.escape(p)}</sf:p>"
    }.mkString
    val xml = """<?xml version="1.0"?>""" +
      """<sl:document xmlns:sl="http://developer.apple.com/namespaces/sl" xmlns:sf="http://developer.apple.com/namespaces/sf">""" +
      "<sf:text-storage><sf:text-body>" + body + "</sf:text-body></sf:text-storage></sl:document>"
    graft.sources.Archive.zipBytes(Seq(
      ("index.xml.gz", graft.sources.Archive.gzipBytes(xml.getBytes(UTF_8))),
      ("buildVersionHistory.plist", "<plist/>".getBytes(UTF_8))))
  }
}
