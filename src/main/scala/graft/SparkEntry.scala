package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._
import graft.core.meta.Meta
import graft.core.route.Extract
import graft.core.text.TextStats
import graft.operators.{Dedup, Knn, SetOps}
import graft.multimodal.{Media, Phash}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full extraction pipeline's flattened span output.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.extractSpans(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracle.all
}

/** The operator surface. Each entry maps to a SURVEY.md §2 line (or a
  * training-data-pipeline op), expressed Spark-first. All outputs are
  * integer/string-typed (or IEEE-exact single-op floats) so the DuckDB
  * oracle compares bit-for-bit.
  */
object Queries {

  private def docs(s: SparkSession, dir: String) = Corpus.documents(s, dir)
  /** [[docs]] behind the scan-parallelism guard (Corpus.documentsDistributed)
    * — for queries whose per-row map work dominates (fixture synthesis,
    * real parsing, shingling, signatures); see the guard's scaladoc for
    * the measured opt-in criterion.
    */
  private def docsPar(s: SparkSession, dir: String) = Corpus.documentsDistributed(s, dir)
  private def emb(s: SparkSession, dir: String) = Corpus.embeddings(s, dir)
  private def events(s: SparkSession, dir: String) = Corpus.events(s, dir)
  private def tbl(s: SparkSession, dir: String, n: String) = Corpus.table(s, dir, n)

  // -------------------------------------------------------- fixture leaves
  //
  // A format leaf builds one fixture document per kept doc id, routes it
  // through the engine and projects the result in one of three shapes.
  // Its input is `ids(...)` when the fixture derives from the id alone (the
  // scan then reads only `doc_id`) or `texts(...)` when it typesets the
  // document's words. `keep` is a column predicate on `doc_id`, so the
  // dropped docs are never deserialized and, behind `docsPar`, never
  // shuffled; `build` gets (id, text) and returns the fixture's
  // (kind, payload) span(s).

  /** A leaf's input reading `doc_id` alone; the text is null. */
  private def ids(df: DataFrame): Dataset[(Long, String)] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id"), lit(null).cast("string")).as[(Long, String)]
  }
  /** A leaf's input reading `doc_id` and `text`. */
  private def texts(df: DataFrame): Dataset[(Long, String)] = {
    import df.sparkSession.implicits._
    df.select("doc_id", "text").as[(Long, String)]
  }
  /** The doc predicate keeping every `n`th doc id. */
  private def nth(n: Int): Column = col("doc_id") % n === 0
  /** The doc predicate of a leaf that keeps every document. */
  private def everyDoc: Column = lit(true)

  /** Tree leaf: the fixture's spans (at offsets 0, 1, ...) exploded, one
    * (doc_id, node_id, parent_id, level, txt, reason) row per node.
    */
  private def treeLeaf(in: Dataset[(Long, String)], keep: Column)(
      build: (Long, String) => Seq[(String, String)]): DataFrame = {
    import in.sparkSession.implicits._
    in.filter(keep)
      .flatMap { case (id, t) =>
        val spans = build(id, t).zipWithIndex.map { case ((k, p), i) => SpanIn(k, p, "", i) }
        Extract.explode(DocIn(id, spans.toArray)).map(o =>
          (id, o.doc_id, o.parent_id, o.level, o.spans.map(_.text).mkString(""), o.no_content_reason))
      }
      .toDF("doc_id", "node_id", "parent_id", "level", "txt", "reason")
  }

  /** Text leaf: the fixture's one span routed, one (doc_id, txt, reason)
    * row per doc; a wrong-password decrypt reads as the encrypted reason.
    */
  private def textLeaf(in: Dataset[(Long, String)], keep: Column)(
      build: (Long, String) => (String, String)): DataFrame = {
    import in.sparkSession.implicits._
    in.filter(keep)
      .map { case (id, t) =>
        val (kind, payload) = build(id, t)
        val (txt, why) =
          try Extract.extractSpan(kind, payload)
          catch { case _: DecryptFailure => ("", Reason.Encrypted) }
        (id, txt, why)
      }
      .toDF("doc_id", "txt", "reason")
  }

  /** Doc leaf: [[textLeaf]] without the reason, one (doc_id, txt) row per
    * doc. The text of a one-span document is its span's text, so this is
    * also what `Extract.extractDoc` yields for it.
    */
  private def docLeaf(in: Dataset[(Long, String)], keep: Column)(
      build: (Long, String) => (String, String)): DataFrame =
    textLeaf(in, keep)(build).drop("reason")

  /** Fixture bytes as the engine's Latin-1 span payload (one char per byte). */
  private def latin1(b: Array[Byte]): String = new String(b, ISO_8859_1)

  /** A document's words, 5 per line (the typeset fixtures' line shape). */
  private def lines5(t: String): Seq[String] =
    t.split(" ", -1).grouped(5).map(_.mkString(" ")).toSeq

  /** The spreadsheet fixtures' cells: the words two per row as strings,
    * then a `total` row with the doc id as a numeric cell.
    */
  private def sheetRows(id: Long, t: String): Seq[Seq[(String, Boolean)]] =
    t.split(" ", -1).grouped(2).map(_.toSeq.map(w => (w, false))).toSeq ++
      Seq(Seq(("total", false), (id.toString, true)))

  /** A one-object PDF 1.4 file holding content stream `stream` under the
    * given `/Filter` (none when empty), closed by `trailer`.
    */
  private def pdf14(stream: String, filter: String = "",
                    trailer: String = "trailer\n%%EOF"): String = {
    val f = if (filter.isEmpty) "" else s" /Filter $filter"
    s"%PDF-1.4\n1 0 obj << /Length ${stream.length}$f >>\nstream\n$stream\nendstream\nendobj\n$trailer"
  }

  // ------------------------------------------------------------ extraction

  /** §2.3+§2.7: the extraction pipeline flattened to one row per output
    * span — the span-sequence correctness surface (kind,text,media_ref,order).
    */
  def extractSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.spans(spark, dir)
      .flatMap { d =>
        val out = Extract.extractDoc(d)
        out.spans.map(sp => (d.doc_id, sp.order, sp.kind, sp.text, sp.media_ref))
      }
      .toDF("doc_id", "ord", "kind", "text", "media_ref")
  }

  /** §3.3 page-range retrieval (`Extractor.java:866-911` extractPages):
    * a span-order window over the extraction output — a pushdown filter on
    * the span table, never a re-parse.
    */
  def pageRangeQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Artifacts.pageRange(
      extractSpans(spark, dir).filter(col("doc_id") % 5 === 0), 1, 2)

  /** §2.4: embed explosion with recursive content-derived ids. */
  def embedExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.spans(spark, dir)
      .flatMap(d => Extract.explode(d).map(o => (o.doc_id, o.parent_id, o.root_id, o.level)))
      .toDF("doc_id", "parent_id", "root_id", "level")
  }

  /** §2.4 embed-id FULL fidelity (`DigestIdentifier.java:26-68` +
    * `UpdatableDigester.java:6-19` + `EmbedSpawner.java:79-81`): for each
    * media doc, three embeds exercising every id/name branch — named+
    * relationship (e0), bare (e1), and nested (n0, child of e0) — with both
    * the unsalted and project-salted id, and both naming modes (per-parent
    * ordinal vs legacy document-global counter: n0 is untitled_0 per-parent
    * but untitled_2 globally).
    */
  def embedNamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(id => id % 3 == 0 && id % 21 != 0)
      .flatMap { id =>
        val rid = Ids.rootId(id)
        val res0 = if (id % 2 == 0) s"att-$id.txt" else ""
        val rel0 = if (id % 5 == 0) s"rId${id % 97}" else ""
        val (c0, c1, c2) = (s"att $id", s"img $id", s"sub $id")
        val e0 = Ids.embedId(c0, rid, 0, rel0, res0)
        val e0s = Ids.embedId(c0, rid, 0, rel0, res0, salt = "proj")
        Seq(
          (id, "e0", e0, e0s,
            Ids.embedName(res0, 0, 0), Ids.embedName(res0, 0, 0, legacy = true)),
          (id, "e1", Ids.embedId(c1, rid, 1), Ids.embedId(c1, rid, 1, salt = "proj"),
            Ids.embedName("", 1, 1), Ids.embedName("", 1, 1, legacy = true)),
          (id, "n0", Ids.embedId(c2, e0, 0), Ids.embedId(c2, e0s, 0, salt = "proj"),
            Ids.embedName("", 0, 2), Ids.embedName("", 0, 2, legacy = true)))
      }
      .toDF("doc_id", "embed_key", "child_id", "child_id_salted", "name", "name_legacy")
  }

  /** §2.4 CONCATENATE embed mode (`EmbedParser.java:57-76`): per media doc,
    * entries are parsed inline into package-entry divisions — a named
    * second entry for even ids, and an injected encrypted entry for %11
    * ids whose failure is captured IN the entry and counted, never thrown.
    */
  def embedConcat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(id => id % 3 == 0 && id % 21 != 0)
      .map { id =>
        val content = if (id % 27 == 0) s"chain:ocr $id>sub $id" else s"ocr $id"
        val entries = Seq(("", content)) ++
          (if (id % 2 == 0) Seq(("extra.txt", s"x $id")) else Nil) ++
          (if (id % 11 == 0) Seq(("", "ENCRYPTED:blob")) else Nil)
        val (html, nf) = Extract.concatEmbeds(entries)
        (id, html, nf.toLong)
      }
      .toDF("doc_id", "html", "n_failed")
  }

  /** §2.4 data-URI rewrite (`EmbeddingHTMLParsingReader.java:36`): media
    * embeds inlined into the parent HTML as base64 data URIs instead of
    * links — builtin base64, no UDF.
    */
  def mediaDataUri(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 21 =!= 0)
      .select(col("doc_id"),
        concat(lit("""<img src="data:application/octet-stream;base64,"""),
          base64(mediaContentCol.cast("binary")), lit("\">")).as("html"))

  /** The synthesized media-span content as a Column (mirrors
    * Corpus.synthesizeOne's %27/%21 CASE for media docs).
    */
  private def mediaContentCol =
    when(col("doc_id") % 27 === 0,
      concat(lit("chain:ocr "), col("doc_id").cast("string"),
        lit(">sub "), col("doc_id").cast("string")))
      .otherwise(concat(lit("ocr "), col("doc_id").cast("string")))

  /** Content stream typesetting a document's words, 5/line (shared by the
    * raw and Flate-compressed PDF round-trip queries).
    */
  private def pdfContentStream(t: String): String = {
    val content = new StringBuilder("BT /F1 12 Tf ")
    lines5(t).zipWithIndex.foreach { case (line, li) =>
      content.append(s"1 0 0 1 72 ${720 - li * 14} Tm ($line) Tj ")
    }
    content.append("ET").toString
  }

  /** §2.1+§2.3 REAL byte-stream path: each doc's words typeset into an
    * actual uncompressed PDF 1.4 byte stream (Tm-positioned Tj operators,
    * 5 words/line), parsed back by the real-format parser
    * ([[graft.core.pdf.PdfMini]]) through the normal extractSpan routing.
    * The oracle recomputes the expected text from `documents` alone, so
    * the whole build-bytes -> parse-bytes loop is correctness-gated.
    */
  def pdfBytes(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docsPar(spark, dir)), everyDoc)((_, t) => "pdf_bytes" -> pdf14(pdfContentStream(t)))

  /** §2.3 REAL compressed-PDF path: the same typeset content stream,
    * DEFLATE-compressed with `/Filter /FlateDecode` (how virtually every
    * real-world PDF ships; reference handles via PDFBox,
    * `Extractor.java:189,245-250`), inflated and parsed back by PdfMini
    * through the normal pdf_bytes route. Oracle recomputes the expected
    * text from `documents` alone — the whole deflate->inflate->parse loop
    * is correctness-gated.
    */
  def pdfFlate(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docsPar(spark, dir)), everyDoc) { (_, t) =>
      val comp = latin1(graft.core.pdf.PdfMini.deflate(pdfContentStream(t).getBytes(ISO_8859_1)))
      "pdf_bytes" -> pdf14(comp, "/FlateDecode")
    }

  /** §2.3 the full PDF 7.4 text-stream filter set (PDFBox decodes all of
    * these behind the reference's PDFParser): each doc's content stream is
    * encoded with a filter chosen by doc_id — ASCIIHex, ASCII85, RunLength,
    * LZW (TIFF early change), or the classic mail-safe `[/ASCII85Decode
    * /FlateDecode]` ARRAY chain — and extraction must invert it to
    * reproduce exactly the raw-PDF text (oracle shared with q_pdf_bytes).
    */
  def pdfFilters(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.pdf.PdfMini
    docLeaf(texts(docsPar(spark, dir)), everyDoc) { (id, t) =>
      val content = pdfContentStream(t).getBytes(ISO_8859_1)
      val (fspec, enc) = (id % 5) match {
        case 0 => ("/ASCIIHexDecode", PdfMini.asciiHexEncode(content))
        case 1 => ("/ASCII85Decode", PdfMini.ascii85Encode(content))
        case 2 => ("/RunLengthDecode", PdfMini.runLengthEncode(content))
        case 3 => ("/LZWDecode", PdfMini.lzwEncode(content))
        case _ => ("[ /ASCII85Decode /FlateDecode ]",
          PdfMini.ascii85Encode(PdfMini.deflate(content)))
      }
      "pdf_bytes" -> pdf14(latin1(enc), fspec)
    }
  }

  /** §2.3 standard-security-handler DECRYPTION (what PDFBox does silently
    * for the reference on owner-restricted files — the overwhelmingly
    * common "encrypted" PDF in the wild): each %29 doc is RC4-encrypted
    * from scratch per ISO 32000-1 §7.6.3 (R3/128-bit, %87 docs R2/40-bit)
    * with an OWNER password only — extraction must validate the empty user
    * password against /U, derive the file key, RC4-decrypt each stream
    * with its per-object key, and reproduce exactly the plain-PDF text.
    * %58 docs carry a REAL user password: those must still classify
    * encrypted, never emit garbage.
    */
  def pdfDecrypt(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docsPar(spark, dir)), nth(29)) { (id, t) =>
      // cycle the handler revisions: V5/AES-256 (%203), V4/AES-128
      // (%145), R2/RC4-40 (%87), R3/RC4-128 otherwise — the oracle
      // text is identical for all
      val r = if (id % 203 == 0) 6 else if (id % 145 == 0) 4
        else if (id % 87 == 0) 2 else 3
      val userPw = if (id % 58 == 0) s"user-$id" else ""
      "pdf_bytes" -> graft.core.pdf.PdfCrypt.encrypt(
        pdf14(pdfContentStream(t), trailer = ""), s"owner-$id", userPw, r, 128, s"id-$id")
    }

  /** §2.3 REAL encrypted-PDF classification (the reference's
    * `pdf/encrypted.pdf` fixture -> EncryptedDocumentException ->
    * NOT_DECRYPTED, `Extractor.java:785-826`): %38 docs carry an /Encrypt
    * trailer entry (their content streams would be ciphertext, so
    * extraction must yield the REASON, not garbage); the other %19 docs
    * are plain PDFs whose text extracts normally — both branches through
    * the one pdf_bytes route.
    */
  def pdfEncrypted(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(19)) { (id, t) =>
      val trailer =
        if (id % 38 == 0) "trailer << /Root 1 0 R /Encrypt 5 0 R >>" else "trailer << /Root 1 0 R >>"
      "pdf_bytes" -> pdf14(pdfContentStream(t), trailer = s"$trailer\n%%EOF")
    }

  /** §2.4+§2.6 REAL archive explosion (`EmbedSpawner.java:429-515`; fixture
    * `embedded_with_duplicate.tgz`): each %4 doc becomes an actual ZIP
    * (java.util.zip bytes) with named text entries — including a
    * DUPLICATE-content entry (%8; distinct id via per-parent ordinal, the
    * reference's duplicate-embed case) and a nested zip-in-zip (%16) whose
    * entries recurse depth-first. The engine explodes real container bytes;
    * the oracle recomputes every node id (container ids over canonical
    * entries, [[graft.core.Ids.canonicalEntries]]) and text from
    * `documents` arithmetic alone.
    */
  def zipExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(4)) { (id, _) =>
      val entries = Seq(
        ("a.txt", s"alpha $id".getBytes(UTF_8)),
        ("b.txt", s"beta $id".getBytes(UTF_8))) ++
        (if (id % 8 == 0) Seq(("dup.txt", s"alpha $id".getBytes(UTF_8))) else Nil) ++
        (if (id % 16 == 0) Seq(("nested.zip",
          Archive.zipBytes(Seq(("c.txt", s"gamma $id".getBytes(UTF_8)))))) else Nil)
      Seq("zip" -> latin1(Archive.zipBytes(entries)))
    }
  }

  /** §2.3+§2.4 REAL OOXML route (`recursive_embedded.docx` fixture): each
    * %6 doc becomes an actual docx PACKAGE (zip + WordprocessingML built by
    * the engine) whose paragraphs carry the document's words 5-per-line;
    * %12 docs embed a media part that spawns as a child. Extraction must
    * unzip, parse word/document.xml, and recover the exact text — the
    * oracle recomputes everything from `documents` arithmetic.
    */
  def docxExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(6)) { (id, t) =>
      val media =
        if (id % 12 == 0) Seq(("word/media/img1.bin", s"img $id".getBytes(UTF_8)))
        else Nil
      Seq("zip" -> latin1(graft.core.office.Docx.buildMinimal(lines5(t), media)))
    }

  /** §2.3 REAL SpreadsheetML (xlsx) route: two-word rows as SHARED-STRING
    * cells plus a final row with a string label and a NUMERIC cell — the
    * engine must resolve the shared-string indirection and read numeric
    * values verbatim; the oracle recomputes everything from documents.
    */
  def xlsxTable(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(7))((id, t) =>
      "zip" -> latin1(graft.core.office.Xlsx.buildMinimal(sheetRows(id, t))))

  /** §2.3 OneNote section route (Tika OneNoteParser, [MS-ONESTORE]): the
    * document's 5-word lines as RichEditTextUnicode properties behind the
    * root -> object-space -> revision list chain.
    */
  def oneText(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(107))((_, t) =>
      "one" -> latin1(graft.core.office.OneNote.build(lines5(t))))

  /** §2.3 Microsoft Publisher route (Tika/POI HPBF PublisherTextExtractor):
    * the document's 5-word lines as CR-marked paragraphs in one Quill TEXT
    * bit behind the `Quill/QuillSub/CONTENTS` chunk index.
    */
  def pubText(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(109))((_, t) =>
      "cfb" -> latin1(graft.core.office.Pub.build(lines5(t))))

  /** §2.6 RTF-only Outlook mail (MS-OXRTFCP): the document's text as a
    * PR_RTF_COMPRESSED body (LZFu dictionary compression, no PR_BODY) —
    * the body must come back verbatim through decompress + RTF render.
    */
  def msgRtf(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.office.Msg
    textLeaf(texts(docs(spark, dir)), nth(111)) { (id, t) =>
      val m = Msg.MsgDoc(s"subject $id", s"sender $id", lines5(t).mkString("\n"), Vector.empty)
      "cfb" -> latin1(Msg.buildRtfBody(m))
    }
  }

  /** §2.4 OneNote embedded files (FileDataStoreObject, [MS-ONESTORE]
    * §2.6.13): a section carrying the document's paragraphs PLUS one
    * GUID-framed embedded text file — the root keeps the prose, the
    * payload spawns as a sniffed child.
    */
  def oneFiles(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(117)) { (id, t) =>
      Seq("one" -> latin1(graft.core.office.OneNote.build(lines5(t),
        files = Seq(s"embedded note $id".getBytes(UTF_8)))))
    }.select("doc_id", "level", "txt")

  /** §2.3 Visio .vsdx route (Tika XDGFParser): the document's 5-word
    * lines as shape `<Text>` elements across two drawing pages — prose
    * harvested out of the attribute-heavy page XML in page order.
    */
  def vsdxText(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(119)) { (_, t) =>
      val lines = lines5(t)
      val (a, b) = lines.splitAt((lines.length + 1) / 2)
      "zip" -> latin1(graft.core.office.Vsdx.buildMinimal(Seq(a, b).filter(_.nonEmpty)))
    }

  /** §2.1 AppleSingle route (RFC 1740, Tika AppleSingleFileParser): the
    * document's text as the DATA FORK of an envelope whose real-name
    * entry names it — the envelope node is pure transport (empty), the
    * fork re-sniffs and carries the text at level 1.
    */
  def appleText(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(121))((id, t) =>
      Seq("applesingle" -> latin1(graft.sources.Apple.build(s"note_$id.txt", t.getBytes(UTF_8)))))
      .select("doc_id", "level", "txt")

  /** §2.7 CID/subset-font PDF route (ToUnicode CMaps, PDF 9.10.3 — the
    * modern Word/LaTeX shape): the document's 5-word lines as 2-byte
    * glyph codes whose meaning lives only in the font's CMap; extraction
    * must recover the text through the map, never emit raw code units.
    */
  def pdfCid(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(123))((_, t) =>
      "pdf_bytes" -> graft.core.pdf.PdfMini.buildCid(lines5(t)))

  /** §2.7 PDF AcroForm route (ISO 32000 §12.7; Tika's PDFBox surface
    * prints field values): each %71 doc becomes a real interactive form —
    * a text field, a NAME-valued checkbox, and a hierarchical parent/kid
    * exercising the dotted fully-qualified naming — whose values append
    * to the body text as `name: value` lines in document order.
    */
  def pdfForm(spark: SparkSession, dir: String): DataFrame =
    textLeaf(ids(docs(spark, dir)), nth(71))((id, _) =>
      "pdf_bytes" -> graft.core.pdf.PdfMini.buildForm(Seq(s"form doc $id"),
        ("applicant", s"name $id"), ("agree", "Yes"), ("grp", "sub", s"deep $id")))

  /** The SAME form surface in the MODERN file layout (PDF 1.5+): fields
    * inside a FlateDecode object stream, /Root on an xref-stream dict —
    * the shape virtually all post-2010 writers emit. Same oracle columns
    * as a layout-visibility check would produce: the ObjStm expansion
    * must make the two layouts indistinguishable in output.
    */
  def pdfObjStm(spark: SparkSession, dir: String): DataFrame =
    textLeaf(ids(docs(spark, dir)), nth(127))((id, _) =>
      "pdf_bytes" -> graft.core.pdf.PdfMini.buildFormObjStm(Seq(s"modern doc $id"),
        ("applicant", s"name $id"), ("agree", "Yes"), ("grp", "sub", s"deep $id")))

  /** XFA forms (the XML Forms Architecture half of the PDF form surface;
    * PDFBox exposes the packet XML): the datasets packet's filled values
    * surface as body text through the shared XML machinery.
    */
  def pdfXfa(spark: SparkSession, dir: String): DataFrame =
    textLeaf(ids(docs(spark, dir)), nth(131))((id, _) =>
      "pdf_bytes" -> graft.core.pdf.PdfMini.buildXfa(Seq(s"xfa doc $id"),
        Seq(("applicant", s"name $id"), ("city", s"town $id"))))

  /** §2.3 HWP 5.x route (Tika HwpV5Parser): the document's 5-word lines
    * as paragraph-break-terminated PARA_TEXT records in a deflated
    * BodyText section (each paragraph renders with its trailing break).
    */
  def hwpText(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(113))((_, t) =>
      "cfb" -> latin1(graft.core.office.Hwp.build(lines5(t))))

  /** §2.3 legacy iWork route (Tika IWorkPackageParser): the document's
    * 5-word lines as `<sf:p>` paragraphs (styled-run split exercised) in
    * a gzipped index.xml inside a .pages zip.
    */
  def iworkText(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(103)) { (id, t) =>
      val paras = lines5(t)
      // BOTH eras, alternating: legacy XML bundles (gzipped index.xml,
      // sf:p paragraphs) and 2013-era IWA bundles (snappy-chunked
      // protobuf text runs) must yield the same logical text
      val bytes =
        if ((id / 103) % 2 == 0) graft.core.office.Iwork.buildPages(paras)
        else graft.core.office.Iwa.buildPages13(paras)
      "zip" -> latin1(bytes)
    }

  /** §2.3 BINARY Excel (.xlsb, [MS-XLSB]) route: the xlsx construction
    * as BIFF12 record parts — shared-string cells plus an RK-int total
    * row the reader must decode from the packed representation.
    */
  def xlsbTable(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(101))((id, t) =>
      "zip" -> latin1(graft.core.office.Xlsb.buildMinimal(sheetRows(id, t))))

  /** §2.3 REAL PresentationML (pptx) route: the document's 5-word lines
    * split round-robin over two slides (even-indexed lines on slide 1, odd
    * on slide 2); extraction must order slides numerically and paragraphs
    * within — the oracle reorders the same lines arithmetically.
    */
  def pptxSlides(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(11)) { (_, t) =>
      val lines = lines5(t).toVector
      val slide1 = lines.indices.filter(_ % 2 == 0).map(lines)
      val slide2 = lines.indices.filter(_ % 2 == 1).map(lines)
      "zip" -> latin1(graft.core.office.Pptx.buildMinimal(
        Seq(slide1) ++ (if (slide2.nonEmpty) Seq(slide2) else Nil)))
    }

  /** §2.4 TGZ (gzip-of-tar — the reference's `embedded_with_duplicate.tgz`
    * shape): gzip member (FNAME names it) -> tar container child -> file
    * entries at level 2, all REAL bytes built and re-parsed by the engine.
    */
  def tgzExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(9)) { (id, _) =>
      val tar = Archive.tarBytes(Seq(
        ("x.txt", s"xray $id".getBytes(UTF_8)),
        ("y.txt", s"yank $id".getBytes(UTF_8))))
      Seq("gzip" -> latin1(Archive.gzipBytes(tar, "bundle.tar")))
    }
  }

  /** Deterministic RFC-822/MIME fixture per doc: multipart/mixed with a
    * text body (quoted-printable for %10 docs), a base64 binary attachment,
    * a plain attachment, repeated Received headers (multimap collision),
    * preamble + epilogue. Pure function of doc_id.
    */
  private def emlRaw(id: Long): String = {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      s"payload $id".getBytes(UTF_8))
    val bodyPart =
      if (id % 10 == 0)
        s"Content-Type: text/plain\nContent-Transfer-Encoding: quoted-printable\n\nbody=20words=20$id"
      else
        s"Content-Type: text/plain; charset=utf-8\n\nbody words $id"
    s"""From: sender$id@example.org
       |To: dest$id@example.org
       |Subject: subj $id
       |Received: hop1 $id
       |Received: hop2 $id
       |X-Mailer: graft ${id % 3}
       |Content-Type: multipart/mixed; boundary="b$id"
       |
       |preamble is ignored
       |--b$id
       |$bodyPart
       |--b$id
       |Content-Type: application/octet-stream
       |Content-Transfer-Encoding: base64
       |Content-Disposition: attachment; filename="att-$id.bin"
       |
       |$b64
       |--b$id
       |Content-Type: text/plain
       |Content-Disposition: attachment; filename=notes.txt
       |
       |second attachment $id
       |--b$id--
       |epilogue""".stripMargin
  }

  /** §2.4 EML/MIME explosion (reference fixtures `embedded_file_bug.eml`,
    * `image_attachment.eml`): the message body becomes the root text, each
    * attachment an embedded child with filename as resource name. The
    * oracle recomputes every node id and text from documents arithmetic.
    */
  def emlExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(5))((id, _) => Seq("eml" -> emlRaw(id)))

  /** §2.4 Apple Mail `.emlx` route: the same message fixture as
    * q_eml_explode behind the length-count framing plus an XML-plist
    * flags trailer — the body and attachments must come out identical to
    * a bare .eml, with the trailer never leaking into the text.
    */
  def emlxExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(85)) { (id, _) =>
      val msg = emlRaw(id)
      Seq("emlx" -> (s"${msg.getBytes(UTF_8).length}\n" + msg +
        "<?xml version=\"1.0\"?><plist><dict><key>flags</key><integer>1</integer></dict></plist>\n"))
    }

  /** §2.4 MHTML page-save route (RFC 2557, Tika's mhtml detection →
    * HtmlParser): each %49 doc becomes an actual `.mht` multipart/related
    * archive — a quoted-printable HTML root part plus two base64 resource
    * parts addressed by Content-Location. The root's markup runs the
    * engine's own HTML boilerplate extractor; each saved resource spawns
    * as a sniffed embedded child named by its URL's last path segment.
    * The oracle recomputes every node id and text from documents
    * arithmetic (the same length-prefixed embedId algebra as eml).
    */
  def mhtmlExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(49)) { (id, _) =>
      val mht = graft.core.mail.Mhtml.build(
        s"https://example.org/pages/doc$id.html",
        graft.core.Corpus.htmlWrap(id, s"saved page $id"),
        Seq(
          s"https://example.org/assets/style$id.css" ->
            s"body font $id".getBytes(UTF_8),
          // query string must strip from the resource name
          s"https://example.org/img/pix$id.dat?v=2" ->
            s"pixel data $id".getBytes(UTF_8)))
      Seq("mhtml" -> latin1(mht))
    }

  /** §2.6 REAL Outlook-message route (the reference's
    * `3rd-level-bug-732.msg` / `outlook-message.msg` fixtures): each %9 doc
    * becomes an actual `.msg` COMPOUND FILE (CFB FAT/miniFAT/directory +
    * MAPI property streams, built by the engine) whose body carries the
    * document text; %18 docs add a file attachment, %27 docs an attached
    * nested MESSAGE. Extraction must walk the compound file, decode the
    * UTF-16LE property streams, and spawn attachments as embedded children
    * — the oracle recomputes every node id from `documents` arithmetic
    * over the message's logical canonical fields ([[graft.core.office.Msg.canonical]]).
    */
  def msgExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.office.Msg
    treeLeaf(texts(docs(spark, dir)), nth(9)) { (id, t) =>
      val atts = Vector.newBuilder[Msg.Attachment]
      if (id % 18 == 0) atts += Msg.FileAtt(s"att_$id.txt", s"att $id".getBytes(UTF_8))
      if (id % 27 == 0)
        atts += Msg.MsgAtt(Msg.MsgDoc(s"re $id", s"nested $id", s"nested body $id", Vector.empty))
      Seq("cfb" -> latin1(Msg.build(Msg.MsgDoc(s"subject $id", s"sender $id", t, atts.result()))))
    }
  }

  /** The deterministic PST fixture both pst queries share (and both
    * oracles mirror): a "box" folder with a normal message (body = the
    * document text), an UNLINKED message (recovered), a %66 message with
    * a file attachment, a nested "box/deep" folder, and a %99 "crash"
    * folder holding a CORRUPT message (per-message isolation).
    */
  private def pstFixture(id: Long, t: String, crypt: Int = 0, ansi: Boolean = false): Array[Byte] = {
    import graft.core.office.Pst
    val boxMsgs = Seq(
      Pst.BuildMsg(s"m $id", t),
      Pst.BuildMsg(s"lost $id", s"orphan $id", linked = false)) ++
      (if (id % 66 == 0)
        Seq(Pst.BuildMsg(s"rich $id", s"rich body $id",
          atts = Seq((s"a$id.txt", s"att $id".getBytes(UTF_8)))))
      else Nil)
    val folders = Seq(
      Pst.BuildFolder("box", boxMsgs),
      Pst.BuildFolder("box/deep", Seq(Pst.BuildMsg(s"deep $id", s"deep body $id")))) ++
      (if (id % 99 == 0)
        Seq(Pst.BuildFolder("crash", Seq(Pst.BuildMsg("broken", "x", corrupt = true))))
      else Nil)
    Pst.build(folders, crypt, ansi)
  }

  /** §2.6 ResilientOutlookPSTParser route: each %33 doc becomes a REAL
    * Unicode PST (from-scratch MS-PST writer) that explodes into its
    * folder tree — container folder nodes, messages with .msg-parity ids,
    * attachment children, the unlinked message recovered under
    * `[recovered]`, and the corrupt message isolated as a parse-failure
    * child.
    */
  def pstExplode(spark: SparkSession, dir: String): DataFrame =
    pstVariant(spark, dir, crypt = 0, ansi = false)

  /** The SAME fixture NDB_CRYPT_PERMUTE-encrypted (MS-PST §5.1, the stock
    * Outlook default the reference fixture itself uses): node ids derive
    * from logical content, so the explode output must be byte-identical to
    * q_pst_explode's — the oracle IS cipher transparency.
    */
  def pstPermute(spark: SparkSession, dir: String): DataFrame =
    pstVariant(spark, dir, crypt = 1, ansi = false)

  /** The SAME fixture as an ANSI (wVer 15) permute-encrypted PST — the
    * pre-2003 Outlook format with 32-bit NDB layouts. Same oracle SQL
    * again: format AND cipher must both be invisible to logical output.
    */
  def pstAnsi(spark: SparkSession, dir: String): DataFrame =
    pstVariant(spark, dir, crypt = 1, ansi = true)

  /** One body for all three pst queries: their shared-oracle contract is
    * exactly "same pipeline, different fixture flags", so the pipeline
    * exists once.
    */
  private def pstVariant(spark: SparkSession, dir: String, crypt: Int, ansi: Boolean): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(33))((id, t) =>
      Seq("pst" -> latin1(pstFixture(id, t, crypt, ansi))))

  /** The 4K-OST fixture: the SAME logical tree as [[pstFixture]] plus a
    * "big" message whose multi-block attachment rides an XBLOCK with the
    * writer's MIXED raw/zlib internal compression (the OST-2013 layout
    * class) and, for %99 docs, a TRUNCATED attachment (zlib header, no
    * valid stream) that must surface as a named recovery stub. Built
    * permute-encrypted: compression and crypt compose.
    */
  private def ostFixture(id: Long, t: String): Array[Byte] = {
    import graft.core.office.Pst
    val bigText = s"ost big $id " * 2000 // ~24 KB: three leaves, mixed compression
    val boxMsgs = Seq(
      Pst.BuildMsg(s"m $id", t),
      Pst.BuildMsg(s"lost $id", s"orphan $id", linked = false)) ++
      (if (id % 66 == 0)
        Seq(Pst.BuildMsg(s"rich $id", s"rich body $id",
          atts = Seq((s"a$id.txt", s"att $id".getBytes(UTF_8)))))
      else Nil) ++
      Seq(Pst.BuildMsg(s"big $id", s"big body $id",
        atts = Seq((s"b$id.bin", bigText.getBytes(UTF_8))),
        truncAtts = if (id % 99 == 0) Seq(s"t$id.bin") else Nil))
    val folders = Seq(
      Pst.BuildFolder("box", boxMsgs),
      Pst.BuildFolder("box/deep", Seq(Pst.BuildMsg(s"deep $id", s"deep body $id")))) ++
      (if (id % 99 == 0)
        Seq(Pst.BuildFolder("crash", Seq(Pst.BuildMsg("broken", "x", corrupt = true))))
      else Nil)
    Pst.build(folders, crypt = 1, ost4k = true)
  }

  /** §2.6 4K-page OST route (wVer 36 — Outlook-2013 cached-exchange, the
    * format the reference's patched-libpst recovery exists for): the
    * pstExplode tree PLUS the internal-compression attachment (reads back
    * byte-identically through mixed raw/zlib leaves) and the %99
    * truncated attachment as a NAMED content-less parse-failure stub —
    * id parity with the .msg/.pst routes holds because ids derive from
    * logical content, never the container format.
    */
  def ostExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docsPar(spark, dir)), nth(33))((id, t) =>
      Seq("pst" -> latin1(ostFixture(id, t))))

  /** OST reconciliation counters: [[pstReconcile]]'s bookkeeping plus the
    * truncated-attachment stub count (the reference's
    * countUnreadableAttachments signal) — loss is queryable per document,
    * never only a log line.
    */
  def ostReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.office.Pst
    docsPar(spark, dir).select("doc_id", "text").as[(Long, String)]
      .filter(_._1 % 33 == 0)
      .map { case (id, t) =>
        val f = Pst.parse(ostFixture(id, t),
          Pst.byteBudget(Extract.DefaultConfig.maxSpanChars))
        val stubs = f.messages.iterator.flatMap(_.attachments).count {
          case graft.core.office.Msg.StubAtt(_, _) => true
          case _ => false
        }
        (id, f.folders.count(_.path.nonEmpty).toLong,
          f.folders.map(_.declaredCount.toLong).sum,
          f.messages.count(!_.recovered).toLong,
          f.messages.count(_.recovered).toLong,
          f.failures.size.toLong,
          stubs.toLong)
      }
      .toDF("doc_id", "n_folders", "n_declared", "n_extracted", "n_recovered",
        "n_failed", "n_att_stubs")
  }

  /** mbox mailbox route (RFC 4155 — the mailing-list-archive format):
    * each %41 doc becomes a two-message mailbox; the postmark split, the
    * per-message RFC-822 parse, and the base64 attachment explosion are
    * all oracle-recomputed (ids hash the raw message chunks).
    */
  def mboxExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(41)) { (id, _) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(s"matt $id".getBytes(UTF_8))
      Seq("mbox" ->
        (s"From a@x Mon Jan  1 00:00:00 2024\nSubject: s1\n\nmb one $id\n" +
          s"From b@y Tue Jan  2 00:00:00 2024\nSubject: s2\nMIME-Version: 1.0\n" +
          s"Content-Type: multipart/mixed; boundary=BB\n\n--BB\nContent-Type: text/plain\n\nmb two $id\n" +
          "--BB\nContent-Type: application/octet-stream\nContent-Transfer-Encoding: base64\n" +
          "Content-Disposition: attachment; filename=\"m.txt\"\n\n" + b64 + "\n--BB--\n"))
    }

  /** Parquet corpus-dump route: each %47 doc becomes a real parquet
    * file (parquet-java writer, deterministic) whose rows explode as
    * children — the columnar twin of the JSONL dump route, including the
    * NULL-row-is-an-empty-child convention.
    */
  def parquetExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docsPar(spark, dir)), nth(47))((id, _) =>
      Seq("parquet" -> latin1(graft.sources.ParquetDump.build(Seq(s"pr one $id", null, s"pr two $id")))))

  /** Avro corpus-dump route (the third dump shape next to JSONL and
    * parquet): each %53 doc becomes a real Avro object container file
    * whose rows explode as children, NULL rows as empty children.
    */
  def avroExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docsPar(spark, dir)), nth(53))((id, _) =>
      Seq("avro" -> latin1(graft.sources.AvroDump.build(Seq(s"av one $id", null, s"av two $id")))))

  /** TNEF winmail.dat route (MS-OXTNEF; the reference reads these via
    * Tika's TNEFParser): each %29 doc becomes a real TNEF stream whose
    * body carries the document text and whose file attachment explodes as
    * a sniffed child — checksummed attributes, MAPI sender decode, and
    * the same child-id arithmetic as eml attachments.
    */
  def tnefExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(29))((id, t) =>
      Seq("tnef" -> latin1(graft.core.mail.Tnef.build(s"tn $id", s"sender $id", t,
        Seq((s"w$id.txt", s"watt $id".getBytes(UTF_8)))))))

  /** vCard + iCalendar text route (RFC 6350 / RFC 5545; Tika parses both
    * in the reference): each %31 doc yields a folded, escape-carrying
    * card and a calendar event, extracted through the span route — line
    * unfolding, property filtering, and text unescaping all oracle-checked.
    */
  def contactText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 31 == 0)
      .map { id =>
        val vcf = "BEGIN:VCARD\r\nVERSION:4.0\r\nFN:Person " + id +
          "\r\nORG:Org\\, Inc " + id +
          "\r\nEMAIL:p" + id + "\r\n @example.org" + // folded line
          "\r\nNOTE:note one\\nnote two\r\nX-IGNORED:zzz\r\nEND:VCARD\r\n"
        val ics = "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\nSUMMARY:Standup " + id +
          "\r\nLOCATION:Room " + id +
          "\r\nDESCRIPTION:daily sync\r\nDTSTART:20240101T000000Z\r\n" +
          "END:VEVENT\r\nEND:VCALENDAR\r\n"
        val (vt, _) = Extract.extractSpan("vcard", vcf)
        val (it, _) = Extract.extractSpan("ics", ics)
        (id, vt, it)
      }
      .toDF("doc_id", "vcf_txt", "ics_txt")
  }

  /** PST reconciliation counters (the reference's recovery bookkeeping):
    * declared message counts from the folder PCs vs extracted, recovered,
    * and per-message-failed counts.
    */
  def pstReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.office.Pst
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .filter(_._1 % 33 == 0)
      .map { case (id, t) =>
        // the SAME budget the explode route derives from its config, so
        // the two pst queries can never diverge on refusal behavior
        val f = Pst.parse(pstFixture(id, t),
          Pst.byteBudget(Extract.DefaultConfig.maxSpanChars))
        (id, f.folders.count(_.path.nonEmpty).toLong,
          f.folders.map(_.declaredCount.toLong).sum,
          f.messages.count(!_.recovered).toLong,
          f.messages.count(_.recovered).toLong,
          f.failures.size.toLong)
      }
      .toDF("doc_id", "n_folders", "n_declared", "n_extracted", "n_recovered", "n_failed")
  }

  /** §2.4 generic OLE2 compound-file route (the reference's POIFS
    * container behavior): each %13 doc becomes a real CFB container whose
    * streams spawn as sniffed children — including a nested zip stream
    * (%26) that recurses through the archive machinery. Stream names have
    * distinct lengths, so the CFB canonical name order (length, then
    * uppercase) pins the ordinals the oracle recomputes.
    */
  def cfbExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(13)) { (id, _) =>
      val streams = Seq(
        ("a.txt", s"alpha $id".getBytes(UTF_8)),
        ("bb.txt", s"beta $id".getBytes(UTF_8))) ++
        (if (id % 26 == 0)
          Seq(("ccc.zip", Archive.zipBytes(Seq(("c.txt", s"gamma $id".getBytes(UTF_8))))))
        else Nil)
      Seq("cfb" -> latin1(graft.core.office.Cfb.build(streams)))
    }
  }

  /** §2.5 REAL media inside an Office package — the reference's
    * image-in-docx explosion (`EmbedSpawner` over Tika's package parser)
    * joined to the multimodal decode path: each %12 doc's docx embeds an
    * actual PNG part whose dims/color derive from doc_id; the engine must
    * unzip the package, recover the part bytes, decode them with ImageIO,
    * and still spawn the part as an embedded child. The oracle recomputes
    * the decoded fields arithmetically — matching requires a real zip walk
    * plus a real PNG decode.
    */
  def docxMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Archive
    docsPar(spark, dir).select("doc_id", "text").as[(Long, String)]
      .filter(_._1 % 12 == 0)
      .map { case (id, t) =>
        val w = 2 + (id % 3).toInt
        val h = 3 + (id % 2).toInt
        val rgb = ((id % 250) * 1000 + 7).toInt
        val png = Media.encodePng(w, h, rgb)
        val docx = graft.core.office.Docx.buildMinimal(lines5(t), Seq(("word/media/img1.png", png)))
        // real round trip: walk the package for the media part, decode it
        val part = Archive.unzipWanted(docx, _ == "word/media/img1.png", 16 << 20)
          .collectFirst { case (_, Some(b)) => b }.get
        val (dw, dh, pix) = Media.decodeImage(part)
        val d = DocIn(id, Array(SpanIn("zip", latin1(docx), "", 0)))
        val nChildren = Extract.explode(d).count(_.level == 1).toLong
        (id, dw.toLong, dh.toLong, pix.toLong, nChildren)
      }
      .toDF("doc_id", "width", "height", "rgb", "n_children")
  }

  /** §2.4 modern-compression containers: %33 docs carry a REAL zstd frame
    * (zstd-jni, the codec Spark itself ships for shuffles — and the format
    * web-scale text corpora arrive in) whose member spawns as a child;
    * %66 docs add a bzip2 stream wrapping a zip, exercising
    * codec -> archive recursion. Every node id oracle-recomputed.
    */
  def zstdExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docsPar(spark, dir)), nth(33)) { (id, _) =>
      Seq("zstd" -> latin1(Archive.zstdBytes(s"zst $id".getBytes(UTF_8)))) ++
        (if (id % 66 == 0) Seq("bzip2" -> latin1(Archive.bzip2Bytes(
          Archive.zipBytes(Seq(("z.txt", s"inner $id".getBytes(UTF_8)))))))
        else Nil)
    }
  }

  /** xz / lz4 / snappy codec containers (the remaining dump-era frame
    * codecs whose libraries ship on the Spark classpath): every %43 doc
    * carries an xz member and an lz4 member; %86 docs add a snappy frame
    * wrapping a zip that recurses through the archive machinery.
    */
  def codecExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docsPar(spark, dir)), nth(43)) { (id, _) =>
      Seq(
        "xz" -> latin1(Archive.xzBytes(s"xzp $id".getBytes(UTF_8))),
        "lz4" -> latin1(Archive.lz4Bytes(s"lzf $id".getBytes(UTF_8))),
        "compress" -> latin1(Archive.compressZBytes(s"unz $id".getBytes(UTF_8))),
        "lzma" -> latin1(Archive.lzmaBytes(s"lzm $id".getBytes(UTF_8)))) ++
        (if (id % 86 == 0) Seq("snappy" -> latin1(Archive.snappyBytes(
          Archive.zipBytes(Seq(("s.txt", s"sinner $id".getBytes(UTF_8)))))))
        else Nil)
    }
  }

  /** §2.4 RAR archive explosion (Tika RarParser surface): each %59 doc
    * becomes a from-scratch STORE-method rar — RAR 5.x vint framing for
    * %118 docs, the 4.x block chain otherwise; identical members so the
    * oracle is format-independent, proving both parsers. A COMPRESSED
    * middle member (the proprietary method) is refused as a counted skip
    * without disturbing sibling ordinals — per-entry isolation.
    */
  def rarExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Rar
    treeLeaf(ids(docs(spark, dir)), nth(59)) { (id, _) =>
      val files = Seq(
        ("r.txt", s"rrr $id".getBytes(UTF_8)),
        ("blob.bin", s"opaque $id".getBytes(UTF_8)), // written as compressed
        ("s.txt", s"sss $id".getBytes(UTF_8)))
      val rar =
        if (id % 118 == 0) Rar.buildRar5(files, compressed = Set("blob.bin"))
        else Rar.buildRar4(files, compressed = Set("blob.bin"))
      Seq("rar" -> latin1(rar))
    }
  }

  /** §2.1+§2.4 WARC web-archive ingestion (ISO 28500 — the format
    * web-scale corpora like Common Crawl actually ship): %35 docs become a
    * real WARC (warcinfo + an HTTP response record carrying the standard
    * boilerplate page; %70 adds a plain-text resource record). The engine
    * must walk records by Content-Length, strip the HTTP message headers,
    * sniff each body, and run the html child through the boilerplate
    * stripper — the oracle recomputes every node id including the sha256
    * of the full page bytes.
    */
  def warcExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(35)) { (id, t) =>
      val a = (Seq("warc", "body") ++
        t.split(" ", -1).take(5).filter(_.nonEmpty)).mkString(" ")
      val page = graft.core.Corpus.htmlWrap(id, a)
      val entries = Seq(
        ("response", s"http://ex.com/$id", "text/html", page.getBytes(UTF_8))) ++
        (if (id % 70 == 0)
          Seq(("resource", s"http://ex.com/$id/t", "text/plain", s"payload $id".getBytes(UTF_8)))
        else Nil)
      Seq("warc" -> latin1(graft.sources.Warc.build(entries)))
    }

  /** JSONL corpus-dump ingestion (the `{"text": ...}` interchange format
    * C4/Pile-style dumps ship): %39 docs carry three lines — a record
    * with a nested DECOY text key that depth tracking must skip, a record
    * whose value needs real escape decoding, and a text-less record that
    * must yield an empty child, not a failure. Ids hash the TRIMMED
    * lines — the engine's CRLF/indent-insensitive identity (a dump
    * re-serialized with different line endings keeps its ids).
    */
  def jsonlExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(39)) { (id, _) =>
      val lines = Seq(
        s"""{"text": "line one $id", "meta": {"text": "decoy"}}""",
        "{\"text\": \"escaped \\\"quote\\\" " + id + "\"}",
        """{"id": 7}""")
      Seq("jsonl" -> lines.mkString("\n"))
    }

  /** Unix ar / .deb outer-container explosion (Tika's commons-compress
    * `ar` surface; dpkg's actual package framing): member files in
    * archive order, with a %126 nested gzip member becoming a container
    * child whose decompressed document hangs below it — the
    * `control.tar.gz` shape at oracle-expressible depth (the full
    * ar→gzip→tar→text chain is ArchiveSpec's golden).
    */
  def arExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(63)) { (id, _) =>
      val entries = Seq(
        ("debian-binary", "2.0\n".getBytes(UTF_8)),
        ("readme.txt", s"ar note $id".getBytes(UTF_8))) ++
        (if (id % 126 == 0)
          Seq(("inner.gz", Archive.gzipBytes(s"inner $id".getBytes(UTF_8), "inner.txt")))
        else Nil)
      Seq("ar" -> latin1(Archive.arBytes(entries)))
    }
  }

  /** newc cpio explosion (the initramfs / rpm-payload record stream):
    * regular-file records in stream order, path names preserved.
    */
  def cpioExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(77))((id, _) =>
      Seq("cpio" -> latin1(graft.sources.Archive.cpioBytes(Seq(
        ("etc/motd", s"motd $id".getBytes(UTF_8)),
        ("usr/share/doc", s"doc $id".getBytes(UTF_8)))))))

  /** RPM package explosion (Tika `RpmParser` semantics): lead + two
    * header sections walked, the gzip-compressed cpio payload flattened
    * so the package's FILES are its direct children — payload framing is
    * transport, never a node.
    */
  def rpmExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(85))((id, _) =>
      Seq("rpm" -> latin1(Archive.rpmBytes(Archive.gzipBytes(Archive.cpioBytes(Seq(
        ("bin/tool", s"tool $id".getBytes(UTF_8)),
        ("etc/conf", s"conf $id".getBytes(UTF_8)))))))))
  }

  /** §2.4 REAL 7z archive route (commons-compress SevenZFile, COPY
    * method): each %45 doc becomes an actual 7-Zip container whose
    * entries spawn as sniffed children — %90 adds a nested zip that
    * recurses through the archive machinery. Oracle recomputes every
    * node id.
    */
  def sevenZExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Archive
    treeLeaf(ids(docs(spark, dir)), nth(45)) { (id, _) =>
      val entries = Seq(
        ("a.txt", s"alpha $id".getBytes(UTF_8)),
        ("bb.txt", s"beta $id".getBytes(UTF_8))) ++
        (if (id % 90 == 0)
          Seq(("ccc.zip", Archive.zipBytes(Seq(("c.txt", s"gamma $id".getBytes(UTF_8))))))
        else Nil)
      Seq("7z" -> latin1(Archive.sevenZBytes(entries)))
    }
  }

  /** §2.8 on REAL header data: parsed RFC-822 headers (unfolded, repeated
    * keys) through the full Meta.normalizeMap pipeline — collision concat
    * on the duplicated Received header, key normalization, block list.
    */
  def emlHeaders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(id => id % 5 == 0)
      .flatMap { id =>
        val msg = graft.core.mail.Eml.parse(emlRaw(id))
        Meta.normalizeMap(graft.core.mail.Eml.headerMultimap(msg))
          .map { case (k, vs) => (id, k, vs.mkString("|")) }
      }
      .toDF("doc_id", "norm_key", "vals")
  }

  /** §2.3 REAL RTF route (reference rtf fixture, `ExtractorTest.java:
    * 132-148`): document words typeset into actual RTF (header + font
    * table destination + \par-separated lines), parsed back by the
    * from-scratch RTF reader. Oracle recomputes the text from documents.
    */
  def rtfBytes(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), everyDoc)((_, t) =>
      "rtf" -> ("""{\rtf1\ansi{\fonttbl{\f0 Times New Roman;}}\f0 """ +
        lines5(t).mkString("""\par """) + "}"))

  /** §2.3 REAL legacy Word binary route (the reference's POI WordExtractor
    * .doc fixtures): document words typeset into an actual MS-DOC compound
    * file (FIB + Clx piece table, one cp1252 piece + one UTF-16LE piece,
    * CR paragraph marks), extracted back through the CFB walk + piece-table
    * reader. Oracle recomputes the 5-word lines from documents.
    */
  def docBytes(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docsPar(spark, dir)), everyDoc)((_, t) =>
      "cfb" -> latin1(graft.core.office.WordDoc.build(lines5(t).mkString("\n"))))

  /** §2.1+§2.3 declared-charset HTML ingestion (Tika's
    * HtmlEncodingDetector): %23 docs become REAL windows-1252 bytes of the
    * standard boilerplate page with accented content and a meta charset
    * declaration — the sniff must detect html, the decode must honor the
    * declared charset (a UTF-8 decode would mangle the accents), and the
    * boilerplate stripper must still recover exactly title+content.
    */
  def htmlCharsetQ(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(23)) { (id, t) =>
      val a = (Seq("café", "déjà", "vu") ++
        t.split(" ", -1).take(5).filter(_.nonEmpty)).mkString(" ")
      val page = graft.core.Corpus.htmlWrap(id, a)
        .replace("<head>", "<head><meta charset=\"windows-1252\">")
      val bytes = page.getBytes(java.nio.charset.Charset.forName("windows-1252"))
      val kind = graft.sources.Ingest.sniffKind(bytes)
      kind -> graft.sources.Ingest.decodePayload(kind, bytes)
    }

  /** §2.8 MAPI property promotion (the reference's OutlookExtractor
    * metadata: subject/from land in the Tika metadata multimap): the .msg
    * is built, round-tripped through the compound-file walk, parsed, and
    * its string properties run the full Meta.normalizeMap pipeline —
    * parity with the RFC-822 header route (q_eml_headers).
    */
  def msgHeaders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.office.{Cfb, Msg}
    docs(spark, dir).select("doc_id").as[Long]
      .filter(id => id % 9 == 0)
      .flatMap { id =>
        val m = Msg.MsgDoc(s"subject $id", s"sender $id", "", Vector.empty)
        val parsed = Msg.parse(Cfb.streamEntries(Msg.build(m), 16 << 20))
        Meta.normalizeMap(Seq(
          ("Subject", Seq(parsed.subject)), ("From", Seq(parsed.from))))
          .map { case (k, vs) => (id, k, vs.mkString("|")) }
      }
      .toDF("doc_id", "norm_key", "vals")
  }

  /** §2.3+§2.4 REAL OpenDocument route (Tika's OpenDocumentParser
    * family): each %43 doc becomes an actual odt package — mimetype +
    * content.xml with text:p paragraphs — whose body round-trips through
    * the package walk; %86 adds a Pictures/ part that spawns as a child.
    */
  def odtExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(43)) { (id, t) =>
      val pics =
        if (id % 86 == 0) Seq(("img1.bin", s"pic $id".getBytes(UTF_8))) else Nil
      Seq("zip" -> latin1(graft.core.office.Odf.buildMinimal(lines5(t), pics)))
    }

  /** §2.3 OpenDocument SPREADSHEET route (Tika OpenDocumentParser over
    * .ods): each %46 doc becomes a mimetype-verified ods package whose
    * string cells tile the document text two per row; extraction must
    * walk table rows/cells (not the flat paragraph scan) to reproduce the
    * tab-joined lines.
    */
  def odsTable(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(46))((_, t) =>
      "zip" -> latin1(graft.core.office.Odf.buildSpreadsheet(
        t.split(" ", -1).grouped(2).map(_.toSeq).toSeq)))

  /** §2.3 OpenDocument PRESENTATION route (.odp): each %62 doc becomes a
    * mimetype-verified odp package — slides of draw:frame/draw:text-box
    * paragraphs, 3 words each, two per page — whose flattened document
    * order must reproduce the 3-word lines (the same flattening Tika's
    * OpenDocumentContentParser performs).
    */
  def odpSlides(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(62)) { (_, t) =>
      val paras = t.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
      "zip" -> latin1(graft.core.office.Odf.buildPresentation(paras.grouped(2).map(_.toSeq).toSeq))
    }

  /** §2.3 XPS fixed-document route (ECMA-388, the Tika XPS surface): each
    * %79 doc becomes an OPC package whose fpage parts carry 4-word Glyphs
    * runs, two per page, with the pages DELIBERATELY written to the
    * archive in reverse — only numeric part ordering reproduces the
    * document text.
    */
  def xpsText(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(79)) { (_, t) =>
      val lines = t.split(" ", -1).grouped(4).map(_.mkString(" ")).toSeq
      "zip" -> latin1(graft.core.office.Xps.build(lines.grouped(2).map(_.toSeq).toSeq))
    }

  /** §2.3/§2.4 EPUB e-book route (Tika EpubParser analog): each %41 doc
    * becomes a real OCF/OPF package whose SPINE deliberately reverses the
    * archive/manifest order (ch2 reads before ch1) and whose manifest
    * carries a real PNG cover — the engine must verify the mimetype,
    * follow container.xml to the OPF, order chapters by the spine, strip
    * the XHTML, and spawn exactly the manifest's image items as children.
    * The oracle recomputes the spine-ordered text arithmetically.
    */
  def epubExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.office.Epub
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 41 == 0)
      .map { id =>
        val epub = Epub.build(s"Book $id", Seq(
          ("ch2.xhtml", s"<html><body><p>part two $id</p></body></html>"),
          ("ch1.xhtml", s"<html><body><p>part one $id</p></body></html>")),
          images = Seq(("img/cover.png",
            Media.encodePng(2 + (id % 3).toInt, 2 + (id % 2).toInt, (id % 255).toInt))))
        val d = DocIn(id, Array(SpanIn("zip", latin1(epub), "", 0)))
        val out = Extract.explode(d)
        val root = out.find(_.level == 0).get
        val kids = out.filter(_.level == 1)
        (id, root.spans.map(_.text).mkString(""), kids.size.toLong,
          kids.map(_.no_content_reason).distinct.mkString(","))
      }
      .toDF("doc_id", "txt", "n_children", "child_reason")
  }

  /** §2.1/§2.4 SQLite database route (Tika `SQLite3Parser` analog): each
    * %59 doc becomes a real database file — three tables (multi-row ints
    * and text, a one-row tag table, a blob-bearing table) written by the
    * from-scratch page/b-tree writer — and the engine must walk the schema
    * b-tree, decode each table's records, render the tabular text, and
    * spawn the blob cell as a sniffed embedded child. Oracle: pure string
    * arithmetic over the same parameters.
    */
  def sqliteExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.db.Sqlite
    import graft.core.db.Sqlite.{BlobCell, IntCell, TextCell}
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 59 == 0)
      .map { id =>
        val n = 2 + (id % 5).toInt
        val blobLen = 3 + (id % 7).toInt
        val db = Sqlite.build(Seq(
          ("inv", Seq("id", "qty", "name"),
            (1 to n).map(i => Seq(IntCell(i.toLong), IntCell(id * 10 + i),
              TextCell(s"item $i of $id")))),
          ("tags", Seq("tag"), Seq(Seq(TextCell(s"tag-$id")))),
          ("bin", Seq("payload"), Seq(Seq(BlobCell(Array.fill(blobLen)(0x07.toByte)))))))
        val d = DocIn(id, Array(SpanIn("sqlite", latin1(db), "", 0)))
        val out = Extract.explode(d)
        val kids = out.filter(_.level == 1)
        val blobs = out.filter(_.level == 2)
        (id, kids(0).spans.map(_.text).mkString, kids(1).spans.map(_.text).mkString,
          kids(2).spans.map(_.text).mkString, kids.size.toLong, blobs.size.toLong,
          blobs.map(_.no_content_reason).distinct.mkString(","))
      }
      .toDF("doc_id", "inv_txt", "tags_txt", "bin_txt", "n_tables", "n_blobs", "blob_reason")
  }

  /** §2.1/§2.4 Apple binary plist route (Tika plist parser surface,
    * `Extractor.java:937` sniff dispatch): each %67 doc becomes a real
    * `bplist00` file — scalars of every marker family (ascii string, int,
    * bool, CF-epoch date, array) plus TWO NSData payloads: an inline text
    * blob and a whole NESTED plist, both of which must spawn as sniffed
    * embedded children (the nested one re-entering the plist route one
    * level down). Oracle: pure string arithmetic, including the nested
    * file's byte length from the writer's deterministic layout.
    */
  def plistExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.db.Plist
    import graft.core.db.Plist._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 67 == 0)
      .map { id =>
        val nested = Plist.build(PDict(Vector("note" -> PString(s"nested note $id"))))
        val top = PDict(Vector(
          "app" -> PString(s"graft $id"),
          "count" -> PInt(id),
          "flag" -> PBool(id % 2 == 0),
          "when" -> PDate((id * 60 + 30).toDouble),
          "items" -> PArray(Vector(PString("alpha"), PString(s"beta $id"))),
          "memo" -> PData(s"inline payload $id".getBytes(UTF_8)),
          "inner" -> PData(nested)))
        val d = DocIn(id, Array(SpanIn("plist",
          latin1(Plist.build(top)), "state.plist", 0)))
        val out = Extract.explode(d)
        val root = out.find(_.level == 0).get
        val kids = out.filter(_.level == 1)
        (id, root.spans.map(_.text).mkString,
          kids(0).spans.map(_.text).mkString, kids(1).spans.map(_.text).mkString,
          kids.size.toLong)
      }
      .toDF("doc_id", "txt", "memo_txt", "inner_txt", "n_children")
  }

  /** §2.3 standalone-XML text route (Tika `XMLParser`): each %53 doc
    * becomes a declaration-led XML document with attributes, a comment,
    * nested elements, entities (named + numeric), and a CDATA section —
    * the engine must strip markup, decode entities in character data but
    * NOT in CDATA, and keep document order. It must also still sniff as
    * kind=xml with the name tiebreaker. Oracle: pure string arithmetic.
    */
  def xmlText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 53 == 0)
      .map { id =>
        val xml = s"""<?xml version="1.0" encoding="UTF-8"?>""" +
          s"""<!-- build $id --><root note="attr dropped">""" +
          s"<title>Doc &amp; Title $id</title>" +
          s"<body>line one $id<b>bold run</b>tail</body>" +
          s"<![CDATA[raw <cdata> text $id]]><empty/></root>"
        val kind = graft.sources.Ingest.sniffKind(xml.getBytes(UTF_8), "feed.xml")
        val (txt, _) = Extract.extractSpan("xml", xml)
        (id, txt, kind)
      }
      .toDF("doc_id", "txt", "kind")
  }

  /** §2.3 dBase .dbf table route (the xBase fixed-width era; Tika
    * DBFParser surface): each %33 doc becomes a real dBASE III file —
    * two-word rows as space-padded character fields — sniffed
    * structurally (the format has no magic) and rendered back to the
    * shared header + tab-joined-rows convention. A deleted row (%66,
    * flag 0x2A spliced over the first record) must be skipped.
    */
  def dbfTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .filter(_._1 % 33 == 0)
      .map { case (id, t) =>
        val rows = t.split(" ", -1).grouped(2).map(_.toSeq.padTo(2, "")).toSeq
        val bytes = graft.core.db.Dbf.build(Seq("K", "V"), rows)
        if (id % 66 == 0) {
          // mark the FIRST record deleted: its flag byte sits right after
          // the header area
          val headerSize = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
          bytes(headerSize) = 0x2a
        }
        val kind = graft.sources.Ingest.sniffKind(bytes, "table.dbf")
        val (txt, _) = Extract.extractSpan(kind, latin1(bytes))
        (id, txt, kind)
      }
      .toDF("doc_id", "txt", "kind")
  }

  /** §2.3 Windows shell-link route ([MS-SHLLINK]; the Recent-Items
    * forensic artifact Tika parses): each %47 doc becomes a real .lnk —
    * LinkInfo local base path from the document's first word, unicode
    * NAME string data, declared target size — rendered back to key:value
    * metadata text.
    */
  def lnkText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .filter(_._1 % 47 == 0)
      .map { case (id, t) =>
        val w = t.split(" ", -1).head
        val bytes = graft.core.office.Lnk.build(
          target = s"C:\\docs\\$w.doc", name = s"opened $id", fileSize = id + 7)
        val kind = graft.sources.Ingest.sniffKind(bytes, "recent.lnk")
        val (txt, _) = Extract.extractSpan(kind, latin1(bytes))
        (id, txt, kind)
      }
      .toDF("doc_id", "txt", "kind")
  }

  /** §2.3 REAL legacy Excel binary route (POI ExcelExtractor fixtures):
    * the xlsx construction re-typeset as an actual BIFF8 workbook —
    * two-word rows as SST-indirected LABELSST cells (alternating
    * compressed/UTF-16 storage) plus a final NUMBER cell — read back
    * through the CFB walk + record parser. Oracle recomputes from
    * documents.
    */
  def xlsTable(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(15))((id, t) =>
      "cfb" -> latin1(graft.core.office.Xls.build(sheetRows(id, t))))

  /** §2.3 FilePass-encrypted legacy Excel (the POI silent-open path the
    * reference rides through Tika, parity with q_pdf_decrypt): each %23
    * doc is the q_xls_table workbook RC4-ENCRYPTED from scratch per
    * [MS-OFFCRYPTO] under Excel's hardcoded default password
    * `VelvetSweatshop` — cycling standard-RC4/MD5 (%69), CryptoAPI/SHA1
    * 128-bit, and CryptoAPI 40-bit (%92) — and must extract exactly the
    * plaintext table. %115 docs carry a REAL password: those classify
    * encrypted, never emit garbage.
    */
  def xlsDecrypt(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.office.{Cfb, Xls, XlsCrypt}
    textLeaf(texts(docs(spark, dir)), nth(23)) { (id, t) =>
      val pw = if (id % 115 == 0) s"secret-$id" else "VelvetSweatshop"
      val cryptoApi = id % 69 != 0
      val keyBits = if (cryptoApi && id % 92 == 0) 40 else 128
      val streams = Xls.buildStreams(sheetRows(id, t)).map { case (nm, b) =>
        (nm, XlsCrypt.encrypt(b, pw, s"doc-$id", cryptoApi, keyBits))
      }
      "cfb" -> latin1(Cfb.build(streams))
    }
  }

  /** §2.3 ECMA-376 STANDARD-encrypted OOXML (the [MS-OFFCRYPTO] silent
    * open): %89 docs become AES-encrypted .docx compound files —
    * VelvetSweatshop-keyed ones must decrypt and extract their package
    * body; real-password ones (%178) classify encrypted, never leaking
    * ciphertext.
    */
  def ooxmlDecrypt(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docsPar(spark, dir)), nth(89)) { (id, t) =>
      val docx = graft.core.office.Docx.buildMinimal(lines5(t))
      val pw = if (id % 178 == 0) s"secret-$id" else "VelvetSweatshop"
      // %3 docs take the AGILE (2010+) cipher, the rest STANDARD (2007)
      // — same silent-open/refuse contract either way
      val enc =
        if (id % 3 == 0) graft.core.office.OoxmlCrypt.buildAgileEncrypted(docx, pw)
        else graft.core.office.OoxmlCrypt.buildEncrypted(docx, pw)
      "cfb" -> latin1(enc)
    }

  /** §2.3 REAL legacy PowerPoint binary route (POI PowerPointExtractor
    * fixtures): 5-word lines as alternating TextBytesAtom/TextCharsAtom
    * records inside a container, walked back out in document order.
    */
  def pptText(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), nth(17))((_, t) =>
      "cfb" -> latin1(graft.core.office.Ppt.build(lines5(t))))

  /** §2.4 ISO 9660 disk-image explosion (ECMA-119; the evidence-image
    * shape investigations drop whole as `.iso`): each %51 doc becomes a
    * real image — a root file plus a subdirectory file whose names
    * path-join — read back through the volume-descriptor walk; %102 docs
    * master the SAME hierarchy through a Joliet supplementary descriptor
    * (UTF-16BE names), which must yield identical children.
    */
  def isoExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(51))((id, _) =>
      Seq("iso" -> latin1(graft.sources.Iso.build(Seq(
        ("README.TXT", s"iso note $id".getBytes(UTF_8)),
        ("DOCS/DEEP.TXT", s"deep $id".getBytes(UTF_8))),
        joliet = id % 102 == 0))))

  /** §2.3 WordPerfect route (the legal-archive era format Tika parses):
    * each %39 doc becomes a real WP5 document — 5-word lines joined by
    * hard returns, with a single-byte function, a sized variable
    * function, and (on %78 docs) a password flag interleaved — decoded
    * back through the document-area byte grammar. Encrypted docs
    * classify, never emit garbage.
    */
  def wpdText(spark: SparkSession, dir: String): DataFrame =
    textLeaf(texts(docs(spark, dir)), nth(39)) { (id, t) =>
      val bytes = graft.core.office.Wpd.build(lines5(t))
      if (id % 78 == 0) bytes(10) = 0x42 // non-zero encryption key
      "wpd" -> latin1(bytes)
    }

  /** §2.4 CHM help-file explosion (Tika ChmParser surface, LZX and all):
    * each %61 doc becomes a real compiled-help container whose topic
    * files live in the LZX-COMPRESSED section — extraction must walk the
    * ITSS directory, decode the reset segments, and slice the entries
    * back out as path-named children.
    */
  def chmExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(61))((id, _) =>
      Seq("chm" -> latin1(graft.sources.Chm.build(Seq(
        ("intro.txt", s"chm note $id".getBytes(UTF_8)),
        ("topic/deep.txt", s"deep $id".getBytes(UTF_8))),
        compress = true))))

  /** §2.4 CAB cabinet explosion (the Windows installer/driver-package
    * shape): each %83 doc becomes a real MSZIP-compressed cabinet —
    * extraction must walk the CFFOLDER/CFFILE tables, inflate the folder
    * stream with cross-block history, and slice the files back out.
    */
  def cabExplode(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(ids(docs(spark, dir)), nth(83))((id, _) =>
      Seq("cab" -> latin1(graft.sources.Cab.build(Seq(
        ("readme.txt", s"cab note $id".getBytes(UTF_8)),
        ("sub/payload.txt", s"deep $id".getBytes(UTF_8))),
        compress = true))))

  /** §2.4 embedded OLE objects in a legacy .doc (POI's ObjectPool walk):
    * %21 docs build a real .doc whose ObjectPool carries a text object;
    * extraction yields the body on the root and the object as a sniffed
    * level-1 child. Oracle recomputes both node ids from documents.
    */
  def docObjects(spark: SparkSession, dir: String): DataFrame =
    treeLeaf(texts(docs(spark, dir)), nth(21))((id, t) =>
      Seq("cfb" -> latin1(graft.core.office.WordDoc.build(lines5(t).mkString("\n"),
        objects = Seq(("obj1.txt", s"obj $id".getBytes(UTF_8)))))))

  /** §2.3 delimited-table route (reference csv fixture): two-word rows plus
    * a final QUOTED field exercising embedded commas and "" escapes; the
    * parser renders tab-joined cells per row.
    */
  def csvTable(spark: SparkSession, dir: String): DataFrame =
    docLeaf(texts(docs(spark, dir)), everyDoc) { (id, t) =>
      val rows = t.split(" ", -1).grouped(2).map(_.mkString(",")).toSeq
      "csv" -> (rows.mkString("\n") + "\n\"x,\"\"y\"\" " + id + "\",tail")
    }

  /** §2.6: per-root reconciliation counters (PST parity analog). */
  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.spans(spark, dir)
      .flatMap(d => Extract.explode(d))
      .filter(col("level") === 1)
      .groupBy("root_id")
      .agg(count(lit(1)).as("n_children"),
        sum(when(col("no_content_reason") === Reason.Empty, 1L).otherwise(0L)).as("n_empty"))
  }

  /** §3.3 on-demand artifact retrieval
    * (`EmbeddedDocumentExtractor.java:111-136`): a caller holding only an
    * embed's content-derived digest fetches its spans from the output and
    * resolves the content-addressed media path. The request digests are
    * recomputed INDEPENDENTLY (what an index client would hold), so the
    * lookup only matches if retrieval ids equal index-time ids.
    */
  def artifactLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // index side: the flattened extraction output
    val indexed = Corpus.spans(spark, dir)
      .flatMap(d => Extract.explode(d).map(o =>
        (o.doc_id, o.level, o.spans.map(_.text).mkString(""))))
      .toDF("doc_id", "level", "txt")
    // retrieval side: independently recomputed digests + artifact paths
    val requests = docs(spark, dir).select("doc_id").as[Long]
      .filter(id => id % 3 == 0)
      .map { id =>
        val rid = Ids.rootId(id)
        val content =
          if (id % 21 == 0) ""
          else if (id % 27 == 0) s"chain:ocr $id>sub $id"
          else s"ocr $id"
        (id, Ids.embedId(content, rid, 0), Ids.artifactRef(id))
      }
      .toDF("src_id", "doc_id", "media_path")
    graft.operators.Artifacts.lookup(indexed, requests)
      .join(requests, "doc_id")
      .select(col("src_id").as("doc_id"), col("doc_id").as("child_id"),
        col("level"), col("txt"), col("media_path"))
  }

  /** §2.3 error taxonomy end-to-end: the REAL job path (extractPartitions —
    * classification, doc-row suppression for failures) over a corpus slice
    * with injected failure spans; statuses oracle-checked per doc_id%23.
    */
  def lineageTaxonomy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.ExtractJob
      .extractPartitions(Corpus.spansWithFailures(spark, dir), graft.pipeline.ExtractJob.JobConfig())
      .flatMap(_._2.map(l => (l.doc_id, l.status)).iterator)
      .toDF("doc_id", "status")
  }

  /** §2.10 report maintenance: the status-histogram command over the real
    * job's lineage output for the failure-injected corpus.
    */
  def reportStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lineage = graft.pipeline.ExtractJob
      .extractPartitions(Corpus.spansWithFailures(spark, dir), graft.pipeline.ExtractJob.JobConfig())
      .flatMap(_._2.map(l => (l.doc_id, l.status)).iterator)
      .toDF("doc_id", "status")
    graft.operators.ReportOps.statusCounts(lineage)
  }

  /** §2.10+§2.12: lineage rows (status + span counters) per document. */
  def extractLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.spans(spark, dir)
      .map { d =>
        val out = Extract.extractDoc(d)
        (d.doc_id, Status.Success, d.spans.size.toLong, out.spans.size.toLong)
      }
      .toDF("doc_id", "status", "n_spans_in", "n_spans_out")
  }

  // ------------------------------------------------------ sources / queue

  /** §2.1: scanner filters (include/exclude + hidden/system analogs),
    * pushed down to the parquet scan.
    */
  def scanFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") % 37 =!= 0) // hidden-file matcher analog
      .filter(col("source") =!= "src13") // system-file matcher analog
      .filter(col("n_chars").between(100, 500)) // size guard
      .select("doc_id", "source", "n_chars")

  /** §2.2: DocumentQueue.removeDuplicates analog. */
  def queueDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.withInjectedDups(docs(spark, dir))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"), countDistinct("text").as("n_distinct"))

  // ------------------------------------------------- §2.11 set/join ops

  def semiIntersect(spark: SparkSession, dir: String): DataFrame =
    SetOps.intersection(tbl(spark, dir, "customer"),
      tbl(spark, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")
      .select("c_custkey")

  def antiComplement(spark: SparkSession, dir: String): DataFrame =
    SetOps.complement(tbl(spark, dir, "customer"),
      tbl(spark, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")
      .select("c_custkey")

  /** §2.10: the exact-resume anti-join over a synthesized lineage table. */
  def resumeAnti(spark: SparkSession, dir: String): DataFrame = {
    val orders = tbl(spark, dir, "orders")
    val lineage = orders.select(
      col("o_orderkey"),
      when(col("o_orderkey") % 5 === 0, Status.Success)
        .when(col("o_orderkey") % 5 === 1, Status.Timeout)
        .otherwise(Status.Unknown).as("status"))
    SetOps.resume(orders, lineage, "o_orderkey").select("o_orderkey")
  }

  def rehash(spark: SparkSession, dir: String): DataFrame =
    SetOps.rehash(docs(spark, dir))

  /** SolrCopyConsumer + SolrTaggingConsumer + base-type projection. */
  def copyTag(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "part").select(
      col("p_partkey"),
      element_at(split(col("p_type"), " "), 1).as("base_type"),
      lit("batch-1").as("tag"))

  // ----------------------------------------------------- §2.8 metadata

  def metaKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Array("Content-Type", "dcterms:created", "X-Parsed-By",
      "Message-ID", "Page Count!")
    docs(spark, dir).select("doc_id", "source").as[(Long, String)]
      .map { case (id, src) =>
        val raw = keys((id % 5).toInt)
        (id, raw, Meta.normalizeKey(raw), src)
      }
      .toDF("doc_id", "raw_key", "norm_key", "value")
  }

  /** The date-coercion cascade, round-tripped: raw strings in four formats
    * (epoch10, epoch13, compact14, RFC-1123) -> ISO-8601.
    */
  def metaDates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .map { id =>
        val es = 1400000000L + id * 997L
        val raw = (id % 4) match {
          case 0 => es.toString
          case 1 => (es * 1000 + id % 1000).toString
          case 2 => Meta.formatCompact14(es)
          case _ => Meta.formatRfc1123(es)
        }
        (id, raw, Meta.parseToIso(raw).getOrElse(""))
      }
      .toDF("doc_id", "raw", "iso")
  }

  /** §2.9 `*_iso8601` parallel-field emission at the sink
    * (`Spewer.java:239-255` via Meta.toIsoArray): a multi-valued date field
    * emits its ISO-8601 twin only when EVERY value parses (all-or-nothing;
    * %7 docs carry an unparseable value and get none).
    */
  def metaIso(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .map { id =>
        val es = 1500000000L + id * 13
        val raws = Seq(es.toString, Meta.formatRfc1123(es + 86400)) ++
          (if (id % 7 == 0) Seq("not a date") else Nil)
        val iso = Meta.toIsoArray(raws)
        (id, "dcterms_modified", raws.mkString("|"),
          iso.map(_.mkString("|")).getOrElse(""), iso.isDefined)
      }
      .toDF("doc_id", "field", "raw_vals", "iso_vals", "has_iso")
  }

  /** §2.8 full multimap semantics: key normalization + collision concat +
    * noisy-field dedupe + glob block list, over a synthesized multimap.
    */
  def metaMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id").as[Long]
      .flatMap { d =>
        val meta = Seq(
          "Content-Type" -> Seq("text/plain; charset=utf-8"),
          "Content~Type" -> Seq("text/plain; charset=utf-8"), // key collision -> concat -> dedupe
          "Author" -> Seq("author " + (d % 7)),
          "X-TIKA:parse_time_millis" -> Seq((d % 100).toString), // block-listed
          "dcterms:created" -> Seq((1400000000L + d).toString),
          "resourceName" -> Seq(s"doc-$d.txt"))
        Meta.normalizeMap(meta).map { case (k, vs) => (d, k, vs.mkString("|")) }
      }
      .toDF("doc_id", "norm_key", "vals")
  }

  /** §2.5 CacheParserDecorator: content-addressed OCR cache as a persisted
    * table + left join before compute (cache hit wins, miss computes).
    */
  def ocrCache(spark: SparkSession, dir: String): DataFrame = {
    // content-addressed on the ACTUAL synthesized media content (mirrors the
    // %27 chain / plain-ocr CASE in Corpus.synthesizeOne), so chain-container
    // docs key on their real payload, not a doc_id formula
    val media = docs(spark, dir)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 21 =!= 0)
      .select(col("doc_id"), sha2(mediaContentCol, 256).as("content_key"))
    val cache = docs(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(
        sha2(mediaContentCol, 256).as("content_key"),
        concat(lit("cached "), col("doc_id").cast("string")).as("cached_text"))
    // NO broadcast hint: the OCR cache is content-addressed over all media
    // ever processed — it GROWS with the corpus and is exactly the side one
    // must not pin as broadcast at 100 TB. AQE broadcasts it while it
    // actually fits and shuffles once it doesn't.
    media.join(cache, Seq("content_key"), "left")
      .select(col("doc_id"),
        when(col("cached_text").isNotNull, "cache").otherwise("fresh").as("src"),
        coalesce(col("cached_text"),
          concat(lit("computed "), col("doc_id").cast("string"))).as("text"))
  }

  /** §2.4 EmbedLinker: emit download links for media embeds instead of
    * parsing them; nameless embeds get the untitled_<ordinal> convention.
    */
  def mediaLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Corpus.spans(spark, dir).flatMap { d =>
      d.spans.filter(_.kind == "media").zipWithIndex.map { case (s, ord) =>
        val name = if (s.text.isEmpty) s"untitled_$ord" else s.text
        (d.doc_id, s"""<a href="${s.media_ref}" download>$name</a>""")
      }
    }.toDF("doc_id", "link")
  }

  // ------------------------------------------------------- text analysis

  def langIdQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, TextStats.langId(t)) }
      .toDF("doc_id", "lang_pred")
  }

  /** The production trigram classifier, oracle-checked: per-language rank
    * scores AND the argmax label (the oracle generates its scoring CASEs
    * from LangId.Profiles — same data, zero drift).
    */
  def langTrigram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val s = graft.core.text.LangId.scores(t).toMap
        (id, graft.core.text.LangId.classify(t),
          s("en"), s("fr"), s("de"), s("es"))
      }
      .toDF("doc_id", "lang_pred", "s_en", "s_fr", "s_de", "s_es")
  }

  def qualityQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val q = TextStats.quality(t)
        (id, q.nTokens.toLong, q.nChars.toLong, q.nStop.toLong, q.uniqPct.toLong, q.score.toLong)
      }
      .toDF("doc_id", "n_tokens", "n_chars", "n_stop", "uniq_pct", "score")
  }

  /** Gopher-style quality rules (Rae et al. 2021): per-doc rule inputs and
    * the pass/fail verdict, all integer-exact.
    */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val g = TextStats.gopher(t)
        (id, g.nWords.toLong, g.meanWlenX100, g.nStop.toLong,
          g.alphaPctX100, g.uniqPctX100, g.passes.toLong)
      }
      .toDF("doc_id", "n_words", "mean_wlen_x100", "n_stop",
        "alpha_pct", "uniq_pct", "passes")
  }

  /** C4 page cleaning over deterministically typeset pages: each doc's
    * words become 5-word lines, where line i gets terminal punctuation
    * unless (id+i)%3=0 and a "javascript" mention when (id+i)%7=0; %31
    * docs gain a "lorem ipsum" line, %37 docs a curly-brace line. The
    * REAL [[graft.core.text.TextStats.c4]] filter runs over the page;
    * the oracle recomputes every count from the construction arithmetic.
    */
  def qualityC4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        // the oracle models the INJECTED filter triggers arithmetically, so
        // the construction must guarantee no corpus word can trigger one on
        // its own: any hazardous word (filter keywords, terminal-punctuation
        // tail, brace, whitespace, empty) is replaced by a neutral token —
        // word COUNTS, the only compared quantity, are unchanged
        val safe = t.split(" ", -1).map { w0 =>
          val lw = w0.toLowerCase(java.util.Locale.ROOT)
          if (w0.isEmpty || w0.exists(_.isWhitespace) ||
            "\".!?{".indexOf(w0.last.toInt) >= 0 || w0.contains("{") ||
            lw.contains("javascript") || lw.contains("lorem") || lw.contains("ipsum")) "w"
          else w0
        }
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        safe.grouped(5).zipWithIndex.foreach { case (g, i) =>
          val base = g.mkString(" ")
          val withJs = if ((id + i) % 7 == 0) base + " javascript" else base
          lines += (if ((id + i) % 3 != 0) withJs + "." else withJs)
        }
        if (id % 31 == 0) lines += "lorem ipsum"
        if (id % 37 == 0) lines += "{ code }"
        val s = TextStats.c4(lines.mkString("\n"))
        (id, s.nLines.toLong, s.nKept.toLong, if (s.pageKept) 1L else 0L)
      }
      .toDF("doc_id", "n_lines", "n_kept", "page_kept")
  }

  /** Exact-substring dedup (Lee et al. 2021, the ExactSubstr operator) as
    * its scalable relational reformulation: fixed-length token-window
    * anchors (15 words, stride 1) replace the suffix array — any window
    * duplicated anywhere in the corpus marks its token range, and per-doc
    * overlapping ranges merge into the MAXIMAL duplicated intervals the
    * paper removes. Plan shape: windows + 64-BIT xxhash64 anchors
    * map-side (codegen'd higher-order functions, no UDF) — an 8-byte
    * integer shuffle key per token position instead of a 64-char sha2
    * hex (~8x narrower token-level exchanges, the dominant shuffle at
    * stride 1), one shuffle on that key for the corpus-wide count, a
    * hint-free join back, and a per-doc interval merge via `aggregate`
    * whose state is bounded by document length — nothing O(corpus) ever
    * sits on one task. The oracle groups on the span TEXT, so equivalence
    * holds whenever the hash is collision-free on the data; 64-bit
    * birthday collisions only ever OVER-mark ranges as duplicated (the
    * safe direction for dedup) at ~n^2/2^65 expected pairs.
    */
  def substrDedup(spark: SparkSession, dir: String): DataFrame = {
    val L = 15
    // window anchors hash the per-token hash array, not re-joined strings
    // (round 6, guide §1.2 per-task work): each token is xxhash64'd ONCE,
    // and a window's anchor is xxhash64 over its L-long hash slice — no
    // O(L x token length) string rebuild per stride-1 window. Collision
    // freedom argument unchanged: windows with equal token sequences hash
    // equal; unequal windows collide only via a 64-bit xxhash64 collision
    // (token- or window-level), which over-marks in the safe direction.
    val wins = docsPar(spark, dir)
      .selectExpr("doc_id", "transform(split(text, ' '), x -> xxhash64(x)) AS th")
      .selectExpr("doc_id", "th", "size(th) AS n")
      .filter(s"n >= $L")
      .selectExpr("doc_id",
        s"explode(transform(sequence(0, n - $L), i -> " +
          s"struct(i AS pos, xxhash64(slice(th, i + 1, $L)) AS h))) AS t")
      .selectExpr("doc_id", "t.pos AS pos", "t.h AS h")
    val hot = wins.groupBy("h").count().filter(col("count") >= 2).select("h")
    wins.join(hot, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .selectExpr("doc_id",
        "CAST(size(ps) AS BIGINT) AS n_dup_windows",
        s"""aggregate(ps, named_struct('k', CAST(0 AS BIGINT), 'e', -1, 'c', CAST(0 AS BIGINT)),
           |  (s, p) -> IF(p >= s.e,
           |    named_struct('k', s.k + 1, 'e', p + $L, 'c', s.c + $L),
           |    named_struct('k', s.k, 'e', p + $L, 'c', s.c + CAST(p + $L - s.e AS BIGINT)))) AS m""".stripMargin)
      .selectExpr("doc_id", "n_dup_windows", "m.k AS n_ranges", "m.c AS dup_tokens")
  }

  /** 16^w buckets ~ sqrt(n): w = 2 up to ~65k docs (256 buckets), 5 at a
    * trillion (1M buckets of ~1M docs) — both window levels stay ~sqrt(n).
    */
  def tokenBudgetPrefixWidth(n: Long): Int = math.max(2, math.ceil(
    math.log(math.sqrt(n.toDouble.max(1.0))) / math.log(16.0)).toInt)

  /** Token-budget corpus sampling: take whole documents in DETERMINISTIC
    * shuffled order (sha2 of the doc id — the training-prep corpus
    * shuffle) until a token budget fills. The global cumulative sum is
    * decomposed scale-shaped and SIZE-AWARE: the hash-prefix width
    * DERIVES from the corpus size (16^w buckets ~ sqrt(n), the balanced
    * two-level scan — the per-bucket running-sum windows AND the
    * bucket-offset window each hold ~sqrt(n) rows, never a fixed
    * fraction of the corpus on one task), and buckets whose offset
    * already exceeds the budget are PRUNED before the running-sum window
    * (every member's cum_end >= boff there, so no row can qualify) —
    * for a small budget that drops almost the entire corpus from the
    * sort. One count() action feeds the width, the same cost model as
    * [[packSequences]]' bucket derivation.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val B = 12000L
    val n = docs(spark, dir).count()
    val w = tokenBudgetPrefixWidth(n)
    val d = docs(spark, dir).selectExpr("doc_id",
      "size(split(text, ' ')) AS n_tokens",
      "sha2(CAST(doc_id AS STRING), 256) AS k")
      .selectExpr("doc_id", "CAST(n_tokens AS BIGINT) AS n_tokens", "k",
        s"substring(k, 1, $w) AS bucket")
    val offsets = d.groupBy("bucket").agg(sum(col("n_tokens")).as("btot"))
      .selectExpr("bucket",
        "sum(btot) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS boff")
      .na.fill(0L, Seq("boff"))
      .filter(s"boff <= $B") // budget-exceeded buckets never produce a row
    d.join(offsets, "bucket")
      .selectExpr("doc_id", "n_tokens",
        "boff + sum(n_tokens) OVER (PARTITION BY bucket ORDER BY k " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end")
      .filter(s"cum_end <= $B")
  }

  /** The APPLICATION half of [[substrDedup]] (Lee et al. 2021's actual
    * transformation): emit each document's text with every duplicated
    * token range REMOVED. Same anchor/count/join-back shape (64-bit
    * xxhash64 anchors — see [[substrDedup]]); the removal
    * itself is a codegen'd `filter` lambda with a nested `exists` over
    * the doc's duplicated positions — per-token cost bounded by the
    * doc's own duplicate count, nothing corpus-sized per task. Docs
    * below the window length (or with no duplicates) keep their full
    * text via the left join.
    */
  def substrClean(spark: SparkSession, dir: String): DataFrame = {
    val L = 15
    val d = docsPar(spark, dir).selectExpr("doc_id", "split(text, ' ') AS w")
    // same once-per-token hashing as [[substrDedup]] (round 6)
    val wins = d
      .selectExpr("doc_id", "transform(w, x -> xxhash64(x)) AS th")
      .selectExpr("doc_id", "th", "size(th) AS n")
      .filter(s"n >= $L")
      .selectExpr("doc_id",
        s"explode(transform(sequence(0, n - $L), i -> " +
          s"struct(i AS pos, xxhash64(slice(th, i + 1, $L)) AS h))) AS t")
      .selectExpr("doc_id", "t.pos AS pos", "t.h AS h")
    val hot = wins.groupBy("h").count().filter(col("count") >= 2).select("h")
    val cov = wins.join(hot, "h")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
    d.join(cov, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        s"array_join(filter(w, (x, i) -> ps IS NULL OR " +
          s"NOT exists(ps, p -> i >= p AND i < p + $L)), ' ') AS txt")
  }

  /** C4's OTHER dedup rule — exact three-sentence-span deduplication
    * across the whole corpus (keep the first occurrence): documents
    * explode into 15-word spans at sentence (5-word) stride, the first
    * owner per span is a map-side-combinable min over (doc_id, span idx),
    * and every later occurrence counts as a duplicate. The only shuffles
    * key on sha2(span) — narrow fixed-width keys; no window (a hot span
    * would sort its whole
    * membership on one reducer), no broadcast hint (AQE picks the join;
    * the min-owner side is O(distinct spans) and must be allowed to
    * shuffle at scale). The span explode feeds both sides and is
    * recomputed rather than persisted — map-side work is the cheap term
    * next to the two shuffles, and caching an O(corpus) explode is
    * exactly what a 100 TB run cannot do.
    */
  def c4SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both shuffles key on xxhash64(span) — an 8-byte integer key instead
    // of the ~100-byte span text (or a 64-char sha2 hex), so the
    // exchanges carry the narrowest possible keys at 100 TB (the span
    // string itself never needs to survive the explode); the oracle
    // groups on the span text, equivalent absent 64-bit collisions
    val spans = docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - 15 by 5).map(i => (id, i / 5, w.slice(i, i + 15).mkString(" ")))
      }
      .toDF("doc_id", "sid", "span")
      .select(col("doc_id"), xxhash64(col("span")).as("sh"),
        (col("doc_id") * lit(1000000L) + col("sid")).as("k"))
    val first = spans.groupBy("sh").agg(min(col("k")).as("fk"))
    spans.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("k") =!= col("fk"), 1L).otherwise(0L)).as("n_dup"))
  }

  def tokenCountQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val (ws, sub) = TextStats.tokenCounts(t)
        (id, ws.toLong, sub)
      }
      .toDF("doc_id", "n_ws", "n_subword")
  }

  /** Fingerprint via the native codegen'd expression (Scala twin:
    * TextStats.fingerprint — equality asserted in tests).
    */
  def fingerprintQ(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(col("doc_id"),
      call_function("graft_fingerprint", col("text")).as("fp"))
  }

  def winnowQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, TextStats.winnowCount(t).toLong) }
      .toDF("doc_id", "n_fp")
  }

  /** Training-data PII redaction: deterministic email+phone injected per
    * doc, redacted by RE2-safe regexes with redaction COUNTS (never a
    * silent scrub). Map-only; oracle mirrors the identical regex.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val injected = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact x"), col("doc_id").cast("string"), lit("@mail.com or "),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 800 + 100).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string")).as("text"))
    graft.operators.Scrub.scrubPii(injected)
      .select("doc_id", "n_emails", "n_phones", "scrubbed")
  }

  /** Within-document repetition stats (C4/Gopher repetitious-content rule)
    * over 4-word lines of the natural corpus text.
    */
  def repetitionQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scrub.repetitionStats(spark, docs(spark, dir))

  /** The COMPOSITE training-data prep pipeline in one Catalyst plan — the
    * operators composing as a library user would chain them:
    * inject dups -> Gopher quality gate (map-only) -> exact dedup
    * (hash-groupBy keepers, lowest id wins) -> benchmark decontamination
    * (broadcast shingle semi-join) -> per-source funnel counts. Each stage
    * reuses an oracle-proven operator; the oracle recomputes the whole
    * funnel independently.
    */
  def prepSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir)
    val injected = Dedup.withInjectedDups(base)
    val quality = injected.select("doc_id", "source", "text").as[(Long, String, String)]
      .map { case (id, src, t) => (id, src, t, TextStats.gopher(t).passes.toLong) }
      .toDF("doc_id", "source", "text", "passes")
      .filter(col("passes") === 1)
    val hashed = quality.withColumn("h", md5(col("text")))
    val keepIds = hashed.groupBy("h").agg(min("doc_id").as("doc_id"))
    val kept = hashed.join(keepIds, Seq("h", "doc_id"), "left_semi")
    val bench = base.filter(col("doc_id") % 97 === 0)
    val flagged = Dedup.decontaminate(spark, kept.select("doc_id", "text"), bench, 20)
      .select("doc_id")
    val clean = kept.join(flagged, Seq("doc_id"), "left_anti")
    def cnt(df: DataFrame, name: String) =
      df.groupBy("source").agg(count(lit(1)).as(name))
    cnt(injected, "n_in")
      .join(cnt(quality, "n_quality"), Seq("source"), "left")
      .join(cnt(kept, "n_kept"), Seq("source"), "left")
      .join(cnt(clean, "n_clean"), Seq("source"), "left")
      .select(col("source"),
        col("n_in"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"))
  }

  /** BPE-ish regex tokenization (the brief's "whitespace + a BPE-ish
    * regex"): letter runs / digit runs / single punctuation marks, counted
    * per class — codegen'd regexp, RE2-safe so the oracle shares semantics.
    * Punctuation+digits are injected (the corpus is pure lowercase words).
    */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame = {
    val injected = docs(spark, dir).select(col("doc_id"),
      concat(col("text"), lit(" v"), (col("doc_id") % 10).cast("string"),
        lit(".2, end-"), col("doc_id").cast("string"), lit("!")).as("text"))
    injected.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long").as("n_alpha"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
      size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0))).cast("long").as("n_punct"))
  }

  /** The brief's preferred embedding-math pattern: dot product via builtin
    * `zip_with` + `aggregate` (whole-stage codegen, no UDF, no typed map).
    * Computes each vector's dot with its own reversal plus its norm^2 over
    * the exact quantized ints — bit-stable on both engines.
    */
  def cosineZipwith(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(x * 1000.0) AS bigint))").as("q"))
      .select(
        col("vec_id"),
        expr("aggregate(zip_with(q, reverse(q), (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("dot_rev"),
        expr("aggregate(transform(q, x -> x * x), 0L, (acc, x) -> acc + x)").as("norm2"))

  /** Data profiling for pipeline QA: per-source doc counts and exact
    * length distribution stats. The exact lower median comes from a
    * HISTOGRAM plan: partial-aggregate (source, n_chars) counts map-side
    * (bounded by the value domain, not the corpus), then a cumulative sum
    * over the tiny histogram finds the rank-(cnt+1)/2 value — no
    * full-corpus sort ever lands on one reducer, unlike a row_number
    * window over a low-cardinality partition key.
    */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val hist = docs(spark, dir)
      .groupBy("source", "n_chars")
      .agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy("source").orderBy("n_chars")
    val all = Window.partitionBy("source")
    hist
      .withColumn("cum", sum("c").over(
        byVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cnt", sum("c").over(all))
      .groupBy("source")
      .agg(
        max("cnt").as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        // lower median = smallest value whose cumulative count reaches
        // rank (cnt+1) div 2 (identical to the rank-based definition)
        min(when(col("cum") >= expr("(cnt + 1) div 2"), col("n_chars"))).as("median_chars"))
  }

  // ------------------------------------------------------------- dedup

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Dedup.withInjectedDups(docs(spark, dir)))

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(spark, Dedup.withInjectedDups(docs(spark, dir)))

  /** Incremental screening of a new shard (doc_id%3==0 of the injected-dup
    * corpus) against the committed remainder — flagged incoming docs with
    * their smallest committed match; see
    * [[graft.operators.Dedup.incrementalFlags]].
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = Dedup.withInjectedDups(docs(spark, dir))
    Dedup.incrementalFlags(spark,
      all.filter(col("doc_id") % 3 =!= 0),
      all.filter(col("doc_id") % 3 === 0))
  }

  /** Pairs -> duplicate CLUSTERS: connected components over the MinHash
    * near-dup graph (min-label propagation; see
    * [[graft.operators.Dedup.connectedComponents]]) — the keep-one-per-
    * component step that actual dedup requires beyond pairwise output.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashPairs(spark, Dedup.withInjectedDups(docs(spark, dir))))

  /** Cluster-representative selection — the dedup POLICY step real
    * pipelines run after clustering: per duplicate cluster keep the
    * highest-quality member (ties broken by lowest id). See
    * [[clusterRepFrom]] for the operator proper; the query computes the
    * cluster table first, so its cost includes clustering.
    */
  def clusterRep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val injected = Dedup.withInjectedDups(docs(spark, dir))
    val scores = injected.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, TextStats.quality(t).score.toLong) }
      .toDF("doc_id", "score")
    clusterRepFrom(dedupCluster(spark, dir), scores)
  }

  /** The policy operator proper — consumes ANY clusters frame
    * ((doc_id, component) — e.g. the committed cluster table) and ANY
    * scores frame ((doc_id, score)). The choice is one `min_by` over a
    * composite integer key (never a per-cluster sort), so the aggregate
    * stays map-side-partial + one shuffle on the component id.
    */
  def clusterRepFrom(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.join(scores, "doc_id")
      .groupBy("component")
      .agg(
        count(lit(1)).as("n_members"),
        max(col("score")).as("rep_score"),
        expr("min_by(doc_id, -score * 10000000000L + doc_id)").as("rep_id"))
      .select("component", "rep_id", "n_members", "rep_score")

  /** LSH-candidates -> edit-distance verification (the two-stage dedup
    * pipeline): MinHash proposes, levenshtein confirms exact/near copies.
    */
  def dedupEdit(spark: SparkSession, dir: String): DataFrame = {
    val injected = Dedup.withInjectedDups(docs(spark, dir))
    val candidates = Dedup.minhashPairs(spark, injected)
    Dedup.editVerify(injected, candidates, maxDist = 20)
  }

  /** SimHash via the native codegen'd expression (Scala twin:
    * TextStats.simhash32).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(col("doc_id"),
      call_function("graft_simhash32", col("text")).as("simhash"))
  }

  /** Jaccard with the df-cap exercised: every doc gets an injected
    * ubiquitous bigram ("ubiq bigram", df = N), which the cap (df > N/10)
    * must drop before the candidate join. At 100 TB the cap is an absolute
    * constant; on the fixture corpus (30-word vocabulary, natural df ~ N/15)
    * only a fraction-of-corpus cap separates hot from natural.
    */
  // the df-cap needs |documents|: one count() action per call
  private def jaccardInput(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val base = docsPar(spark, dir)
    val n = base.count()
    val injected = base.withColumn("text", concat(col("text"), lit(" ubiq bigram")))
    (injected, n / 10)
  }

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (injected, cap) = jaccardInput(spark, dir)
    Dedup.ngramJaccard(spark, injected, cap)
  }

  /** The no-silent-caps record for q_dedup_jaccard: how many shingles the
    * df-cap dropped, and the hottest df observed.
    */
  def jaccardDropped(spark: SparkSession, dir: String): DataFrame = {
    val (injected, cap) = jaccardInput(spark, dir)
    Dedup.hotShingles(spark, injected, cap)
  }

  /** Explicit bounded probe sets (the operators' contract at scale; here a
    * deterministic sample so the oracle can recompute them).
    */
  private def probes50(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") % 50 === 0).select("vec_id")
  private def probes100(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") % 100 === 0).select("vec_id")

  /** Benchmark decontamination: docs sharing >=20 distinct bigrams with the
    * benchmark slice (doc_id%97==0) are flagged for exclusion.
    */
  def decontaminateQ(spark: SparkSession, dir: String): DataFrame = {
    val all = docs(spark, dir)
    Dedup.decontaminate(spark,
      all.filter(col("doc_id") % 97 =!= 0),
      all.filter(col("doc_id") % 97 === 0), minShared = 20)
  }

  /** Bloom-prefiltered decontamination over the same split as
    * [[decontaminateQ]] — result bit-identical to the exact op (the
    * confirm join removes the bitmap's false positives; the oracle IS the
    * exact semantics), with the corpus-side shingle join replaced by a
    * codegen'd 2-bit test against a 16 KB broadcast bitmap.
    */
  def decontamBloomQ(spark: SparkSession, dir: String): DataFrame = {
    val all = docs(spark, dir)
    Dedup.decontaminateBloom(spark,
      all.filter(col("doc_id") % 97 =!= 0),
      all.filter(col("doc_id") % 97 === 0), minShared = 20)
  }

  /** The Bloom PREFILTER itself, bit-exact oracle-checked (q_decontam_bloom
    * only proves no-false-negatives; this pins the sketch): corpus shingle
    * count, bit-test survivors, and exact-confirmed count as one row. The
    * DuckDB mirror rebuilds the same bitmap with bit_or/shift/AND over the
    * same md5-derived positions, so a single wrong bit anywhere in the
    * sketch changes n_candidates and fails the hash compare.
    */
  def bloomStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val all = docs(spark, dir)
    val corpus = all.filter(col("doc_id") % 97 =!= 0)
    val bench = all.filter(col("doc_id") % 97 === 0)
    val benchSet = Dedup.shingled(spark, bench).select("shingle").distinct()
    // ONE conditional-aggregation pass over one corpus-shingle scan (the
    // q_corpus_card discipline — round 6; previously three crossJoined
    // aggregates re-ran the shingle scan as three separate jobs): the
    // bit-test is a projected column, benchmark membership a broadcast
    // left join probe, and all three counters fall out of a single agg.
    val bm = Dedup.bloomBitmapLit(benchSet, 1 << 20)
    Dedup.shingledBloom(spark, corpus, 1 << 20)
      .join(broadcast(benchSet.withColumn("in_bench", lit(true))),
        Seq("shingle"), "left")
      .withColumn("cand",
        Dedup.bloomBitTest(bm, col("p1")) && Dedup.bloomBitTest(bm, col("p2")))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("cand"), 1)).as("n_candidates"),
        count(when(col("cand") && col("in_bench"), 1)).as("n_confirmed"))
  }

  def dedupCosine(spark: SparkSession, dir: String): DataFrame =
    Knn.cosinePairs(spark, emb(spark, dir), probes50(spark, dir), 0.3)

  // -------------------------------------------------------- similarity

  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    Knn.bruteTopK(spark, emb(spark, dir), probes100(spark, dir))
      .withColumnRenamed("rank", "rnk")

  /** Fixture-PINNED bits=3 (the hand-written SQL mirror's setting);
    * production callers omit it and get the occupancy-derived width
    * (q_lsh_stats oracle-checks the derivation).
    */
  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    Knn.lshTopK(spark, emb(spark, dir), probes100(spark, dir), bits = Knn.BitsPerTable)
      .withColumnRenamed("rank", "rnk")

  def lshStatsQ(spark: SparkSession, dir: String): DataFrame =
    Knn.lshStats(spark, emb(spark, dir))

  /** Fixture-PINNED parameters (nLists=16/nProbe=8) so the hand-written SQL
    * mirror stays tractable; production callers omit them and get the
    * sqrt(N)-derived scaling (q_ivf_stats oracle-checks the derivation).
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    Knn.ivfTopK(spark, emb(spark, dir), probes100(spark, dir), nLists = 16, nProbe = 8)
      .withColumnRenamed("rank", "rnk")

  /** SemDeDup semantic deduplication: IVF-quantizer clusters (fixture-
    * pinned 16) + within-cluster min-id-wins near-dup marking at
    * cos >= 0.3; every vector emits (cluster, kept) so removals are
    * observable, never silent.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Knn.semanticDedup(spark, emb(spark, dir), nClusters = 16, tau = 0.3)

  /** The derived IVF parameterization + selectivity, oracle-checked: the
    * engine and the SQL oracle independently compute nLists=ceil(sqrt(N)).
    */
  def ivfStatsQ(spark: SparkSession, dir: String): DataFrame =
    Knn.ivfStats(spark, emb(spark, dir))

  // ------------------------------------------------- events / sessions

  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("win", date_format(
        timestamp_seconds(expr("unix_timestamp(ts) div 300") * 300),
        "yyyy-MM-dd HH:mm:ss"))
      .groupBy("win", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("pts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s",
        when(col("pts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("pts"))) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("end_ts"))
  }

  // -------------------------------------------------------- multimodal

  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Media.decodeAll(spark, docs(spark, dir))

  /** REAL image decode via JDK ImageIO: actual PNG bytes (dims/color a pure
    * function of doc_id) decoded and resized by the engine; the oracle
    * recomputes the expected values arithmetically — the engine only
    * matches if the real decode recovered them from the bytes.
    */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame =
    Media.decodeImages(spark, docsPar(spark, dir))

  /** REAL audio decode via JDK javax.sound: actual RIFF/WAVE bytes whose
    * rate/length/amplitude derive from doc_id; oracle recomputes them
    * arithmetically — matching requires genuinely parsing the container.
    */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame =
    Media.decodeAudios(spark, docs(spark, dir))

  /** REAL video-container parse (RIFF/AVI + MJPEG frames via ImageIO):
    * header fields, frame-chunk walk, and an actual first-frame JPEG
    * decode whose dims must agree with the header — oracle recomputes all
    * of it arithmetically from doc_id.
    */
  def mediaVideo(spark: SparkSession, dir: String): DataFrame =
    Media.decodeVideos(spark, docsPar(spark, dir))

  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(spark, docs(spark, dir))

  /** Multimodal near-dup over REAL decoded pixels ([[Phash]]): every %17
    * doc renders one of 12 block patterns as one of 4 byte-disjoint
    * variants (PNG, 2x-rescaled PNG, JPEG re-encode, 1-cell retouch) —
    * exact byte dedup finds nothing, but the decode -> 9x8 area-average
    * -> dHash -> banded-LSH -> Hamming-verify -> connected-components
    * pipeline must recover exactly the 12 pattern groups. The oracle
    * recomputes every hash bit AND the cluster memberships arithmetically
    * from the fixture formula, so a match requires the real decode and
    * the real Hamming clustering both to be right.
    */
  def dedupPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val imgs = docsPar(spark, dir).select("doc_id").as[Long]
      .filter(_ % 17 == 0)
      .map { id =>
        val k = id / 17
        (id, Phash.fixtureBytes(((k / 4) % 12).toInt, (k % 4).toInt))
      }
    Phash.clusters(spark, imgs)
  }

  /** Audio near-dup over REAL decoded PCM ([[graft.multimodal.Afp]]):
    * every %19 doc renders one of 12 loudness contours as one of 4
    * byte-disjoint variants (8 kHz, 16 kHz resample, half volume, 1-frame
    * edit) — the energy-contour fingerprint + the shared LSH/Hamming/CC
    * clustering must recover exactly the contour groups, and the oracle
    * recomputes every bit and membership arithmetically.
    */
  def dedupAudiofp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Afp
    val clips = docsPar(spark, dir).select("doc_id").as[Long]
      .filter(_ % 19 == 0)
      .map { id =>
        val k = id / 19
        (id, Afp.fixtureBytes(((k / 4) % 12).toInt, (k % 4).toInt))
      }
    Afp.clusters(spark, clips)
  }

  /** Video near-dup over REAL AVI container walks
    * ([[graft.multimodal.Vfp]]): every %29 doc wraps one of 12 pattern
    * keyframes in one of 4 byte-disjoint clip variants (re-cut with extra
    * trailing frames, rescaled, retouched keyframe) — the guarded RIFF
    * walk + first-frame decode + dHash + shared LSH/Hamming/CC clustering
    * must recover exactly the keyframe groups; the oracle recomputes
    * every hash bit and membership arithmetically.
    */
  def dedupVideofp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Vfp
    val clips = docsPar(spark, dir).select("doc_id").as[Long]
      .filter(_ % 29 == 0)
      .map { id =>
        val k = id / 29
        (id, Vfp.fixtureBytes(((k / 4) % 12).toInt, (k % 4).toInt))
      }
    Vfp.clusters(spark, clips)
  }

  /** §2.5/§2.8 image metadata probing — the reference's Tika image
    * metadata surface (`JpegParser` + EXIF walk, `ImageParser` for
    * PNG/GIF, behind `Extractor.java`'s AutoDetectParser): each %23 doc
    * synthesizes THREE real images whose parameters derive from doc_id —
    * a PNG with an injected tEXt chunk, a JPEG with an injected EXIF APP1
    * (orientation/make/model), and a GIF — and the engine must byte-walk
    * the containers ([[graft.core.media.Probe]]) to recover dimensions,
    * EXIF fields, and the tEXt value. All three must also sniff as
    * kind=image (the AutoDetect dispatch). Oracle: pure arithmetic.
    */
  def imageProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.media.Probe
    docsPar(spark, dir).select("doc_id").as[Long]
      .filter(_ % 23 == 0)
      .map { id =>
        val png = Probe.pngWithText(
          Media.encodePng(3 + (id % 9).toInt, 2 + (id % 7).toInt, 0x204060),
          Seq(("Title", s"img $id")))
        val jpg = Probe.jpegWithExif(
          Media.encodeSolid(8 + (id % 6).toInt, 8 + (id % 4).toInt, 0x664422, "jpg"),
          orientation = 1 + (id % 8).toInt,
          make = "Cam" + (id % 5), model = "M" + (id % 3))
        val gif = Media.encodeSolid(4 + (id % 5).toInt, 3 + (id % 3).toInt, 0x0000ff, "gif")
        val pi = Probe.probePng(png)
        val ji = Probe.probeJpeg(jpg)
        val gi = Probe.probeGif(gif)
        val kinds = Seq(png, jpg, gif)
          .map(graft.sources.Ingest.sniffKind(_)).distinct.mkString(",")
        (id, pi.width.toLong, pi.height.toLong, pi.bitDepth.toLong, pi.texts.head._2,
          ji.width.toLong, ji.height.toLong, ji.orientation.toLong, ji.make, ji.model,
          gi.width.toLong, gi.height.toLong, gi.frames.toLong, kinds)
      }
      .toDF("doc_id", "png_w", "png_h", "png_depth", "png_title",
        "jpg_w", "jpg_h", "jpg_orient", "jpg_make", "jpg_model",
        "gif_w", "gif_h", "gif_frames", "kinds")
  }

  /** §2.5/§2.8 audio/video metadata probing (Tika's `Mp4Parser` /
    * `Mp3Parser` / RIFF surface): each %37 doc synthesizes a real MP4 box
    * tree (ftyp + moov/mvhd/trak), an MPEG-1 Layer III frame stream, and
    * a RIFF/WAVE file, all parameterized by doc_id; the probe must walk
    * the containers to recover brand, timescale→ms duration, track count,
    * frame count, and sample rate. Oracle: pure integer arithmetic
    * (durations use floor division on both sides).
    */
  def avProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.media.Probe
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 37 == 0)
      .map { id =>
        val ts = 600 + (id % 5).toInt * 100
        val du = 1000 + (id % 11).toInt * 300
        val mp4 = Probe.buildMp4("isom", ts, du, 1 + (id % 3).toInt)
        val mp3 = Probe.buildMp3(5 + (id % 7).toInt, id3 = id % 74 == 0)
        val wav = Media.encodeWav(8000 + (id % 4).toInt * 4000, 200 + (id % 50).toInt, 0)
        val m4 = Probe.probeMp4(mp4)
        val m3 = Probe.probeMp3(mp3)
        val wv = Probe.probeWav(wav)
        val kinds = Seq(mp4, mp3, wav)
          .map(graft.sources.Ingest.sniffKind(_)).distinct.mkString(",")
        (id, m4.brand, m4.timescale, m4.durationMs, m4.nTracks.toLong,
          m3.nFrames.toLong, m3.durationMs, m3.sampleRate.toLong,
          wv.sampleRate.toLong, wv.durationUs, kinds)
      }
      .toDF("doc_id", "mp4_brand", "mp4_timescale", "mp4_dur_ms", "mp4_tracks",
        "mp3_frames", "mp3_dur_ms", "mp3_rate", "wav_rate", "wav_dur_us", "kinds")
  }

  /** §2.8 ID3v2 text-frame metadata (the Tika `Mp3Parser` title/artist/
    * album surface): each %73 doc builds an MP3 whose ID3v2.4 tag carries
    * UTF-8 TIT2/TPE1/TALB frames with syncsafe sizes; the probe must walk
    * the frame chain (not just skip the tag) to recover them, while the
    * audio frame count still parses past the tag.
    */
  def mp3Tags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.media.Probe
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 73 == 0)
      .map { id =>
        val mp3 = Probe.buildMp3(3 + (id % 4).toInt,
          title = s"track $id", artist = s"artist ${id % 7}", album = s"album ${id % 5}")
        val m = Probe.probeMp3(mp3)
        (id, m.title, m.artist, m.album, m.nFrames.toLong)
      }
      .toDF("doc_id", "title", "artist", "album", "n_frames")
  }

  /** §2.5/§2.8 extended raster coverage — the remaining image formats of
    * the reference's Tika surface (`TiffParser`, `BmpParser` via ImageIO,
    * `WebPParser`, ICO under image/vnd.microsoft.icon): each %61 doc
    * synthesizes a standalone baseline TIFF (IFD0 with camera strings),
    * a 24-bit BMP (top-down on even ids), BOTH WebP dimension packings
    * (VP8L bitstream and VP8X canvas), and a PNG-payload ICO, then
    * byte-walks all five containers ([[graft.core.media.Probe]]). All
    * must also sniff as kind=image. Oracle: pure arithmetic.
    */
  def imageProbe2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.media.Probe
    docs(spark, dir).select("doc_id").as[Long]
      .filter(_ % 61 == 0)
      .map { id =>
        val tif = Probe.buildTiff(5 + (id % 9).toInt, 4 + (id % 6).toInt,
          1 + (id % 8).toInt, "Mk" + (id % 4), "Md" + (id % 5))
        val bmp = Probe.buildBmp(6 + (id % 10).toInt, 3 + (id % 7).toInt,
          topDown = id % 2 == 0)
        val wpl = Probe.buildWebpLossless(1 + (id % 300).toInt, 1 + (id % 200).toInt)
        val wpx = Probe.buildWebpExtended(2 + (id % 400).toInt, 2 + (id % 250).toInt)
        val icoDim = 16 + (id % 3).toInt * 16
        val ico = Probe.buildIco(
          Media.encodePng(icoDim, icoDim, 0x3060a0), icoDim, icoDim)
        val ti = Probe.probeTiff(tif)
        val bi = Probe.probeBmp(bmp)
        val wl = Probe.probeWebp(wpl)
        val wx = Probe.probeWebp(wpx)
        val ii = Probe.probeIco(ico)
        val kinds = Seq(tif, bmp, wpl, wpx, ico)
          .map(graft.sources.Ingest.sniffKind(_)).distinct.mkString(",")
        (id, ti.width.toLong, ti.height.toLong, ti.bitsPerSample.toLong,
          ti.orientation.toLong, ti.make, ti.model,
          bi.width.toLong, bi.height.toLong, bi.bitsPerPixel.toLong,
          if (bi.topDown) 1L else 0L,
          wl.format, wl.width.toLong, wl.height.toLong,
          wx.format, wx.width.toLong, wx.height.toLong,
          ii.nImages.toLong, ii.width.toLong, ii.height.toLong,
          if (ii.pngPayload) 1L else 0L, kinds)
      }
      .toDF("doc_id", "tif_w", "tif_h", "tif_bps", "tif_orient", "tif_make",
        "tif_model", "bmp_w", "bmp_h", "bmp_bpp", "bmp_topdown",
        "webp_fmt", "webp_w", "webp_h", "webpx_fmt", "webpx_w", "webpx_h",
        "ico_n", "ico_w", "ico_h", "ico_png", "kinds")
  }

  /** The native codegen'd Catalyst expression (graft.functions.Code32)
    * running inside whole-stage codegen.
    */
  def exprCode32(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(col("doc_id"),
      call_function("graft_code32", col("text")).as("code"))
  }

  /** The deterministic crawl-URL construction and rule lists, shared by
    * q_url_filter and q_web_funnel (and mirrored by both oracles) so the
    * two can never desynchronize: %3 picks the host class (clean /
    * blocked / blocked-by-suffix), %5 adds a tracking keyword, %7 a
    * non-http scheme.
    */
  private def crawlUrlOf(id: Long): String = {
    val hostPart = (id % 3) match {
      case 0 => "good.example"
      case 1 => "spam.example"
      case _ => "sub.bad.example"
    }
    val scheme = if (id % 7 == 0) "ftp" else "http"
    val q = if (id % 5 == 0) "?track=1" else ""
    s"$scheme://$hostPart/p$id$q"
  }
  private val CrawlBlockedDomains = Seq("spam.example", "bad.example")
  private val CrawlBlockedKeywords = Seq("track")

  /** Deterministic MESSY crawl URLs for the canonicalization/URL-dedup
    * tier: every id targets canonical `http://site{k%10}.example/p{k}`
    * (k = id%100, plus `?id=7` when id%17==0 — a REAL parameter that must
    * survive), wrapped in the classic aliasing noise — upper-case
    * host/scheme, an explicit default port, a trailing slash, tracking
    * parameters, a fragment. The oracle recomputes the canonical form
    * arithmetically from doc_id, so every normalization rule is
    * hash-checked (a missed rule splits a group and changes counts).
    */
  private def messyUrlOf(id: Long): String = {
    val key = id % 100
    val host0 = s"site${key % 10}.example"
    val host = if (id % 2 == 0) host0.toUpperCase else host0
    val scheme = if (id % 11 == 0) "HTTP" else "http"
    val port = if (id % 3 == 0) ":80" else ""
    val path0 = s"/p$key"
    val path = if (id % 13 == 0) path0 + "/" else path0
    // mixed-case userinfo survives VERBATIM (RFC 3986 §6.2.2.1: only
    // scheme and host case-normalize)
    val user = if (id % 23 == 0) "User@" else ""
    // real params that must SURVIVE the tracking strip — including the
    // lookalike pfbclid, whose name merely CONTAINS fbclid
    val keeps = Seq(
      if (id % 17 == 0) Some("id=7") else None,
      if (id % 19 == 0) Some("pfbclid=9") else None).flatten
    val track = if (id % 5 == 0) Seq("utm_source=x", "utm_campaign=y") else Seq()
    val qparts = keeps ++ track
    val q = if (qparts.isEmpty) "" else "?" + qparts.mkString("&")
    val frag = if (id % 7 == 0) "#sec2" else ""
    s"$scheme://$user$host$port$path$q$frag"
  }

  /** RefinedWeb-style URL filtering over the deterministic crawl URLs —
    * every rule and the first-matching-reason precedence oracle-checked.
    */
  def urlFilterQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = docs(spark, dir).select("doc_id").as[Long]
      .map(id => (id, crawlUrlOf(id)))
      .toDF("doc_id", "url")
    graft.operators.Scrub.urlFilter(urls, CrawlBlockedDomains, CrawlBlockedKeywords)
  }

  /** URL-level crawl dedup: canonicalize the messy URLs (all aliasing
    * noise normalized by codegen'd regexps — see
    * [[graft.operators.Scrub.urlCanonicalize]]) then exact-group on the
    * canonical form: (canon_url, n_copies, keeper = min doc_id). The one
    * shuffle keys on the canonical string; at web scale it would key on
    * its 64-bit hash like the content-dedup tier.
    */
  def urlDedupQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = docs(spark, dir).select("doc_id").as[Long]
      .map(id => (id, messyUrlOf(id)))
      .toDF("doc_id", "url")
    graft.operators.Scrub.urlCanonicalize(urls)
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper_id"))
  }

  /** Robots-exclusion filtering (RFC 9309, the politeness gate ahead of
    * every crawl-derived corpus): REAL robots.txt bodies — comments, a
    * non-`*` group that must not apply, an empty Disallow meaning no
    * rule, Allow/Disallow prefixes — parse into per-host rules, join the
    * crawl URLs hint-free, and decide with longest-match semantics
    * (Allow beats Disallow on ties) via one max(struct) aggregation.
    */
  def robotsFilterQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val robots = Seq(
      ("good.example",
        "# corpus crawler policy\nUser-agent: evilbot\nDisallow: /\n\n" +
          "User-agent: *\nDisallow: /p1\nAllow: /p12\n"),
      ("spam.example", "User-agent: *\nDisallow: /\n"),
      ("sub.bad.example", "User-agent: *\nDisallow:\nCrawl-delay: 10\n"))
      .toDF("host", "robots_txt")
    val rules = graft.operators.Scrub.robotsRules(spark, robots)
    val urls = docs(spark, dir).select("doc_id").as[Long]
      .map(id => (id, crawlUrlOf(id))).toDF("doc_id", "url")
    graft.operators.Scrub.robotsFilter(urls, rules)
  }

  /** The WEB funnel — crawl-to-corpus as ONE Catalyst plan, composing the
    * round's web-native operators end-to-end the way a 100 TB pipeline
    * would: REAL WARC bytes built and exploded per document (mapPartitions,
    * no shuffle), URL filtering (map-only rule cascade), exact content
    * dedup (ONE first-owner+group-size aggregation — the only wide
    * shuffle, keyed on sha2(content)), and benchmark decontamination
    * (bigram semi-join against the %97 held-out set, broadcast-small by
    * definition). Emits the stage counts as one row via conditional
    * aggregates over the single deduped set — the expensive page map is
    * never re-executed per count; every count recomputed by the oracle
    * from `documents` arithmetic.
    */
  def webFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // (content relies on the documented corpus precondition — single-
    // spaced [a-z]+ words, Corpus.scala — like every typeset fixture)
    def pageify(src: org.apache.spark.sql.Dataset[(Long, String)]): DataFrame = src
      .map { case (id, t) =>
        val a = (Seq("warc", "body") ++
          t.split(" ", -1).take(2).filter(_.nonEmpty)).mkString(" ")
        val page = graft.core.Corpus.htmlWrap(id, a)
        val warc = graft.sources.Warc.build(
          Seq(("response", crawlUrlOf(id), "text/html", page.getBytes(UTF_8))))
        val d = DocIn(id, Array(SpanIn("warc", latin1(warc), "", 0)))
        val txt = Extract.explode(d).find(_.level == 1).get.spans.map(_.text).mkString
        (id, crawlUrlOf(id), txt.substring(txt.indexOf('\n') + 1)) // content = page sans title
      }
      .toDF("doc_id", "url", "content")
    val src = docsPar(spark, dir).select("doc_id", "text").as[(Long, String)]
    val pages = pageify(src)
    // decontamination compares only the PER-DOC words (the fixed
    // 'warc body' prefix stripped) — a universal bigram in the benchmark
    // would flag every page and verify nothing
    val tail = ltrim(expr("substring(content, 10)"))
    val kept = graft.operators.Scrub.urlFilter(pages,
        CrawlBlockedDomains, CrawlBlockedKeywords)
      .filter(col("kept") === 1)
      .select(col("doc_id"), col("content"))
    // exact dedup as ONE aggregation — per distinct content the first
    // owner AND the group size, so n_url_kept/n_unique need no join-back
    // and the expensive pageify map executes once for the whole funnel
    // (not once per count branch). The shuffle keys on sha2(content):
    // fixed 64-char keys instead of full page text at 100 TB.
    val grouped = kept
      .select(col("doc_id"), sha2(col("content"), 256).as("ch"), tail.as("text"))
      .groupBy("ch")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_in_group"),
        max("text").as("text")) // group members are byte-identical pages
    // benchmark pages built from a PRE-FILTERED source: the filter cannot
    // push below the typed map, so filtering first avoids rebuilding the
    // full corpus's WARC bytes to discard 96/97 of them
    val benchDocs = pageify(src.filter(_._1 % 97 == 0)).select(col("doc_id"), tail.as("text"))
    val flagged = Dedup.decontaminate(spark,
        grouped.select("doc_id", "text"), benchDocs, minShared = 1)
      .select(col("doc_id"), lit(1L).as("contaminated"))
    // every remaining count is a conditional aggregate over the SAME
    // grouped rows + the contamination flag — one pass, no recompute
    val counts = grouped.join(flagged, Seq("doc_id"), "left")
      .agg(
        sum("n_in_group").as("n_url_kept"),
        count(lit(1)).as("n_unique"),
        sum(when(col("doc_id") % 97 =!= 0 && col("contaminated").isNull, 1L)
          .otherwise(0L)).as("n_clean"))
    // the page map is 1:1, so n_pages counts the source scan directly
    docs(spark, dir).agg(count(lit(1)).as("n_pages")).crossJoin(counts)
  }

  /** The corpus DATASHEET: one pass over the corpus producing the
    * per-split report card a training run starts from — doc/token
    * counts, mean quality (integer x100), language mix, and an exact
    * duplicate count — every signal integer-exact and computed in the
    * SAME scan. Plan: map-side partials, then the two exchanges Spark's
    * distinct-aggregate rewrite needs — the first keyed on (split, md5),
    * a fixed ~35-byte pair, the second on the 3 split keys.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE tokenization per row serves quality AND language; ONE md5
    // serves the split bucket AND the duplicate count
    val scored = docs(spark, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val w = t.split(" ", -1)
        var en = 0; var fr = 0; var de = 0
        val uniq = new scala.collection.mutable.HashSet[String]
        w.foreach { tok =>
          if (TextStats.StopEn.contains(tok)) en += 1
          if (TextStats.StopFr.contains(tok)) fr += 1
          if (TextStats.StopDe.contains(tok)) de += 1
          uniq += tok
        }
        val n = w.length
        val score = math.min(40, n / 2) + math.min(30, 100 * en / n) +
          math.min(30, (100 * uniq.size / n) / 3)
        val lang =
          if (en >= fr && en >= de && en > 0) "en"
          else if (fr >= de && fr > 0) "fr"
          else if (de > 0) "de" else "und"
        (id, t, n.toLong, score.toLong, lang)
      }
      .toDF("doc_id", "text", "n_tokens", "score", "lang")
    scored
      .withColumn("h", md5(col("text")))
      .withColumn("bucket",
        expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        expr("(sum(score) * 100) div count(1)").as("score_x100"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
      .select("split", "n_docs", "n_tokens", "score_x100", "n_en", "n_dup_docs")
  }

  /** Deterministic content-hash dataset split — how a training pipeline
    * assigns train/val/test held-out sets so membership is stable across
    * re-runs and shards: bucket = code32(text) % 100 via the native
    * codegen'd expression, split thresholds 80/90. Map-only, no state.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(col("doc_id"),
      (call_function("graft_code32", col("text")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
  }

  /** Deterministic quality-weighted resampling (the DCLM/Dolma-style
    * corpus reweighting step): keep a document iff its content-hash draw
    * falls under its integer weight (here capped word count / 256) —
    * seedless, rerun-stable, shard-independent, and purely map-side
    * codegen (no typed lambda, no shuffle at any scale).
    */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs(spark, dir).select(col("doc_id"),
      least(lit(255), size(split(col("text"), " "))).cast("long").as("weight"),
      (call_function("graft_code32", col("text")) % 256).as("draw"))
      .withColumn("kept", (col("draw") < col("weight")).cast("long"))
  }

  /** Domain-mixture rebalancing (the data-mixing step a pretraining
    * pipeline runs after importance sampling: flatten the domain
    * distribution toward uniform, the integer-exact limit of
    * temperature resampling): domain = content-hash bucket, per-domain
    * counts aggregate map-side and join back HINT-FREE (O(domains)
    * side — AQE picks broadcast while it fits), the global min count is
    * a 1-row broadcast, and each document keeps iff its independent
    * draw clears the inverse-frequency threshold
    * `min(256, (min_cnt * 256) div n_domain)` — the rarest domain keeps
    * everything, a 10x-overrepresented domain keeps ~1/10. Map-only per
    * row after the one counts shuffle; deterministic across runs/shards.
    */
  def domainBalance(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = docs(spark, dir).select(col("doc_id"),
      (call_function("graft_code32", col("text")) % 16).cast("long").as("domain"),
      (call_function("graft_code32", concat(col("text"), lit("~draw"))) % 256).as("draw"))
    val counts = d.groupBy("domain").agg(count(lit(1)).as("n_domain"))
    val minCnt = counts.agg(min(col("n_domain")).as("min_cnt"))
    d.join(counts, "domain")
      .crossJoin(broadcast(minCnt)) // 1 row, bounded by construction
      .withColumn("threshold", least(lit(256L), expr("(min_cnt * 256) div n_domain")))
      .withColumn("kept", (col("draw") < col("threshold")).cast("long"))
      .select("doc_id", "domain", "n_domain", "threshold", "kept")
  }

  /** Symmetric int8 embedding quantization (the ANN-index memory-4x
    * compression step real vector pipelines run before sharding): per
    * vector, scale = max|x| and q_i = round(x_i * 127 / scale), with the
    * rounded integers' stats as the oracle surface (quantized values are
    * EXACT integers in both engines — float ops stay single IEEE-defined
    * double multiplies/divides, never a reassociated aggregation).
    * Map-only codegen over the embeddings scan: zero exchanges, scales
    * with the table like the fingerprint ops.
    */
  def embedQuant(spark: SparkSession, dir: String): DataFrame =
    graft.core.Corpus.embeddings(spark, dir)
      .selectExpr("vec_id", "embedding",
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) AS s")
      .selectExpr("vec_id",
        "CAST(size(embedding) AS BIGINT) AS n_dims",
        "transform(embedding, x -> IF(s = 0D, CAST(0 AS BIGINT), " +
          "CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT))) AS qs")
      .selectExpr("vec_id", "n_dims",
        "array_min(qs) AS q_min",
        "array_max(qs) AS q_max",
        "aggregate(qs, CAST(0 AS BIGINT), (a, q) -> a + q) AS q_sum",
        "aggregate(qs, CAST(0 AS BIGINT), (a, q) -> a + q * q) AS q_norm2")

  /** Temperature-based domain mixing (the multilingual-pretraining
    * sampling rule: domain mass rebalances toward p^alpha, here
    * alpha = 1/2): per-document keep probability proportional to
    * 1/sqrt(n_domain), normalized so the rarest domain keeps everything —
    * interpolating between natural sampling (alpha=1) and
    * [[domainBalance]]'s equal-mass rule (alpha=0). Integer thresholds
    * over floor(sqrt(n)) — IEEE-754 sqrt is correctly rounded, so both
    * engines compute the identical integer — and the same
    * one-counts-shuffle + map-only shape as domainBalance: scale-ready
    * at any corpus size.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val d = docs(spark, dir).select(col("doc_id"),
      (call_function("graft_code32", col("text")) % 16).cast("long").as("domain"),
      (call_function("graft_code32", concat(col("text"), lit("~mixdraw"))) % 256).as("draw"))
    val counts = d.groupBy("domain").agg(count(lit(1)).as("n_domain"))
    val minCnt = counts.agg(min(col("n_domain")).as("min_cnt"))
    d.join(counts, "domain")
      .crossJoin(broadcast(minCnt)) // 1 row, bounded by construction
      .withColumn("threshold", least(lit(256L),
        expr("(CAST(floor(sqrt(min_cnt)) AS BIGINT) * 256) div CAST(floor(sqrt(n_domain)) AS BIGINT)")))
      .withColumn("kept", (col("draw") < col("threshold")).cast("long"))
      .select("doc_id", "domain", "n_domain", "threshold", "kept")
  }

  /** Sequence packing (pretraining batch prep): within each content-hash
    * bucket, documents pack greedily in doc_id order into fixed-capacity
    * token bins — bin = floor(preceding-tokens / capacity). The window
    * sorts PER BUCKET, never globally: at 100 TB the bucket count scales
    * with the corpus so each partition's sort stays bounded, and the
    * assignment is reproducible across runs and shards.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // bucket count DERIVES from corpus size (~1000 docs/bucket, floor
    // 100) so the per-bucket window sort stays bounded at any scale —
    // one count() action, the same cost model as the IVF nLists
    // derivation (oracle-mirrored)
    val n = docs(spark, dir).count()
    val nBuckets = math.max(100L, (n + 999L) / 1000L)
    val toks = docs(spark, dir).select(col("doc_id"),
      (call_function("graft_code32", col("text")) % nBuckets).as("bucket"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", ((col("cum") - col("n_tok")) / lit(256L)).cast("long"))
      .select("doc_id", "bucket", "n_tok", "cum", "bin")
  }

  /** Unigram surprisal scoring (the CCNet perplexity-bucketing signal in
    * integer-exact form): each token contributes the BIT LENGTH of
    * total/count — an ilog2 surrogate for -log p(w) that both engines
    * compute identically via `bin()` — summed per document plus a
    * mean x100. Rare-word-heavy documents score HIGH (the perplexity
    * tail CCNet trims). Same scale shape as [[wordFreqScore]]: one
    * shuffle on the token, hint-free count join, and the corpus total as
    * a genuine 1-row broadcast.
    */
  def surprisalScore(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val counts = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    words.join(counts, "w")
      .crossJoin(broadcast(total)) // 1 row: the legitimate broadcast case
      .withColumn("bits", length(bin(expr("total div cnt"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_bits_x100", expr("(surprisal_bits * 100) div n_tokens"))
  }

  /** Unicode NFC normalization pass (q_normalize): the same visible text
    * arrives from the web composed AND decomposed, and every content hash
    * in the dedup tier would split on it — so normalization runs before
    * hashing. Decomposed/precomposed fixtures synthesize from doc_id; the
    * check is CROSS-ENGINE EXACT: md5 of [[graft.functions.Nfc]]'s output
    * must equal md5 of DuckDB's `nfc_normalize` on the same input (both
    * implement UAX #15 NFC), plus codepoint counts and a changed flag.
    * Map-only, zero exchanges; the expression is codegen'd with an ASCII
    * fast path.
    */
  def normalizeQ(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val raw = docs(spark, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(lit("cafe\u0301 vin\u0303a "), col("text"))) // DECOMPOSED e+U+0301, n+U+0303
        .when(col("doc_id") % 3 === 1,
          concat(lit("caf\u00e9 vi\u00f1a "), col("text"))) // precomposed U+00E9, U+00F1
        .otherwise(col("text")).as("raw"))
    raw.select(col("doc_id"),
        call_function("graft_nfc", col("raw")).as("nf"), col("raw"))
      .select(col("doc_id"),
        (col("raw") =!= col("nf")).cast("long").as("changed"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("nf")).cast("long").as("n_nfc"),
        substring(md5(col("nf")), 1, 8).as("h8"))
  }

  /** Bigram-LM perplexity scoring (the FULL CCNet quality signal — the
    * real pipeline trains a 5-gram KenLM on clean text and trims the
    * high-perplexity tail; [[surprisalScore]] is its unigram floor, this
    * is the conditional-model step): an add-one-smoothed bigram model is
    * fit on the corpus itself and every document is scored by its mean
    * conditional surprisal. Integer-exact like the rest of the quality
    * tier: each bigram (w1,w2) contributes the BIT LENGTH of
    * (c1+V)/(c2+1) — the ilog2 surrogate for -log p(w2|w1) under Laplace
    * smoothing with vocabulary V — so Spark and DuckDB agree bitwise.
    *
    * Scale shape: bigrams derive from one `filter(split())` token array
    * (codegen'd slice+zip, no Window-lag shuffle for adjacency — the
    * per-doc array IS the order); the model tables are two map-side
    * partial aggregations shuffling only (w1,w2) and (w1) keys; V is a
    * genuine 1-row broadcast; scoring re-joins hint-free so AQE
    * broadcasts the model while it fits and shuffle-joins at web scale.
    * Documents with fewer than two tokens have no bigrams and drop from
    * the output in both engines (inner-join semantics).
    */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val ws = docs(spark, dir)
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x != '')").as("l"))
    val bg = ws.filter(size(col("l")) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(
          expr("slice(l, 1, size(l) - 1)").as("w1"),
          expr("slice(l, 2, size(l) - 1)").as("w2"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c1 aggregates the ALREADY-AGGREGATED bigram table (round 6): summing
    // c2 over w2 shuffles O(distinct bigrams) rows instead of re-exploding
    // and re-shuffling the O(corpus tokens) bigram stream a second time —
    // identical counts (c1(w1) = Σ_w2 c2(w1,w2) by definition).
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = ws.select(explode(col("l")).as("w")).agg(countDistinct(col("w")).as("v"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v)) // 1 row: the legitimate broadcast case
      .withColumn("bits", length(bin(expr("(c1 + v) div (c2 + 1)"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("ppl_bits"))
      .withColumn("mean_bits_x100", expr("(ppl_bits * 100) div n_bigrams"))
  }

  /** CCNet's head/middle/tail assignment: every document lands in a
    * perplexity TERCILE of the corpus (low perplexity = head, the slice
    * CCNet keeps preferentially). Exact thresholds, not approximate
    * percentiles: a histogram over the (domain-bounded) distinct score
    * values + a cumulative sum over that histogram — the q_profile
    * discipline, where the single-task window runs over the VALUE DOMAIN
    * (hundreds of distinct mean-bits values at any corpus size), never
    * over documents. Thresholds reduce to one broadcast row; assignment
    * is a codegen'd when().
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    // the scored frame is NARROW (doc_id + one int — the Phash hash-frame
    // checkpoint discipline) and read three times below (histogram, its
    // total, final projection): localCheckpoint so the full perplexity DAG
    // (bigram explode + model joins) runs ONCE instead of three times
    // (round 6 — was the whole-query cost doubler)
    val scored = perplexity(spark, dir)
      .select(col("doc_id"), col("mean_bits_x100").as("ppl"))
      .localCheckpoint(false) // lazy: the histogram job materializes it
    val hist = scored.groupBy("ppl").agg(count(lit(1)).as("c"))
    val byVal = Window.orderBy("ppl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val th = hist.crossJoin(broadcast(hist.agg(sum(col("c")).as("cnt"))))
      .withColumn("cum", sum(col("c")).over(byVal))
      .agg(
        min(when(col("cum") * 3 >= col("cnt"), col("ppl"))).as("t1"),
        min(when(col("cum") * 3 >= col("cnt") * 2, col("ppl"))).as("t2"))
    scored.crossJoin(broadcast(th)) // 1 row: the legitimate broadcast case
      .select(col("doc_id"), col("ppl"),
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Corpus word-frequency scoring (the CCNet-style LM-quality signal,
    * integer-exact stand-in: a document of globally rare words scores
    * low): words explode, the corpus unigram counts aggregate map-side
    * before their one shuffle, and the counts join back to score each
    * document by mean word frequency x100. The counts side is O(vocab) —
    * no broadcast hint, AQE chooses (broadcast while vocab fits, shuffle
    * join at web scale).
    */
  def wordFreqScore(spark: SparkSession, dir: String): DataFrame = {
    // codegen'd explode(split()), NOT a typed flatMap: the word explode
    // feeds BOTH join sides (no exchange reuse), so it executes twice —
    // columnar builtin work makes the recompute cheap where a
    // deserializing closure would double the dominant stage
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val counts = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    words.join(counts, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("cnt")).as("freq_sum"))
      // integral `div`, not `/` (double division would break bit-equality)
      .withColumn("mean_freq_x100", expr("(freq_sum * 100) div n_words"))
  }

  /** BPE merge learning (tokenizer FITTING, not application — the
    * Sennrich 2016 subword algorithm as relational rounds, the op a
    * training-data pipeline runs corpus-wide before q_token_bpe can
    * tokenize): start from the word-frequency table with words as
    * character sequences; each round counts adjacent symbol pairs
    * weighted by word frequency (map-side partial agg, one shuffle on the
    * pair), picks the top pair (count DESC, then lexicographic — fully
    * deterministic), and applies the merge to every sequence.
    *
    * The merge application is a single codegen'd `replace`: sequences are
    * rendered with DOUBLED  separators (`␟␟a␟␟b␟␟`) and the pattern
    * `␟a␟␟b␟` consumes one separator from each boundary, so left-to-right
    * non-overlapping string replace IS greedy BPE merge application —
    * bit-identical in Spark and DuckDB, no UDF, no per-row loop. The only
    * driver materialization is the 1-row top-pair per round (the same
    * bounded barrier connectedComponents uses for convergence). At 100 TB
    * the pair counting is the standard map-combine shuffle; the vocab
    * table this iterates on is O(distinct words), already reduced.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Sep = ""
    val Sep2 = Sep + Sep
    // materialize the vocab ONCE (localCheckpoint, the connectedComponents
    // pattern): it is O(distinct words) — already reduced — and every
    // round would otherwise re-scan the corpus and re-run the word
    // aggregation through the growing replace chain (measured 4.0s -> the
    // checkpointed form at sf0.1)
    var seqs = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit(Sep2), array_join(split(col("word"), ""), Sep2), lit(Sep2)).as("seq"),
        col("freq"))
      .localCheckpoint()
    val merges = Vector.newBuilder[(Long, String, String, Long)]
    var round = 1
    while (round <= 2) {
      val top = seqs
        .select(col("freq"), expr(s"filter(split(seq, '$Sep$Sep'), s -> s != '')").as("syms"))
        .select(col("freq"), col("syms"), posexplode(col("syms")).as(Seq("i", "lhs")))
        .withColumn("rhs", expr("get(syms, i + 1)")) // NULL past the end
        .filter(col("rhs").isNotNull)
        .groupBy("lhs", "rhs").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .as[(String, String, Long)]
        .head() // 1-row driver barrier: the round's learned merge
      val (l, r, cnt) = top
      merges += ((round.toLong, l, r, cnt))
      seqs = seqs.withColumn("seq",
        call_function("replace", col("seq"),
          lit(Sep + l + Sep2 + r + Sep), lit(Sep + l + r + Sep)))
      round += 1
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  /** Per-document rarest terms (the tf-idf shuffle shape kept
    * integer-exact: rank terms by document frequency ASCENDING — a real
    * keyword-extraction signal with no float idf in the compared output).
    * Doc-term pairs dedupe BEFORE the df aggregation, df joins back
    * hint-free (AQE picks broadcast while the vocab fits, shuffle join at
    * web scale), and the per-doc top-3 is a rank window Spark rewrites to
    * WindowGroupLimit — only 3 rows per doc survive the partial sort, the
    * same pushdown q_knn_brute rides.
    */
  def rareTerms(spark: SparkSession, dir: String): DataFrame = {
    val terms = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("term"))
    terms.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "df", "rnk")
  }

  /** Overlapping chunking (the RAG/embedding-prep shape: 8-word windows,
    * stride 4): starts from codegen'd `sequence`, windows from `slice` —
    * map-only, no UDF, no shuffle; a 100 TB corpus chunks in one pass.
    */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, (size(w) - 1) div 4)")).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
        array_join(slice(col("w"), col("i") * 4 + 1, lit(8)), " ").as("chunk"),
        least(lit(8), size(col("w")) - col("i") * 4).cast("long").as("n_words"))

  // ------------------------------------------------ relational headline

  def tpchQ1(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("base_cents"),
        sum(floor((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * 100)
          .cast("long")).as("disc_cents"),
        count(lit(1)).as("n"))

  def joinTopn(spark: SparkSession, dir: String): DataFrame = {
    val c = tbl(spark, dir, "customer")
    val o = tbl(spark, dir, "orders")
    val l = tbl(spark, dir, "lineitem")
    val n = tbl(spark, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(floor((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * 100)
        .cast("long")).as("revenue_cents"))
  }

  def windowTopn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(floor(col("o_totalprice") * 100).desc, col("o_orderkey").asc)
    tbl(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk").cast("long").as("rnk"), col("o_orderkey"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_extract_spans" -> (extractSpans _),
    "q_page_range" -> (pageRangeQ _),
    "q_pdf_bytes" -> (pdfBytes _),
    "q_pdf_flate" -> (pdfFlate _),
    "q_pdf_filters" -> (pdfFilters _),
    "q_pdf_decrypt" -> (pdfDecrypt _),
    "q_rtf_bytes" -> (rtfBytes _),
    "q_csv_table" -> (csvTable _),
    "q_embed_explode" -> (embedExplode _),
    "q_zip_explode" -> (zipExplode _),
    "q_docx_explode" -> (docxExplode _),
    "q_xlsx_table" -> (xlsxTable _),
    "q_pptx_slides" -> (pptxSlides _),
    "q_tgz_explode" -> (tgzExplode _),
    "q_eml_explode" -> (emlExplode _),
    "q_emlx_explode" -> (emlxExplode _),
    "q_mhtml_explode" -> (mhtmlExplode _),
    "q_msg_explode" -> (msgExplode _),
    "q_pst_explode" -> (pstExplode _),
    "q_ost_explode" -> (ostExplode _),
    "q_ost_reconcile" -> (ostReconcile _),
    "q_pst_permute" -> (pstPermute _),
    "q_pst_ansi" -> (pstAnsi _),
    "q_tnef_explode" -> (tnefExplode _),
    "q_mbox_explode" -> (mboxExplode _),
    "q_parquet_explode" -> (parquetExplode _),
    "q_avro_explode" -> (avroExplode _),
    "q_contact_text" -> (contactText _),
    "q_importance_sample" -> (importanceSample _),
    "q_pack_sequences" -> (packSequences _),
    "q_codec_explode" -> (codecExplode _),
    "q_pst_reconcile" -> (pstReconcile _),
    "q_cfb_explode" -> (cfbExplode _),
    "q_docx_media" -> (docxMedia _),
    "q_doc_bytes" -> (docBytes _),
    "q_xls_table" -> (xlsTable _),
    "q_xls_decrypt" -> (xlsDecrypt _),
    "q_dbf_table" -> (dbfTable _),
    "q_wpd_text" -> (wpdText _),
    "q_lnk_text" -> (lnkText _),
    "q_odt_explode" -> (odtExplode _),
    "q_ods_table" -> (odsTable _),
    "q_odp_slides" -> (odpSlides _),
    "q_xps_text" -> (xpsText _),
    "q_epub_explode" -> (epubExplode _),
    "q_sqlite_explode" -> (sqliteExplode _),
    "q_plist_explode" -> (plistExplode _),
    "q_xml_text" -> (xmlText _),
    "q_ppt_text" -> (pptText _),
    "q_pdf_encrypted" -> (pdfEncrypted _),
    "q_msg_headers" -> (msgHeaders _),
    "q_doc_objects" -> (docObjects _),
    "q_html_charset" -> (htmlCharsetQ _),
    "q_split_assign" -> (splitAssign _),
    "q_word_freq" -> (wordFreqScore _),
    "q_surprisal" -> (surprisalScore _),
    "q_perplexity" -> (perplexity _),
    "q_ppl_buckets" -> (pplBuckets _),
    "q_rare_terms" -> (rareTerms _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_domain_balance" -> (domainBalance _),
    "q_domain_mix" -> (domainMix _),
    "q_embed_quant" -> (embedQuant _),
    "q_robots_filter" -> (robotsFilterQ _),
    "q_chunk_overlap" -> (chunkOverlap _),
    "q_dedup_cluster" -> (dedupCluster _),
    "q_cluster_rep" -> (clusterRep _),
    "q_corpus_card" -> (corpusCard _),
    "q_zstd_explode" -> (zstdExplode _),
    "q_warc_explode" -> (warcExplode _),
    "q_jsonl_explode" -> (jsonlExplode _),
    "q_7z_explode" -> (sevenZExplode _),
    "q_rar_explode" -> (rarExplode _),
    "q_ar_explode" -> (arExplode _),
    "q_cpio_explode" -> (cpioExplode _),
    "q_iso_explode" -> (isoExplode _),
    "q_chm_explode" -> (chmExplode _),
    "q_cab_explode" -> (cabExplode _),
    "q_ooxml_decrypt" -> (ooxmlDecrypt _),
    "q_xlsb_table" -> (xlsbTable _),
    "q_iwork_text" -> (iworkText _),
    "q_one_text" -> (oneText _),
    "q_pub_text" -> (pubText _),
    "q_msg_rtf" -> (msgRtf _),
    "q_hwp_text" -> (hwpText _),
    "q_one_files" -> (oneFiles _),
    "q_vsdx_text" -> (vsdxText _),
    "q_apple_text" -> (appleText _),
    "q_pdf_cid" -> (pdfCid _),
    "q_pdf_form" -> (pdfForm _),
    "q_pdf_objstm" -> (pdfObjStm _),
    "q_pdf_xfa" -> (pdfXfa _),
    "q_rpm_explode" -> (rpmExplode _),
    "q_url_filter" -> (urlFilterQ _),
    "q_url_dedup" -> (urlDedupQ _),
    "q_web_funnel" -> (webFunnel _),
    "q_eml_headers" -> (emlHeaders _),
    "q_artifact_lookup" -> (artifactLookup _),
    "q_embed_named" -> (embedNamed _),
    "q_embed_concat" -> (embedConcat _),
    "q_embed_datauri" -> (mediaDataUri _),
    "q_meta_iso" -> (metaIso _),
    "q_reconcile" -> (reconcile _),
    "q_extract_lineage" -> (extractLineage _),
    "q_lineage_taxonomy" -> (lineageTaxonomy _),
    "q_report_status" -> (reportStatus _),
    "q_scan_filter" -> (scanFilter _),
    "q_queue_dedup" -> (queueDedup _),
    "q_semi_intersect" -> (semiIntersect _),
    "q_anti_complement" -> (antiComplement _),
    "q_resume_anti" -> (resumeAnti _),
    "q_rehash" -> (rehash _),
    "q_copy_tag" -> (copyTag _),
    "q_meta_keys" -> (metaKeys _),
    "q_meta_map" -> (metaMap _),
    "q_meta_dates" -> (metaDates _),
    "q_ocr_cache" -> (ocrCache _),
    "q_media_links" -> (mediaLinks _),
    "q_lang_id" -> (langIdQ _),
    "q_lang_trigram" -> (langTrigram _),
    "q_quality" -> (qualityQ _),
    "q_quality_gopher" -> (qualityGopher _),
    "q_quality_c4" -> (qualityC4 _),
    "q_c4_spandedup" -> (c4SpanDedup _),
    "q_substr_dedup" -> (substrDedup _),
    "q_substr_clean" -> (substrClean _),
    "q_token_budget" -> (tokenBudget _),
    "q_token_count" -> (tokenCountQ _),
    "q_fingerprint" -> (fingerprintQ _),
    "q_winnow" -> (winnowQ _),
    "q_profile" -> (profile _),
    "q_pii_scrub" -> (piiScrub _),
    "q_repetition" -> (repetitionQ _),
    "q_prep_summary" -> (prepSummary _),
    "q_token_bpe" -> (tokenBpe _),
    "q_normalize" -> (normalizeQ _),
    "q_cosine_zipwith" -> (cosineZipwith _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_dedup_edit" -> (dedupEdit _),
    "q_decontaminate" -> (decontaminateQ _),
    "q_decontam_bloom" -> (decontamBloomQ _),
    "q_bloom_stats" -> (bloomStatsQ _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_jaccard" -> (dedupJaccard _),
    "q_jaccard_dropped" -> (jaccardDropped _),
    "q_dedup_cosine" -> (dedupCosine _),
    "q_knn_brute" -> (knnBrute _),
    "q_knn_lsh" -> (knnLsh _),
    "q_knn_ivf" -> (knnIvf _),
    "q_dedup_semantic" -> (dedupSemantic _),
    "q_ivf_stats" -> (ivfStatsQ _),
    "q_lsh_stats" -> (lshStatsQ _),
    "q_events_window" -> (eventsWindow _),
    "q_sessionize" -> (sessionize _),
    "q_expr_code32" -> (exprCode32 _),
    "q_media_meta" -> (mediaMeta _),
    "q_media_decode" -> (mediaDecode _),
    "q_media_audio" -> (mediaAudio _),
    "q_media_video" -> (mediaVideo _),
    "q_media_frames" -> (mediaFrames _),
    "q_dedup_phash" -> (dedupPhash _),
    "q_dedup_audiofp" -> (dedupAudiofp _),
    "q_dedup_videofp" -> (dedupVideofp _),
    "q_image_probe" -> (imageProbe _),
    "q_image_probe2" -> (imageProbe2 _),
    "q_av_probe" -> (avProbe _),
    "q_mp3_tags" -> (mp3Tags _),
    "q_tpch_q1" -> (tpchQ1 _),
    "q_join_topn" -> (joinTopn _),
    "q_window_topn" -> (windowTopn _)
  )
}
