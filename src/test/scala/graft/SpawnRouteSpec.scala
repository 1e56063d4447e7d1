package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.route.Extract
import graft.sources.Archive

/** The embed tree every container kind spawns, at the root and nested in a
  * zip (the reference's single `EmbedSpawner.parseEmbedded` DFS): a tree
  * invariant over every kind's in-repo writer, with every node id
  * recomputed from the expected tree, and cross-route parity for each
  * table row, whose nested node carries the root's own text and children.
  */
class SpawnRouteSpec extends AnyFunSuite {
  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def latin1(x: Array[Byte]): String = new String(x, ISO_8859_1)

  private def canonical(es: Seq[(String, Array[Byte])]): String =
    Ids.canonicalEntries(es.map { case (n, x) => (n, latin1(x)) })

  /** One expected node: its resource name, the content its id hashes, and
    * its own children in ordinal order.
    */
  private final case class T(name: String, identity: String, kids: Seq[T] = Nil) {
    def all: Seq[T] = this +: kids.flatMap(_.all)
  }

  /** One container payload: its span kind, the entry name it takes nested
    * in a zip, its bytes, the content its nested node's id hashes, and the
    * tree of its children. `nested` overrides the node it becomes in a zip.
    */
  private final case class Fixture(label: String, kind: String, name: String,
                                   bytes: Array[Byte], identity: String, kids: Seq[T],
                                   nested: Option[T] = None) {
    def nestedTree: T = nested.getOrElse(T(name, identity, kids))
  }

  private val innerZip = Archive.zipBytes(Seq(("z.txt", b("zipped below"))))
  private val zipped = T("z.txt", "zipped below")
  /** An entry holding [[innerZip]]: a container node over its one entry. */
  private def zipT(name: String) = T(name, canonical(Seq(("z.txt", b("zipped below")))), Seq(zipped))

  private def archiveFixtures: Seq[Fixture] = {
    import graft.sources.{Apple, Cab, Chm, Iso, Rar, Warc}
    // the second entry is itself a zip, so every tree is three levels deep
    val pair = Seq(("A.TXT", b("alpha tree text")), ("B.ZIP", innerZip))
    val pairKids = Seq(T("A.TXT", "alpha tree text"), zipT("B.ZIP"))
    val member = innerZip
    def fx(kind: String, bytes: Array[Byte], entries: Seq[(String, Array[Byte])], kids: Seq[T]) =
      Fixture(kind, kind, s"inner.$kind", bytes, canonical(entries), kids)
    def two(kind: String, bytes: Array[Byte]) = fx(kind, bytes, pair, pairKids)
    def one(kind: String, bytes: Array[Byte], n: String) =
      fx(kind, bytes, Seq((n, member)), Seq(zipT(n)))
    // a tar (no OOXML reader) whose entries look like a docx package: a
    // plain container at both routes
    val pkgLike = Seq(("[Content_Types].xml", b("<Types/>")),
      ("word/document.xml", b("<w:document><w:body><w:p><w:r><w:t>tar words</w:t>" +
        "</w:r></w:p></w:body></w:document>")))
    val warc = pair.map { case (n, x) => (s"http://a.example/$n", x) }
    Seq(
      two("zip", Archive.zipBytes(pair)),
      two("tar", Archive.tarBytes(pair)),
      two("7z", Archive.sevenZBytes(pair)),
      two("rar", Rar.buildRar4(pair)),
      two("ar", Archive.arBytes(pair)),
      two("cpio", Archive.cpioBytes(pair)),
      two("rpm", Archive.rpmBytes(Archive.gzipBytes(Archive.cpioBytes(pair)))),
      two("iso", Iso.build(pair)),
      two("chm", Chm.build(pair)),
      two("cab", Cab.build(pair)),
      one("gzip", Archive.gzipBytes(member, "M.ZIP"), "M.ZIP"),
      one("zstd", Archive.zstdBytes(member), ""),
      one("bzip2", Archive.bzip2Bytes(member), ""),
      one("xz", Archive.xzBytes(member), ""),
      one("compress", Archive.compressZBytes(member), ""),
      one("lzma", Archive.lzmaBytes(member), ""),
      one("lz4", Archive.lz4Bytes(member), ""),
      one("snappy", Archive.snappyBytes(member), ""),
      one("applesingle", Apple.build("M.ZIP", member), "M.ZIP"),
      fx("warc", Warc.build(pair.map { case (n, x) =>
        ("resource", s"http://a.example/$n", "application/octet-stream", x) }),
        warc, Seq(T(warc(0)._1, "alpha tree text"), zipT(warc(1)._1))),
      fx("tar", Archive.tarBytes(pkgLike), pkgLike, pkgLike.map { case (n, x) => T(n, latin1(x)) })
        .copy(label = "tar holding docx-named entries"))
  }

  /** The parsed rows, the packages of the zip row, `cfb` in its four shapes,
    * `pst` and `pdf_bytes`: the nested node is a document (or pure
    * container) node whose id hashes the raw bytes, the message's logical
    * canonical fields, or the canonical entries or streams.
    */
  private def parsedFixtures: Seq[Fixture] = {
    import graft.core.db.{Plist, Sqlite}
    import graft.core.mail.{Mbox, Mhtml, Tnef}
    import graft.core.office.{Cfb, Docx, Epub, Msg, OneNote, OoxmlCrypt, Pst, WordDoc}
    def raw(label: String, kind: String, name: String, bytes: Array[Byte], kids: Seq[T]) =
      Fixture(label, kind, name, bytes, latin1(bytes), kids)
    val b64 = java.util.Base64.getMimeEncoder
    val mail =
      "From: a@example.com\r\nSubject: tree mail\r\nMIME-Version: 1.0\r\n" +
        "Content-Type: multipart/mixed; boundary=bb\r\n\r\n" +
        "--bb\r\nContent-Type: text/plain\r\n\r\nmail body text\r\n" +
        "--bb\r\nContent-Type: text/plain\r\nContent-Transfer-Encoding: base64\r\n" +
        "Content-Disposition: attachment; filename=\"note.txt\"\r\n\r\n" +
        b64.encodeToString(b("attached note")) + "\r\n" +
        "--bb\r\nContent-Type: application/zip\r\nContent-Transfer-Encoding: base64\r\n" +
        "Content-Disposition: attachment; filename=\"in.zip\"\r\n\r\n" +
        b64.encodeToString(innerZip) + "\r\n--bb--\r\n"
    val mailKids = Seq(T("note.txt", "attached note"), zipT("in.zip"))
    val jsonl = "{\"text\":\"first line\"}\n  {\"text\":\"second line\"}\n"
    val mbox = "From a@b Mon Jan  1 00:00:00 2024\n" + mail.replace("\r\n", "\n") +
      "From c@d Tue Jan  2 00:00:00 2024\nSubject: two\n\nsecond message\n"
    val sqlite = Sqlite.build(Seq(("notes", Seq("body", "data"),
      Seq(Seq(Sqlite.TextCell("sqlite row"), Sqlite.BlobCell(innerZip))))))
    val plist = Plist.build(Plist.PDict(Vector(
      "title" -> Plist.PString("plist title"), "att" -> Plist.PData(innerZip))))
    val mhtml = Mhtml.build("http://a.example/page.html",
      "<html><body><p>page body text</p></body></html>",
      Seq(("http://a.example/res/note.txt", b("saved resource")),
        ("http://a.example/res/in.zip", innerZip)))
    val sub = Msg.MsgDoc("inner subject", "i@example.com", "inner body",
      Vector(Msg.FileAtt("deep.txt", b("deep attachment"))))
    val msg = Msg.MsgDoc("outer subject", "o@example.com", "outer body",
      Vector(Msg.FileAtt("in.zip", innerZip), Msg.MsgAtt(sub)))
    val doc = WordDoc.build("legacy body text", Seq(("in.zip", innerZip)))
    val generic = Cfb.build(Seq(("readme.txt", b("generic stream")), ("in.zip", innerZip)))
    def streamsCanon(x: Array[Byte]) =
      canonical(Cfb.streamEntries(x, Int.MaxValue).map { case (n, y) => (n, y.get) })
    val pst = Pst.build(Seq(
      Pst.BuildFolder("inbox", Seq(
        Pst.BuildMsg("hello", "pst body", atts = Seq(("in.zip", innerZip))),
        Pst.BuildMsg("lost", "orphan body", linked = false))),
      Pst.BuildFolder("inbox/sub", Seq(Pst.BuildMsg("deep", "deep body")))))
    def pstMsg(subject: String, body: String, atts: Vector[Msg.Attachment], kids: Seq[T]) =
      T(subject, Msg.canonical(Msg.MsgDoc(subject, "", body, atts)), kids)
    // packages of the zip row: body text, only the embedded parts spawn
    val docx = Docx.buildMinimal(Seq("docx body text"),
      Seq(("word/media/pic.bin", b("picture bytes")), ("word/embeddings/in.zip", innerZip)))
    val docxKids = Seq(T("word/media/pic.bin", "picture bytes"), zipT("word/embeddings/in.zip"))
    val png = graft.multimodal.Media.encodePng(2, 2, 0x112233)
    val epub = Epub.build("Tree Book", Seq(
      ("c.xhtml", "<html><body><p>epub chapter text</p></body></html>")),
      images = Seq(("pic.png", png)))
    def pkgCanon(x: Array[Byte]) =
      canonical(Archive.unzip(x, Int.MaxValue).map { case (n, y) => (n, y.get) })
    Seq(
      raw("jsonl", "jsonl", "rows.jsonl", b(jsonl),
        Seq(T("", "{\"text\":\"first line\"}"), T("", "{\"text\":\"second line\"}"))),
      raw("eml", "eml", "mail.eml", mail.getBytes(ISO_8859_1), mailKids),
      raw("parquet", "parquet", "rows.parquet",
        graft.sources.ParquetDump.build(Seq("first row", "second row")),
        Seq(T("", "first row"), T("", "second row"))),
      raw("avro", "avro", "rows.avro", graft.sources.AvroDump.build(Seq("first row", "second row")),
        Seq(T("", "first row"), T("", "second row"))),
      raw("sqlite", "sqlite", "notes.db", sqlite,
        Sqlite.tables(sqlite).map(t => T(t.name, Sqlite.tableText(t), Seq(zipT("notes_r1_c1"))))),
      raw("plist", "plist", "state.plist", plist, Seq(zipT("att"))),
      raw("mbox", "mbox", "box.mbox", mbox.getBytes(ISO_8859_1),
        Mbox.split(mbox).zip(Seq(mailKids, Nil)).map { case (m, k) => T("", m, k) }),
      raw("emlx", "emlx", "m.emlx", s"${mail.length}\n$mail".getBytes(ISO_8859_1), mailKids),
      raw("mhtml", "mhtml", "page.mht", mhtml, Seq(T("note.txt", "saved resource"), zipT("in.zip"))),
      raw("one", "one", "notes.one", OneNote.build(Seq("one paragraph"), Seq(innerZip)),
        Seq(zipT("fileData_0"))),
      raw("tnef", "tnef", "winmail.dat",
        Tnef.build("tnef subject", "t@example.com", "tnef body", Seq(("in.zip", innerZip))),
        Seq(zipT("in.zip"))),
      Fixture("cfb msg", "cfb", "mail.msg", Msg.build(msg), Msg.canonical(msg),
        Seq(zipT("in.zip"), T("inner subject", Msg.canonical(sub),
          Seq(T("deep.txt", "deep attachment"))))),
      Fixture("cfb legacy doc", "cfb", "old.doc", doc, streamsCanon(doc),
        Seq(zipT("ObjectPool/_1000/in.zip"))),
      Fixture("cfb generic", "cfb", "store.bin", generic, streamsCanon(generic),
        Cfb.streamEntries(generic, Int.MaxValue).map { case (n, x) =>
          if (n == "in.zip") zipT(n) else T(n, latin1(x.get)) }),
      // the default-password package re-enters as the zip it decrypts to
      Fixture("cfb VelvetSweatshop package", "cfb", "locked.docx",
        OoxmlCrypt.buildEncrypted(docx, "VelvetSweatshop"), pkgCanon(docx), docxKids),
      raw("pst", "pst", "mail.pst", pst, Seq(
        T("inbox", "inbox", Seq(
          T("sub", "sub", Seq(pstMsg("deep", "deep body", Vector.empty, Nil))),
          pstMsg("hello", "pst body", Vector(Msg.FileAtt("in.zip", innerZip)), Seq(zipT("in.zip"))))),
        T("[recovered]", "[recovered]", Seq(pstMsg("lost", "orphan body", Vector.empty, Nil))))),
      Fixture("docx with media", "zip", "body.docx", docx, pkgCanon(docx), docxKids),
      Fixture("epub", "zip", "book.epub", epub, pkgCanon(epub), Seq(T("OEBPS/pic.png", latin1(png)))),
      pdf)
  }

  private val jpeg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ b("jpeg body")
  private def pdf: Fixture = {
    // one DCTDecode image XObject: its stream bytes (up to the EOL ahead of
    // `endstream`, which is not data) are the JPEG child; one text stream
    val pdf = "%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image /Width 1 /Height 1 " +
      s"/BitsPerComponent 8 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n" +
      latin1(jpeg) + "\nendstream\nendobj\n2 0 obj\n<< /Length 26 >>\nstream\n" +
      "BT (pdf page words) Tj ET\nendstream\nendobj\ntrailer\n<< >>\n%%EOF\n"
    Fixture("pdf_bytes", "pdf_bytes", "page.pdf", pdf.getBytes(ISO_8859_1), pdf,
      Seq(T("image0.jpg", latin1(jpeg))))
  }

  // nested, chain bytes are one plain text leaf
  private val chain = Fixture("media", "media", "chain.txt", b("chain:a>b>c"), "chain:a>b>c",
    Seq(T("", "chain:a>b>c", Seq(T("", "chain:b>c", Seq(T("", "chain:c")))))),
    nested = Some(T("chain.txt", "chain:a>b>c")))

  private val all = archiveFixtures ++ parsedFixtures :+ chain

  /** Node ids are unique, every `parent_id` names an emitted node, each
    * child's level is its parent's + 1, every node carries the root's
    * `root_id`, and every node below the root, in emission order, has the
    * id [[Ids.embedId]] gives its entry of `expected` (the root's children)
    * under its parent at its ordinal.
    */
  private def assertTree(out: Seq[DocOut], docId: Long, expected: Seq[T]): Unit = {
    val rid = Ids.rootId(docId)
    assert(out.head.doc_id == rid && out.head.parent_id == "" && out.head.level == 0)
    assert(out.map(_.doc_id).distinct.size == out.size, "duplicate node ids")
    val byId = out.map(o => o.doc_id -> o).toMap
    out.foreach(o => assert(o.root_id == rid))
    out.tail.foreach { o =>
      val p = byId.get(o.parent_id)
      assert(p.isDefined, s"parent of ${o.doc_id} not emitted")
      assert(o.level == p.get.level + 1)
    }
    def ids(ts: Seq[T], parent: String, level: Int): Seq[(String, String, Int)] =
      ts.zipWithIndex.flatMap { case (t, o) =>
        val id = Ids.embedId(t.identity, parent, o, resourceName = t.name)
        (id, parent, level) +: ids(t.kids, id, level + 1)
      }
    assert(out.tail.map(d => (d.doc_id, d.parent_id, d.level)) == ids(expected, rid, 1))
  }

  private def top(id: Long, kind: String, bytes: Array[Byte]): Seq[DocOut] =
    Extract.explode(DocIn(id, Array(SpanIn(kind, latin1(bytes), "", 0))))

  private def inZip(id: Long, name: String, bytes: Array[Byte]): Seq[DocOut] =
    top(id, "zip", Archive.zipBytes(Seq((name, bytes))))

  /** The node's children as (id, level below it, text, reason), in order. */
  private def children(out: Seq[DocOut], parent: DocOut): Seq[(String, Int, String, String)] =
    out.filter(_.parent_id == parent.doc_id).map(d =>
      (d.doc_id, d.level - parent.level, d.spans.map(_.text).mkString, d.no_content_reason))

  /** Every node below `node`, as (depth below it, index of its parent in
    * this list or -1, text, reason), in emission order: the subtree's shape
    * without the ids, which hash the parent's.
    */
  private def subtree(out: Seq[DocOut], node: DocOut): Seq[(Int, Int, String, String)] = {
    val below = scala.collection.mutable.ArrayBuffer(node.doc_id)
    out.flatMap { d =>
      val p = below.indexOf(d.parent_id)
      if (p < 0) None
      else {
        below += d.doc_id
        Some((d.level - node.level, p - 1, d.spans.map(_.text).mkString, d.no_content_reason))
      }
    }
  }

  all.zipWithIndex.foreach { case (f, i) =>
    test(s"tree invariant: ${f.label} at the root and nested in a zip") {
      val (rootDoc, nestedDoc) = (200L + 2 * i, 201L + 2 * i)
      val atRoot = top(rootDoc, f.kind, f.bytes)
      val nested = inZip(nestedDoc, f.name, f.bytes)
      assertTree(atRoot, rootDoc, f.kids)
      assertTree(nested, nestedDoc, Seq(f.nestedTree))
      assert(atRoot.size > 1, "the root spawns children")
      // the inner zip's entry, wherever the fixture holds one
      val holdsZip = f.kids.flatMap(_.all).contains(zipped)
      for (out <- Seq(atRoot, nested))
        assert(out.exists(_.spans.exists(_.text == "zipped below")) == holdsZip)
    }
  }

  test("tree invariant: every container kind as one span of a single document") {
    val spans = all.zipWithIndex.map { case (f, i) => SpanIn(f.kind, latin1(f.bytes), "", i) }
    val out = Extract.explode(DocIn(199L, spans.toArray))
    // the root's ordinals run across its spans
    assertTree(out, 199L, all.flatMap(_.kids))
  }

  (archiveFixtures ++ parsedFixtures).zipWithIndex.foreach { case (f, i) =>
    test(s"cross-route parity: ${f.label} spawns the same children at the root and nested") {
      val (rootDoc, nestedDoc) = (300L + 2 * i, 301L + 2 * i)
      val atRoot = top(rootDoc, f.kind, f.bytes)
      val nested = inZip(nestedDoc, f.name, f.bytes)
      val rn = Ids.rootId(nestedDoc)
      // the nested copy is one node under the zip: its body is the root's
      // own text, its id hashes the fixture's identity content
      val node = nested(1)
      assert((node.doc_id, node.parent_id, node.level) ==
        (Ids.embedId(f.identity, rn, 0, resourceName = f.name), rn, 1))
      val body = atRoot.head.spans.map(_.text).mkString
      assert(node.spans.map(_.text).mkString == body)
      assert(node.no_content_reason == atRoot.head.no_content_reason)
      // the same children, with ids over the same contents and ordinals
      def want(parent: String) = f.kids.zipWithIndex.map { case (t, o) =>
        Ids.embedId(t.identity, parent, o, resourceName = t.name) }
      assert(children(atRoot, atRoot.head).map(_._1) == want(atRoot.head.doc_id))
      assert(children(nested, node).map(_._1) == want(node.doc_id))
      assert(subtree(atRoot, atRoot.head) == subtree(nested, node))
      assert(nested.size == atRoot.size + 1)
    }
  }

  test("a nested PDF keeps its pdf_bytes text span and spawns its page image at level 2") {
    val nested = inZip(402L, pdf.name, pdf.bytes)
    val node = nested(1)
    assert(node.spans.map(s => (s.kind, s.text)).toSeq == Seq(("pdf_bytes", "pdf page words")))
    assert(nested.drop(2).map(d => (d.doc_id, d.level)) ==
      Seq((Ids.embedId(latin1(jpeg), node.doc_id, 0, resourceName = "image0.jpg"), 2)))
  }

  test("an image stream's data ends before the end-of-line marker ahead of endstream") {
    def image(length: String, data: String, eol: String): String = {
      val pdf = "%PDF-1.4\n1 0 obj\n<< /Subtype /Image /Filter /DCTDecode" + length +
        " >>\nstream\r\n" + data + eol + "endstream\nendobj\n"
      val imgs = graft.core.pdf.PdfMini.imageXObjects(pdf)
      assert(imgs.map(_._1) == Seq("image0.jpg"))
      latin1(imgs.head._2)
    }
    val jpg = latin1(jpeg)
    val direct = s" /Length ${jpeg.length}"
    for (eol <- Seq("\r\n", "\n", "\r", ""); length <- Seq(direct, " /Length 9 0 R", ""))
      assert(image(length, jpg, eol) == jpg, (length, eol))
    // data that itself ends in CR or LF: a direct /Length on the marker keeps
    // it, and without one only the marker goes
    assert(image(s" /Length ${jpeg.length + 1}", jpg + "\r", "\n") == jpg + "\r")
    assert(image(s" /Length ${jpeg.length + 1}", jpg + "\n", "\r\n") == jpg + "\n")
    assert(image(" /Length 9 0 R", jpg + "\n", "\r\n") == jpg + "\n")
    assert(image("", jpg + "\r", "\r\n") == jpg + "\r")
    // a /Length that does not land on the marker is not trusted
    assert(image(" /Length 3", jpg, "\r\n") == jpg)
    assert(image(s" /Length ${Int.MaxValue}", jpg, "\n") == jpg)
  }

  test("media chains spawn at the root only: a nested chain:a>b entry is a plain text leaf") {
    val atRoot = top(400L, "media", b("chain:a>b"))
    assert(atRoot.tail.map(d => (d.level, d.spans.map(_.text).mkString)) == Seq((1, "a"), (2, "b")))
    val nested = inZip(401L, "chain.txt", b("chain:a>b"))
    val rn = Ids.rootId(401L)
    assert(nested.tail.map(d => (d.doc_id, d.level, d.spans.map(s => (s.kind, s.text)).toSeq)) ==
      Seq((Ids.embedId("chain:a>b", rn, 0, resourceName = "chain.txt"), 1,
        Seq(("text", "chain:a>b")))))
  }
}
