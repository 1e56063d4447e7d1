package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.route.Extract
import graft.sources.Archive

/** The embed tree every container kind spawns, at the root and nested in a
  * zip (the reference's single `EmbedSpawner.parseEmbedded` DFS): a tree
  * invariant over every kind's in-repo writer, and cross-route parity for
  * the parsed (non-archive) kinds, whose nested node is a document body.
  */
class SpawnRouteSpec extends AnyFunSuite {
  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def latin1(x: Array[Byte]): String = new String(x, ISO_8859_1)

  private def canonical(es: Seq[(String, Array[Byte])]): String =
    Ids.canonicalEntries(es.map { case (n, x) => (n, latin1(x)) })

  /** One container payload: its span kind, the entry name it takes nested
    * in a zip, its bytes, the content its nested node's id hashes, and the
    * (resource name, id content) of that node's direct children in order.
    */
  private final case class Fixture(label: String, kind: String, name: String,
                                   bytes: Array[Byte], identity: String,
                                   kids: Seq[(String, String)])

  private val innerZip = Archive.zipBytes(Seq(("z.txt", b("zipped below"))))
  private val innerZipCanon = canonical(Seq(("z.txt", b("zipped below"))))

  private def archiveFixtures: Seq[Fixture] = {
    import graft.sources.{Apple, Cab, Chm, Iso, Rar, Warc}
    // the second entry is itself a zip, so every tree is three levels deep
    val pair = Seq(("A.TXT", b("alpha tree text")), ("B.ZIP", innerZip))
    val pairKids = Seq(("A.TXT", "alpha tree text"), ("B.ZIP", innerZipCanon))
    val member = innerZip
    def one(n: String) = Seq((n, innerZipCanon))
    def fx(kind: String, bytes: Array[Byte], kids: Seq[(String, String)]) =
      Fixture(kind, kind, s"inner.$kind", bytes, Ids.canonicalEntries(kids), kids)
    Seq(
      fx("zip", Archive.zipBytes(pair), pairKids),
      fx("tar", Archive.tarBytes(pair), pairKids),
      fx("7z", Archive.sevenZBytes(pair), pairKids),
      fx("rar", Rar.buildRar4(pair), pairKids),
      fx("ar", Archive.arBytes(pair), pairKids),
      fx("cpio", Archive.cpioBytes(pair), pairKids),
      fx("rpm", Archive.rpmBytes(Archive.gzipBytes(Archive.cpioBytes(pair))), pairKids),
      fx("iso", Iso.build(pair), pairKids),
      fx("chm", Chm.build(pair), pairKids),
      fx("cab", Cab.build(pair), pairKids),
      fx("gzip", Archive.gzipBytes(member, "M.ZIP"), one("M.ZIP")),
      fx("zstd", Archive.zstdBytes(member), one("")),
      fx("bzip2", Archive.bzip2Bytes(member), one("")),
      fx("xz", Archive.xzBytes(member), one("")),
      fx("compress", Archive.compressZBytes(member), one("")),
      fx("lzma", Archive.lzmaBytes(member), one("")),
      fx("lz4", Archive.lz4Bytes(member), one("")),
      fx("snappy", Archive.snappyBytes(member), one("")),
      fx("applesingle", Apple.build("M.ZIP", member), one("M.ZIP")),
      fx("warc", Warc.build(pair.map { case (n, x) =>
        ("resource", s"http://a.example/$n", "application/octet-stream", x) }),
        pairKids.map { case (n, c) => (s"http://a.example/$n", c) }))
  }

  /** The parsed rows, `cfb` in its three shapes and `pst`: the nested node
    * is a document (or pure-container) node whose id hashes the raw bytes,
    * or the message's logical canonical fields, or the compound file's
    * canonical streams.
    */
  private def parsedFixtures: Seq[Fixture] = {
    import graft.core.db.{Plist, Sqlite}
    import graft.core.mail.{Mbox, Mhtml, Tnef}
    import graft.core.office.{Cfb, Msg, OneNote, Pst, WordDoc}
    def raw(label: String, kind: String, name: String, bytes: Array[Byte],
            kids: Seq[(String, String)]) =
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
    val mailKids = Seq(("note.txt", "attached note"), ("in.zip", innerZipCanon))
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
    Seq(
      raw("jsonl", "jsonl", "rows.jsonl", b(jsonl),
        Seq(("", "{\"text\":\"first line\"}"), ("", "{\"text\":\"second line\"}"))),
      raw("eml", "eml", "mail.eml", mail.getBytes(ISO_8859_1), mailKids),
      raw("parquet", "parquet", "rows.parquet",
        graft.sources.ParquetDump.build(Seq("first row", "second row")),
        Seq(("", "first row"), ("", "second row"))),
      raw("avro", "avro", "rows.avro", graft.sources.AvroDump.build(Seq("first row", "second row")),
        Seq(("", "first row"), ("", "second row"))),
      raw("sqlite", "sqlite", "notes.db", sqlite,
        Sqlite.tables(sqlite).map(t => (t.name, Sqlite.tableText(t)))),
      raw("plist", "plist", "state.plist", plist, Seq(("att", innerZipCanon))),
      raw("mbox", "mbox", "box.mbox", mbox.getBytes(ISO_8859_1),
        Mbox.split(mbox).map(("", _))),
      raw("emlx", "emlx", "m.emlx", s"${mail.length}\n$mail".getBytes(ISO_8859_1), mailKids),
      raw("mhtml", "mhtml", "page.mht", mhtml,
        Seq(("note.txt", "saved resource"), ("in.zip", innerZipCanon))),
      raw("one", "one", "notes.one", OneNote.build(Seq("one paragraph"), Seq(innerZip)),
        Seq(("fileData_0", innerZipCanon))),
      raw("tnef", "tnef", "winmail.dat",
        Tnef.build("tnef subject", "t@example.com", "tnef body", Seq(("in.zip", innerZip))),
        Seq(("in.zip", innerZipCanon))),
      Fixture("cfb msg", "cfb", "mail.msg", Msg.build(msg), Msg.canonical(msg),
        Seq(("in.zip", innerZipCanon), ("inner subject", Msg.canonical(sub)))),
      Fixture("cfb legacy doc", "cfb", "old.doc", doc, streamsCanon(doc),
        Seq(("ObjectPool/_1000/in.zip", innerZipCanon))),
      Fixture("cfb generic", "cfb", "store.bin", generic, streamsCanon(generic),
        Cfb.streamEntries(generic, Int.MaxValue).map { case (n, _) =>
          (n, if (n == "in.zip") innerZipCanon else "generic stream") }),
      raw("pst", "pst", "mail.pst", pst, Seq(("inbox", "inbox"), ("[recovered]", "[recovered]"))))
  }

  /** Node ids are unique, every `parent_id` names an emitted node, each
    * child's level is its parent's + 1, and every node carries the root's
    * `root_id`.
    */
  private def assertTree(out: Seq[DocOut], docId: Long): Unit = {
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

  private val chain = Fixture("media", "media", "chain.txt", b("chain:a>b>c"), "", Nil)
  private val pdf = {
    // one DCTDecode image XObject: its stream bytes are the JPEG child
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ b("jpeg body")
    val pdf = "%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image /Width 1 /Height 1 " +
      s"/BitsPerComponent 8 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n" +
      latin1(jpeg) + "\nendstream\nendobj\ntrailer\n<< >>\n%%EOF\n"
    Fixture("pdf_bytes", "pdf_bytes", "page.pdf", pdf.getBytes(ISO_8859_1), "", Nil)
  }

  private val all = archiveFixtures ++ parsedFixtures :+ chain :+ pdf
  // the fixtures that hold no inner zip
  private val flat = Set("jsonl", "parquet", "avro", "media", "pdf_bytes")

  all.zipWithIndex.foreach { case (f, i) =>
    test(s"tree invariant: ${f.label} at the root and nested in a zip") {
      val (rootDoc, nestedDoc) = (200L + 2 * i, 201L + 2 * i)
      val atRoot = top(rootDoc, f.kind, f.bytes)
      val nested = inZip(nestedDoc, f.name, f.bytes)
      assertTree(atRoot, rootDoc)
      assertTree(nested, nestedDoc)
      assert(atRoot.size > 1, "the root spawns children")
      // ordinals: the root's direct children are numbered 0..n-1
      if (f.kids.nonEmpty) {
        val rid = atRoot.head.doc_id
        assert(children(atRoot, atRoot.head).map(_._1) == f.kids.zipWithIndex.map {
          case ((n, c), o) => Ids.embedId(c, rid, o, resourceName = n) })
      }
      // and deeper: the inner zip's one entry is ordinal 0 under its node
      for (out <- Seq(atRoot, nested)) {
        val zipped = out.filter(_.spans.exists(_.text == "zipped below"))
        assert(zipped.nonEmpty == !flat(f.label))
        zipped.foreach(d => assert(d.doc_id ==
          Ids.embedId("zipped below", d.parent_id, 0, resourceName = "z.txt")))
      }
    }
  }

  test("tree invariant: every container kind as one span of a single document") {
    val spans = all.zipWithIndex.map { case (f, i) => SpanIn(f.kind, latin1(f.bytes), "", i) }
    val out = Extract.explode(DocIn(199L, spans.toArray))
    assertTree(out, 199L)
  }

  parsedFixtures.zipWithIndex.foreach { case (f, i) =>
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
      def want(parent: String) = f.kids.zipWithIndex.map { case ((n, c), o) =>
        Ids.embedId(c, parent, o, resourceName = n) }
      assert(children(atRoot, atRoot.head).map(_._1) == want(atRoot.head.doc_id))
      assert(children(nested, node).map(_._1) == want(node.doc_id))
      assert(subtree(atRoot, atRoot.head) == subtree(nested, node))
      assert(nested.size == atRoot.size + 1)
    }
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
