package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.mail.Eml
import graft.core.route.Extract

/** RFC-822/MIME parsing goldens (reference fixtures embedded_file_bug.eml /
  * image_attachment.eml semantics): header unfolding + multimap, multipart
  * boundaries, transfer decodings, attachment explosion, malformed-input
  * tolerance.
  */
class EmlSpec extends AnyFunSuite {

  private val simple =
    """From: alice@example.org
      |Subject: a folded
      |  subject line
      |Received: hop one
      |Received: hop two
      |Content-Type: text/plain
      |
      |plain body
      |two lines""".stripMargin

  test("headers unfold continuation lines and keep repeated keys in order") {
    val m = Eml.parse(simple)
    assert(m.headers == Vector(
      "From" -> "alice@example.org",
      "Subject" -> "a folded subject line",
      "Received" -> "hop one",
      "Received" -> "hop two",
      "Content-Type" -> "text/plain"))
    assert(m.body == "plain body\ntwo lines")
    assert(m.attachments.isEmpty)
  }

  test("nested multipart/alternative inside multipart/mixed: inner text is the body") {
    val b64 = java.util.Base64.getEncoder.encodeToString("pdf bytes".getBytes(UTF_8))
    val raw =
      s"""Content-Type: multipart/mixed; boundary="OUTER"
         |
         |--OUTER
         |Content-Type: multipart/alternative; boundary="INNER"
         |
         |--INNER
         |Content-Type: text/plain
         |
         |the real body
         |--INNER
         |Content-Type: text/html
         |
         |<p>the real body</p>
         |--INNER--
         |--OUTER
         |Content-Disposition: attachment; filename="doc.pdf"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--OUTER--
         |""".stripMargin
    val m = Eml.parse(raw)
    assert(m.body == "the real body")
    assert(!m.body.contains("INNER") && !m.body.contains("Content-Type"))
    assert(m.attachments.map(_._1) == Vector("doc.pdf"))
    assert(m.attachments.head._2.sameElements("pdf bytes".getBytes(UTF_8)))
    // attachments nested INSIDE an inner multipart bubble up too
    val nestedAtt =
      """Content-Type: multipart/mixed; boundary="A"
        |
        |--A
        |Content-Type: multipart/mixed; boundary="B"
        |
        |--B
        |Content-Type: text/plain
        |
        |inner text
        |--B
        |Content-Disposition: attachment; filename="deep.txt"
        |
        |deep payload
        |--B--
        |--A--
        |""".stripMargin
    val m2 = Eml.parse(nestedAtt)
    assert(m2.body == "inner text")
    assert(m2.attachments.map(_._1) == Vector("deep.txt"))
  }

  test("multipart: first text part is the body; attachments decode base64/QP") {
    val b64 = java.util.Base64.getEncoder.encodeToString("binary blob".getBytes(UTF_8))
    val raw =
      s"""Content-Type: multipart/mixed; boundary="XY"
         |
         |preamble
         |--XY
         |Content-Type: text/plain
         |Content-Transfer-Encoding: quoted-printable
         |
         |body=20with=20spaces=
         |continued
         |--XY
         |Content-Disposition: attachment; filename="file.bin"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--XY
         |Content-Disposition: attachment; filename=plain.txt
         |
         |verbatim text
         |--XY--
         |epilogue""".stripMargin
    val m = Eml.parse(raw)
    assert(m.body == "body with spacescontinued") // soft break joins lines
    assert(m.attachments.map(_._1) == Vector("file.bin", "plain.txt"))
    assert(new String(m.attachments(0)._2, UTF_8) == "binary blob")
    assert(new String(m.attachments(1)._2, UTF_8) == "verbatim text")
  }

  test("eml span explodes: body on root, attachments as resource-named children") {
    val b64 = java.util.Base64.getEncoder.encodeToString("att content".getBytes(UTF_8))
    val raw =
      s"""Subject: s
         |Content-Type: multipart/mixed; boundary=bb
         |
         |--bb
         |Content-Type: text/plain
         |
         |the body
         |--bb
         |Content-Disposition: attachment; filename="a.txt"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--bb--""".stripMargin
    val out = Extract.explode(DocIn(30, Array(SpanIn("eml", raw, "", 0))))
    val rid = Ids.rootId(30)
    assert(out.head.spans.head.text == "the body")
    assert(out.map(_.doc_id) == Seq(rid,
      Ids.embedId("att content", rid, 0, resourceName = "a.txt")))
    assert(out(1).level == 1 && out(1).parent_id == rid)
  }

  test("a ZIPPED attachment re-enters archive recursion (mail -> zip -> entry)") {
    val zip = graft.sources.Archive.zipBytes(Seq(("inner.txt", "deep".getBytes(UTF_8))))
    val b64 = java.util.Base64.getEncoder.encodeToString(zip)
    val raw =
      s"""Content-Type: multipart/mixed; boundary=bb
         |
         |--bb
         |Content-Type: text/plain
         |
         |b
         |--bb
         |Content-Disposition: attachment; filename="arch.zip"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--bb--""".stripMargin
    val out = Extract.explode(DocIn(31, Array(SpanIn("eml", raw, "", 0))))
    val rid = Ids.rootId(31)
    val zid = Ids.embedId(Ids.canonicalEntries(Seq(("inner.txt", "deep"))), rid, 0,
      resourceName = "arch.zip")
    assert(out.map(d => (d.doc_id, d.level)) == Seq(
      (rid, 0), (zid, 1),
      (Ids.embedId("deep", zid, 0, resourceName = "inner.txt"), 2)))
  }

  test("param matches only at parameter boundaries; mixed EOLs still find the body") {
    // x-boundary must NOT shadow boundary (substring-match regression)
    assert(Eml.param("multipart/mixed; x-boundary=no; boundary=yes", "boundary") == "yes")
    assert(Eml.param("attachment; xfilename=a; filename=b.txt", "filename") == "b.txt")
    assert(Eml.param("boundary=first", "boundary") == "first") // key at start
    // LF header lines + CRLF blank line (common in real corpora)
    val mixed = Eml.parse("Subject: x\n\r\nthe body")
    assert(mixed.body == "the body")
    assert(mixed.headers == Vector("Subject" -> "x"))
    val mixed2 = Eml.parse("Subject: y\r\nTo: z\r\n\nbody2")
    assert(mixed2.body == "body2" && mixed2.headers.length == 2)
  }

  test("a TGZ attachment explodes gzip -> tar -> entries (nested-gzip regression)") {
    val tar = graft.sources.Archive.tarBytes(Seq(("t.txt", "tar text".getBytes(UTF_8))))
    val tgz = graft.sources.Archive.gzipBytes(tar, "inner.tar")
    val b64 = java.util.Base64.getEncoder.encodeToString(tgz)
    val raw =
      s"""Content-Type: multipart/mixed; boundary=bb
         |
         |--bb
         |Content-Type: text/plain
         |
         |b
         |--bb
         |Content-Disposition: attachment; filename="bundle.tgz"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--bb--""".stripMargin
    val out = Extract.explode(DocIn(32, Array(SpanIn("eml", raw, "", 0))))
    // root -> gzip container child -> tar container -> entry
    assert(out.map(_.level) == Seq(0, 1, 2, 3))
    assert(out.last.spans.head.text == "tar text")
  }

  test("distinct INVALID-UTF-8 attachment payloads keep distinct ids") {
    def mail(b: Array[Byte]) = {
      val b64 = java.util.Base64.getEncoder.encodeToString(b)
      s"""Content-Type: multipart/mixed; boundary=bb
         |
         |--bb
         |Content-Type: text/plain
         |
         |x
         |--bb
         |Content-Disposition: attachment; filename="blob.bin"
         |Content-Transfer-Encoding: base64
         |
         |$b64
         |--bb--""".stripMargin
    }
    // both byte strings are invalid UTF-8 and decode to the same
    // replacement chars — ids must hash the BYTES, not the lossy decode
    val a = Extract.explode(DocIn(33, Array(SpanIn("eml", mail(Array(0xff.toByte, 0xfe.toByte)), "", 0))))
    val b = Extract.explode(DocIn(33, Array(SpanIn("eml", mail(Array(0xfe.toByte, 0xff.toByte)), "", 0))))
    assert(a(1).doc_id != b(1).doc_id)
  }

  test("malformed mail degrades, never throws: no blank line, bad base64, open multipart") {
    assert(Eml.parse("Only: headers here").body == "")
    assert(Eml.parse("no colon lines at all\njust text").body == "")
    val badB64 = Eml.parse(
      "Content-Transfer-Encoding: base64\n\n!!! not base64 !!!")
    assert(badB64.body.nonEmpty) // degrades to raw bytes
    val open = Eml.parse(
      "Content-Type: multipart/mixed; boundary=q\n\n--q\nContent-Type: text/plain\n\nunclosed part")
    assert(open.body == "unclosed part")
    assert(Eml.decodeQp("=ZZ literal=").nonEmpty) // malformed escapes stay literal
  }

  test("mbox: postmark split, mboxrd unescape, prose never sniffs as mbox") {
    import graft.core.mail.Mbox
    val mbox = "From a@x Mon Jan  1 00:00:00 2024\nSubject: one\n\nbody one\n" +
      "From b@y Tue Jan  2 00:00:00 2024\nSubject: two\n\n>From here on\nbody two\n"
    assert(Mbox.isMbox(mbox))
    val chunks = Mbox.split(mbox)
    assert(chunks.size == 2)
    assert(chunks(0) == "Subject: one\n\nbody one")
    // mboxrd: one level of >From unescaping in the body
    assert(chunks(1) == "Subject: two\n\nFrom here on\nbody two")
    // prose starting with "From " is NOT a mailbox (no asctime weekday)
    assert(!Mbox.isMbox("From the beginning, this was prose.\nMore text."))
    assert(graft.sources.Ingest.sniffKind(
      "From the beginning, this was prose.".getBytes("UTF-8"), "a.txt") == "text")
    assert(graft.sources.Ingest.sniffKind(mbox.getBytes("UTF-8"), "list.mbox") == "mbox")
  }

  test("an mbox span explodes into message children; nested mbox.gz recurses") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val mbox = "From a@x Mon Jan  1 00:00:00 2024\nSubject: one\n\nmsg one body\n" +
      "From b@y Tue Jan  2 00:00:00 2024\nSubject: two\n\nmsg two body\n"
    val d = DocIn(51L, Array(SpanIn("mbox", mbox, "", 0)))
    val nodes = Extract.explode(d)
    assert(nodes.count(_.level == 1) == 2)
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "msg one body")))
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "msg two body")))
    // nested: gzipped mailbox inside a zip -> container chain, messages below
    val gz = graft.sources.Archive.gzipBytes(mbox.getBytes("UTF-8"), "list.mbox")
    val zip = graft.sources.Archive.zipBytes(Seq(("list.mbox.gz", gz)))
    val d2 = DocIn(52L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0)))
    val nodes2 = Extract.explode(d2)
    assert(nodes2.exists(n => n.level == 3 && n.spans.exists(_.text == "msg two body")))
  }

  test("a BOM-fronted mbox in a zip spawns its messages under one container node") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val mbox = "\uFEFFFrom a@b Mon Jan  1 00:00:00 2024\nSubject: one\n\nmsg one body\n" +
      "From b@y Tue Jan  2 00:00:00 2024\nSubject: two\n\nmsg two body\n"
    val zip = graft.sources.Archive.zipBytes(Seq(("box.mbox", mbox.getBytes(UTF_8))))
    val nodes = Extract.explode(DocIn(55L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(nodes.map(_.doc_id).distinct.length == nodes.length)
    assert(nodes.count(_.level == 1) == 1)
    assert(!nodes.exists(_.no_content_reason == Reason.ParseFailed))
    assert(nodes.exists(n => n.level == 2 && n.spans.exists(_.text == "msg one body")))
    assert(nodes.exists(n => n.level == 2 && n.spans.exists(_.text == "msg two body")))
    // the same bytes as a top-level span spawn the same messages
    val top = Extract.explode(DocIn(56L, Array(SpanIn("mbox", new String(mbox.getBytes(UTF_8), ISO_8859_1), "", 0))))
    assert(top.count(_.level == 1) == 2)
  }

  test("one encrypted message in an mbox fails ALONE; siblings still extract") {
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val mbox = "From a@x Mon Jan  1 00:00:00 2024\nSubject: one\n\nmsg one body\n" +
      "From s@x Mon Jan  1 00:01:00 2024\n" +
      "Content-Type: application/pkcs7-mime; smime-type=enveloped-data\n" +
      "Content-Transfer-Encoding: base64\n\nMIAGCSqGSIb3DQEHA6CAMIACAQAx\n" +
      "From b@y Tue Jan  2 00:00:00 2024\nSubject: two\n\nmsg two body\n"
    val d = DocIn(53L, Array(SpanIn("mbox", mbox, "", 0)))
    val nodes = Extract.explode(d)
    // both readable siblings survive; the encrypted one is ONE classified
    // failure child — never a mailbox-level failure
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "msg one body")))
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "msg two body")))
    assert(nodes.count(n => n.level == 1 &&
      n.no_content_reason == graft.core.Reason.Encrypted) == 1)
    // nested (mbox-in-zip) takes the same per-message path: container node
    // emitted once, siblings intact
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val zip = graft.sources.Archive.zipBytes(Seq(("list.mbox", mbox.getBytes("UTF-8"))))
    val d2 = DocIn(54L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0)))
    val nodes2 = Extract.explode(d2)
    assert(nodes2.exists(n => n.spans.exists(_.text == "msg two body")))
    assert(nodes2.count(n =>
      n.no_content_reason == graft.core.Reason.Encrypted) == 1)
    // ids stay unique (no duplicate container/failure rows)
    assert(nodes2.map(_.doc_id).distinct.length == nodes2.length)
  }

  test("a forwarded message/rfc822 part recurses as a nested mail child") {
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    val fwd = "From: orig@example.org\r\nSubject: original\r\n" +
      "Content-Type: multipart/mixed; boundary=II\r\n\r\n" +
      "--II\r\nContent-Type: text/plain\r\n\r\noriginal inner body\r\n" +
      "--II\r\nContent-Type: text/plain\r\n" +
      "Content-Disposition: attachment; filename=o.txt\r\n\r\n" +
      "orig attachment\r\n--II--\r\n"
    val eml = "From: fw@example.org\r\nSubject: Fwd\r\n" +
      "Content-Type: multipart/mixed; boundary=XX\r\n\r\n" +
      "--XX\r\nContent-Type: text/plain\r\n\r\nsee forwarded\r\n" +
      "--XX\r\nContent-Type: message/rfc822\r\n\r\n" + fwd +
      "\r\n--XX--\r\n"
    val m = graft.core.mail.Eml.parse(eml)
    assert(m.body.contains("see forwarded"))
    assert(!m.body.contains("original inner")) // no header/body leak
    assert(m.attachments.map(_._1) == Vector("forwarded.eml"))
    // through the route: the forwarded message is a level-1 child whose
    // own attachment hangs at level 2
    val nodes = Extract.explode(DocIn(61L, Array(SpanIn("eml", eml, "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "original inner body")))
    assert(nodes.exists(n => n.level == 2 && n.spans.exists(_.text == "orig attachment")))
  }

  test("RFC 2047 encoded-words decode in headers (B, Q, adjacency, tolerance)") {
    import graft.core.mail.Eml
    // B-encoded UTF-8
    assert(Eml.decodeWords("=?UTF-8?B?SsO2cm4=?=") == "J\u00f6rn")
    // Q-encoded: underscore = space, =HH bytes
    assert(Eml.decodeWords("=?ISO-8859-1?Q?caf=E9_au_lait?=") == "caf\u00e9 au lait")
    // whitespace between adjacent encoded words is transparent
    assert(Eml.decodeWords("=?UTF-8?B?YWI=?= =?UTF-8?B?Y2Q=?=") == "abcd")
    // ordinary text around words survives; unknown charset stays verbatim
    assert(Eml.decodeWords("Re: =?UTF-8?Q?caf=C3=A9?= indeed") == "Re: caf\u00e9 indeed")
    assert(Eml.decodeWords("=?X-NOPE?B?QQ==?=") == "=?X-NOPE?B?QQ==?=")
    // headers stay RAW on Message (param() needs the unrewritten value);
    // the metadata surface (headerMultimap) carries the decoded form
    val m = Eml.parse("From: =?UTF-8?B?SsO2cm4=?= <j@example.org>" + CRLF +
      "Subject: =?UTF-8?Q?caf=C3=A9?=" + CRLF + CRLF + "body")
    assert(m.headers.exists { case (k, v) => k == "Subject" && v == "=?UTF-8?Q?caf=C3=A9?=" })
    val mm = Eml.headerMultimap(m).toMap
    assert(mm("From") == Seq("J\u00f6rn <j@example.org>"))
    assert(mm("Subject") == Seq("caf\u00e9"))
    // adjacency collapse never eats whitespace in PLAIN text that merely
    // contains the delimiters, nor next to an undecodable word
    assert(Eml.decodeWords("x?= =?y maybe") == "x?= =?y maybe")
    assert(Eml.decodeWords("=?UTF-8?B?YQ==?= =?X-NOPE?B?QQ==?=") ==
      "a =?X-NOPE?B?QQ==?=")
    // a boundary that LOOKS like an encoded word still splits parts
    val tricky = Eml.parse("Content-Type: multipart/mixed; boundary==?utf-8?q?bb?=" + CRLF + CRLF +
      "--=?utf-8?q?bb?=" + CRLF + "Content-Type: text/plain" + CRLF + CRLF + "real body" + CRLF +
      "--=?utf-8?q?bb?=--" + CRLF)
    assert(tricky.body == "real body")
  }

  private val CRLF = "\r\n"

  test("RFC 2231 extended filenames and encoded-word filenames decode") {
    import graft.core.mail.Eml
    val eml = ("Content-Type: multipart/mixed; boundary=XX" + CRLF + CRLF +
      "--XX" + CRLF + "Content-Type: text/plain" + CRLF + CRLF + "body" + CRLF +
      "--XX" + CRLF + "Content-Type: application/octet-stream" + CRLF +
      "Content-Disposition: attachment; filename*=UTF-8''caf%C3%A9.txt" + CRLF + CRLF +
      "one" + CRLF +
      "--XX" + CRLF + "Content-Type: application/octet-stream" + CRLF +
      "Content-Disposition: attachment; filename=\"=?UTF-8?Q?r=C3=A9sum=C3=A9.pdf?=\"" + CRLF + CRLF +
      "two" + CRLF + "--XX--" + CRLF)
    val m = Eml.parse(eml)
    assert(m.attachments.map(_._1) ==
      Vector("caf\u00e9.txt", "r\u00e9sum\u00e9.pdf"))
  }

  test("attachment-disposition forwarded message recurses; empty mbox msg survives") {
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    import graft.core.mail.{Eml, Mbox}
    // message/rfc822 under Content-Disposition: attachment, NO filename
    val eml = Seq(
      "Content-Type: multipart/mixed; boundary=XX", "",
      "--XX", "Content-Type: text/plain", "", "carrier body",
      "--XX", "Content-Type: message/rfc822", "Content-Disposition: attachment", "",
      "From: o@x", "Subject: inner", "", "forwarded body here",
      "--XX--", "").mkString(CRLF)
    val m = Eml.parse(eml)
    assert(m.attachments.map(_._1) == Vector("forwarded.eml"))
    val nodes = Extract.explode(DocIn(71L, Array(SpanIn("eml", eml, "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.spans.exists(_.text == "forwarded body here")))
    // two consecutive postmarks: the empty message yields an EMPTY chunk
    val mbox = Seq(
      "From a@x Mon Jan  1 00:00:00 2024",
      "From b@y Tue Jan  2 00:00:00 2024", "Subject: x", "", "the body", "").mkString("\n")
    val chunks = Mbox.split(mbox)
    assert(chunks.size == 2 && chunks(0) == "" && chunks(1).endsWith("the body"))
    // Thunderbird-style .eml (leading postmark) stays on the eml route
    val tb = Seq("From - Mon Jan  1 00:00:00 2024", "From: a@b",
      "Content-Type: text/plain", "", "tb body").mkString("\n")
    assert(graft.sources.Ingest.sniffKind(tb.getBytes("UTF-8"), "saved.eml") == "eml")
    assert(graft.sources.Ingest.sniffKind(tb.getBytes("UTF-8"), "inbox") == "mbox")
  }

  test("emlx: length framing honored, plist trailer never leaks, sniff works") {
    val msg = "From: a@x\r\nContent-Type: multipart/mixed; boundary=\"B\"\r\n\r\n" +
      "--B\r\nContent-Type: text/plain\r\n\r\nemlx body here\r\n" +
      "--B\r\nContent-Disposition: attachment; filename=\"f.txt\"\r\n\r\natt data\r\n--B--\r\n"
    val emlx = s"${msg.length}\n$msg" +
      "<?xml version=\"1.0\"?><plist><dict><key>flags</key><integer>1</integer></dict></plist>\n"
    val m = Eml.parseEmlx(emlx)
    assert(m.body == "emlx body here")
    assert(m.attachments.map(_._1) == Vector("f.txt"))
    assert(!m.body.contains("plist"))
    // sniff: extension and extensionless head shape
    assert(graft.sources.Ingest.sniffKind(emlx.getBytes("UTF-8"), "1.emlx") == "emlx")
    assert(graft.sources.Ingest.sniffKind(emlx.getBytes("UTF-8"), "12345") == "emlx")
    // a digits-led plain text file must NOT sniff as emlx
    assert(graft.sources.Ingest.sniffKind("1234\nplain prose line".getBytes("UTF-8"), "n") == "text")
    // malformed length degrades to bare-message parse
    assert(Eml.parseEmlx("999999\nFrom: b@y\r\n\r\nshort").body == "short")
    // explode end-to-end: framed message behaves exactly like bare eml
    val d = graft.core.DocIn(5L, Array(graft.core.SpanIn("emlx", emlx, "", 0)))
    val out = graft.core.route.Extract.explode(d)
    assert(out.exists(o => o.level == 0 && o.spans.exists(_.text == "emlx body here")))
    assert(out.exists(o => o.level == 1 && o.spans.exists(_.text == "att data")))
  }

  test("inline uuencode blocks become attachments, prose stays the body") {
    // encode "uu payload!" by hand via the published uudecode alphabet
    def uuLine(bs: Array[Byte]): String = {
      val sb = new StringBuilder
      sb.append((bs.length + 0x20).toChar)
      bs.grouped(3).foreach { g =>
        val b = g.padTo(3, 0.toByte)
        val v = Seq((b(0) & 0xff) >> 2, ((b(0) & 0x03) << 4) | ((b(1) & 0xff) >> 4),
          ((b(1) & 0x0f) << 2) | ((b(2) & 0xff) >> 6), b(2) & 0x3f)
        v.foreach(x => sb.append((if (x == 0) 0x60 else x + 0x20).toChar))
      }
      sb.toString
    }
    val payload = "uu payload!".getBytes("UTF-8")
    val raw = "From: u@x\r\nContent-Type: text/plain\r\n\r\n" +
      "see attached\nbegin 644 legacy.bin\n" + uuLine(payload) + "\n`\nend\nbye"
    val m = graft.core.mail.Eml.parse(raw)
    assert(m.body === "see attached\nbye")
    assert(m.attachments.map(_._1) === Vector("legacy.bin"))
    assert(new String(m.attachments.head._2, "UTF-8") === "uu payload!")
    // malformed block (no end): body kept verbatim, no attachment
    val bad = "From: u@x\r\n\r\nprose begin 644 x\nbegin 644 y.bin\n" + uuLine(payload)
    val m2 = graft.core.mail.Eml.parse(bad)
    assert(m2.attachments.isEmpty)
    assert(m2.body.contains("begin 644 y.bin"))
  }

  test("S/MIME and PGP/MIME encrypted mail classify, clear-signed extracts") {
    import graft.core.mail.Eml
    // enveloped-data: CMS blob as base64 — decoding it as body would be
    // binary garbage; must classify as a DecryptFailure
    val smime = "From: a@x\r\nContent-Type: application/pkcs7-mime; " +
      "smime-type=enveloped-data; name=smime.p7m\r\n" +
      "Content-Transfer-Encoding: base64\r\n\r\nMIAGCSqGSIb3DQEHA6CAMIACAQAx\r\n"
    intercept[graft.core.DecryptFailure](Eml.parse(smime))
    // smime-type omitted (stock senders do): assume enveloped
    intercept[graft.core.DecryptFailure](Eml.parse(
      smime.replace("; smime-type=enveloped-data", "")))
    // opaque-signed is NOT key-gated — honest terminal refusal, never the
    // retryable not-decrypted status
    intercept[graft.core.ParseFailure](Eml.parse(smime.replace("enveloped-data", "signed-data")))
    intercept[graft.core.ParseFailure](Eml.parse(smime.replace("enveloped-data", "compressed-data")))
    // certs-only carries no content BY DESIGN: empty message, not an error
    val certs = Eml.parse(smime.replace("enveloped-data", "certs-only"))
    assert(certs.body == "" && certs.attachments.isEmpty)
    // an encrypted CMS PART nested in multipart/mixed becomes a NAMED
    // attachment — the readable sibling stays the body (per-part isolation)
    val mixed = "From: a@x\r\nContent-Type: multipart/mixed; boundary=mx\r\n\r\n" +
      "--mx\r\nContent-Type: text/plain\r\n\r\nreadable sibling\r\n" +
      "--mx\r\nContent-Type: application/pkcs7-mime; smime-type=enveloped-data\r\n" +
      "Content-Transfer-Encoding: base64\r\n\r\nMIAGCSqGSIb3DQEHA6CAMIACAQAx\r\n--mx--\r\n"
    val mm = Eml.parse(mixed)
    assert(mm.body.trim == "readable sibling")
    assert(mm.attachments.map(_._1) == Vector("smime.p7m"))
    // ...and the attachment's DER bytes sniff as key-gated CMS
    assert(graft.sources.Ingest.sniffKind(mm.attachments.head._2) == "smime_enc")
    // PGP/MIME (RFC 3156)
    val pgp = "From: a@x\r\nContent-Type: multipart/encrypted; " +
      "protocol=\"application/pgp-encrypted\"; boundary=bb\r\n\r\n" +
      "--bb\r\nContent-Type: application/pgp-encrypted\r\n\r\nVersion: 1\r\n" +
      "--bb\r\nContent-Type: application/octet-stream\r\n\r\nhQEMA...\r\n--bb--\r\n"
    intercept[graft.core.DecryptFailure](Eml.parse(pgp))
    // CLEAR signing (multipart/signed) stays readable: body extracts
    val signed = "From: a@x\r\nContent-Type: multipart/signed; " +
      "protocol=\"application/pkcs7-signature\"; boundary=sig\r\n\r\n" +
      "--sig\r\nContent-Type: text/plain\r\n\r\nreadable body\r\n" +
      "--sig\r\nContent-Type: application/pkcs7-signature\r\n\r\nMIIB...\r\n--sig--\r\n"
    assert(Eml.parse(signed).body.trim == "readable body")
  }
}
