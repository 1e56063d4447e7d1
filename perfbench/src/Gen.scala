package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import graft.core.{DocIn, SpanIn}

/** Expected extraction output of one input document, written down by the
  * generator from what it put into the document, never by running the
  * program. `status` is the lineage status the document must get; for a
  * SUCCESS document `hash` is [[Hash.doc]] over its root and child rows and
  * `rows` is how many extracted rows (root plus children) it yields.
  */
final case class Planned(status: String, hash: Long, rows: Int, bytes: Long)

/** An expected extracted row: spans as (kind, text, media_ref). */
final case class Row(level: Int, spans: Seq[(String, String, String)], reason: String)

/** Order-independent 64-bit hashes of extracted rows, computed the same way
  * over generator expectations and over the program's output. Text is
  * compared with whitespace runs collapsed, so a format's line-joining
  * convention does not matter but every word and its order do.
  */
object Hash {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def str(h0: Long, s: String): Long = {
    var h = h0 ^ 0xcbf29ce484222325L
    var i = 0
    var space = true // collapse whitespace runs, drop leading/trailing
    var pending = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { if (!space) pending = true; space = true }
      else {
        if (pending) { h = (h ^ ' ') * 0x100000001b3L; pending = false }
        h = (h ^ c) * 0x100000001b3L
        space = false
      }
      i += 1
    }
    mix(h)
  }
  def row(r: Row): Long = {
    var h = mix(r.level.toLong)
    r.spans.foreach { case (k, t, m) => h = mix(str(str(str(h, k), t), m)) }
    str(h, r.reason)
  }
  /** A document: its root row in span order, plus its children as a
    * multiset (sibling order and child ids are not compared).
    */
  def doc(root: Row, children: Iterable[Row]): Long = {
    var sum = 0L
    children.foreach(c => sum += row(c))
    mix(row(root) * 31 + sum + children.size)
  }
  /** [[doc]] over the program's rows of one document (root at level 0). */
  def actual(rows: Seq[graft.core.DocOut]): Long = {
    val rs = rows.map(o => Row(o.level,
      o.spans.toSeq.sortBy(_.order).map(s => (s.kind, s.text, s.media_ref)), o.no_content_reason))
    val (root, kids) = rs.partition(_.level == 0)
    if (root.size != 1) mix(rs.size.toLong) else doc(root.head, kids)
  }
}

/** Seeded random words, lowercase a-z only (markup-safe in html, pdf and xml). */
final class Words(seed: Long, n: Int = 4096) {
  val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }
  def pick(r: SplittableRandom, k: Int): Array[String] = Array.fill(k)(vocab(r.nextInt(vocab.length)))
}

object Gen {
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(Hash.mix(Hash.mix(seed * 1000003L + stream) + id))

  val Success = "SUCCESS"

  // ---------------------------------------------------------------- spans ----

  /** Boilerplate page whose main text is `title <id>` then A. */
  def htmlPage(id: Long, a: String): String =
    s"""<html><head><title>page $id</title><style>body{margin:0}</style></head><body>""" +
      """<div class="menu"><ul><li><a href="/">start</a></li><li><a href="/news">news</a></li>""" +
      """<li><a href="/help">help</a></li></ul></div>""" +
      s"""<div class="content"><h1>title $id</h1><p>$a</p></div>""" +
      """<div class="foot"><p><a href="/legal">legal</a> <a href="/cookies">cookie policy</a></p></div>""" +
      """<script>window.t=0;</script></body></html>"""

  /** Positioned-word records (`x|y|page|word`, ';'-joined) in a scrambled
    * order: 6 words a line, 5 lines a page. Reading order is C itself.
    */
  def pdfLayout(c: Array[String], r: SplittableRandom): String = {
    val recs = c.indices.map { j =>
      s"${(j % 6) * 40 + r.nextInt(5)}|${(j % 30) / 6 * 14}|${j / 30}|${c(j)}"
    }.toArray
    var i = recs.length - 1
    while (i > 0) { val k = r.nextInt(i + 1); val t = recs(i); recs(i) = recs(k); recs(k) = t; i -= 1 }
    recs.mkString(";")
  }

  /** One document of the spans table, in the BASELINE input shape: html,
    * text and pdf-layout spans, a media span on a third of the docs (an
    * empty one, or a two-level `chain:` embed, on some), a bin span on some.
    * About 17% carry one failure marker instead.
    */
  def spanDoc(seed: Long, w: Words, id: Long): (DocIn, Planned) = {
    val r = rng(seed, 1, id)
    val fail = r.nextInt(1000)
    def failing(kind: String, text: String, status: String): (DocIn, Planned) =
      (DocIn(id, Array(SpanIn(kind, text, "", 0))), Planned(status, 0L, 0, text.length))
    if (fail < 43) failing("html", "ENCRYPTED:" + w.pick(r, 8).mkString(" "), "FAILURE_NOT_DECRYPTED")
    else if (fail < 86) failing("text", "POISON:" + w.pick(r, 8).mkString(" "), "FAILURE_NOT_PARSED")
    else if (fail < 129) failing("media", "MISSING:blob-" + id, "FAILURE_NOT_FOUND")
    else if (fail < 172) failing("pdf", "UNREADABLE:" + id, "FAILURE_UNREADABLE")
    else {
      val a = w.pick(r, 8 + r.nextInt(20)).mkString(" ")
      val b = w.pick(r, 8 + r.nextInt(20)).mkString(" ")
      val c = w.pick(r, 8 + r.nextInt(40))
      val in = Array.newBuilder[SpanIn]
      val out = Seq.newBuilder[(String, String, String)]
      val kids = Seq.newBuilder[Row]
      in += SpanIn("html", htmlPage(id, a), "", 0); out += (("html", s"title $id\n$a", ""))
      in += SpanIn("text", b, "", 1); out += (("text", b, ""))
      in += SpanIn("pdf", pdfLayout(c, r), "", 2); out += (("pdf", c.mkString(" "), ""))
      var next = 3
      if (r.nextInt(3) == 0) {
        val ref = s"art/$id"
        val v = r.nextInt(9)
        val t =
          if (v == 0) ""
          else if (v < 3) s"chain:ocr $id>sub $id"
          else s"ocr $id"
        in += SpanIn("media", t, ref, next); out += (("media", t, ref))
        if (v == 0) kids += Row(1, Nil, "empty-file")
        else if (v < 3) {
          kids += Row(1, Seq(("text", s"ocr $id", "")), "")
          kids += Row(2, Seq(("text", s"sub $id", "")), "")
        } else kids += Row(1, Seq(("text", s"ocr $id", "")), "")
        next += 1
      }
      if (r.nextInt(13) == 0) {
        in += SpanIn("bin", "\u0001junk" + id, "", next); out += (("bin", "", ""))
      }
      val spans = in.result()
      val children = kids.result()
      val root = Row(0, out.result(), "")
      (DocIn(id, spans),
        Planned(Success, Hash.doc(root, children), 1 + children.size, spans.iterator.map(_.text.length.toLong).sum))
    }
  }

  // ---------------------------------------------------------------- files ----

  /** One generated file: its name, bytes and what extraction must yield,
    * including the kind the sniff must give its root span.
    */
  final case class GenFile(name: String, bytes: Array[Byte], planned: Planned)

  private def lines(w: Words, r: SplittableRandom, n: Int, k: Int): Seq[String] =
    Seq.fill(n)(w.pick(r, 3 + r.nextInt(k)).mkString(" "))

  def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (n, b) =>
      val e = new java.util.zip.ZipEntry(n)
      e.setTime(0L)
      z.putNextEntry(e); z.write(b); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  def pdfBytes(ls: Seq[String]): Array[Byte] = {
    val content = ls.zipWithIndex.map { case (l, i) =>
      s"BT /F1 11 Tf 72 ${760 - 12 * i} Td ($l) Tj ET"
    }.mkString("\n").getBytes(ISO_8859_1)
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val buf = new ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(chunk); buf.write(chunk, 0, n) }
    d.end()
    val z = buf.toByteArray
    val out = new ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    def obj(n: Int, body: String): Unit = { offs += out.size(); w(s"$n 0 obj\n$body\nendobj\n") }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >>")
    offs += out.size()
    w(s"4 0 obj\n<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
    out.write(z)
    w("\nendstream\nendobj\n")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val xref = out.size()
    w(s"xref\n0 ${offs.size + 1}\n0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  def docxBytes(paras: Seq[String]): Array[Byte] = {
    val ct = """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="xml" ContentType="application/xml"/><Override PartName="/word/document.xml" """ +
      """ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>"""
    val body = paras.map(p => s"<w:p><w:r><w:t>$p</w:t></w:r></w:p>").mkString
    val doc = """<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      s"<w:body>$body</w:body></w:document>"
    zipBytes(Seq("[Content_Types].xml" -> ct.getBytes(UTF_8), "word/document.xml" -> doc.getBytes(UTF_8)))
  }

  /** gzip member with FNAME set, so the child carries the inner name. */
  def gzipBytes(name: String, data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 8, 0, 0, 0, 0, 0, 0xff.toByte))
    out.write(name.getBytes(ISO_8859_1)); out.write(0)
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(chunk); out.write(chunk, 0, n) }
    d.end()
    val crc = new java.util.zip.CRC32(); crc.update(data)
    def le32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    le32(crc.getValue); le32(data.length.toLong)
    out.toByteArray
  }

  def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    entries.foreach { case (n, b) =>
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = { val x = s.getBytes(ISO_8859_1); System.arraycopy(x, 0, h, off, x.length) }
      put(0, n); put(100, "0000644\u0000"); put(108, "0000000\u0000"); put(116, "0000000\u0000")
      put(124, f"${b.length}%011o\u0000"); put(136, "00000000000\u0000")
      put(148, "        "); h(156) = '0'; put(257, "ustar\u000000")
      val sum = h.iterator.map(_ & 0xff).sum
      put(148, f"$sum%06o\u0000 ")
      out.write(h); out.write(b)
      val pad = (512 - b.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  def emlBytes(id: Long, body: String, atts: Seq[(String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= s"Return-Path: <sender$id@example.org>\r\nMessage-ID: <m$id@example.org>\r\n"
    sb ++= s"From: Sender <sender$id@example.org>\r\nTo: desk@example.org\r\nSubject: note $id\r\n"
    sb ++= "MIME-Version: 1.0\r\nContent-Type: multipart/mixed; boundary=\"b0undary\"\r\n\r\n"
    sb ++= "--b0undary\r\nContent-Type: text/plain; charset=us-ascii\r\n\r\n" ++= body ++= "\r\n"
    atts.foreach { case (n, t) =>
      sb ++= s"--b0undary\r\nContent-Type: text/plain; name=\"$n\"\r\n"
      sb ++= s"Content-Disposition: attachment; filename=\"$n\"\r\nContent-Transfer-Encoding: base64\r\n\r\n"
      sb ++= java.util.Base64.getMimeEncoder.encodeToString(t.getBytes(UTF_8)) ++= "\r\n"
    }
    sb ++= "--b0undary--\r\n"
    sb.toString.getBytes(ISO_8859_1)
  }

  private def txtRow(t: String) = Row(1, Seq(("text", t, "")), "")

  /** One file of the ingest directory. The mix is FlateDecode PDFs, docx,
    * zips of text entries, multipart mail with base64 attachments, gzip and
    * tar; a few big tars pass `oversizedChars`, and 2% are zips cut short,
    * which must classify FAILURE_NOT_PARSED.
    */
  def file(seed: Long, w: Words, id: Long, oversized: Boolean): GenFile = {
    val r = rng(seed, 2, id)
    val base = f"f$id%07d"
    // root span of the given sniffed kind and text, or an empty container root
    def ok(name: String, b: Array[Byte], kind: String, text: String, kids: Seq[Row]) = {
      val root = Row(0, Seq((kind, text, "")), if (text.isEmpty) "empty-file" else "")
      GenFile(name, b, Planned(Success, Hash.doc(root, kids), 1 + kids.size, b.length.toLong))
    }
    def entries(prefix: String, k: Int, n: => Int) =
      (0 until k).map(i => s"$prefix$i.txt" -> lines(w, r, n, 10).mkString("\n"))
    def bytes(es: Seq[(String, String)]) = es.map { case (n, t) => n -> t.getBytes(UTF_8) }
    if (oversized) {
      val ents = entries("part", 12, 2200)
      ok(s"$base.tar", tarBytes(bytes(ents)), "tar", "", ents.map(e => txtRow(e._2)))
    } else {
      val v = r.nextInt(100)
      if (v < 30) {
        val ls = lines(w, r, 4 + r.nextInt(30), 8)
        ok(s"$base.pdf", pdfBytes(ls), "pdf_bytes", ls.mkString("\n"), Nil)
      } else if (v < 50) {
        val ps = lines(w, r, 3 + r.nextInt(20), 14)
        ok(s"$base.docx", docxBytes(ps), "zip", ps.mkString("\n"), Nil)
      } else if (v < 63) {
        val ents = entries("note", 1 + r.nextInt(5), 2 + r.nextInt(12))
        ok(s"$base.zip", zipBytes(bytes(ents)), "zip", "", ents.map(e => txtRow(e._2)))
      } else if (v < 78) {
        val body = lines(w, r, 2 + r.nextInt(10), 10).mkString("\n")
        val atts = entries("att", r.nextInt(3), 2 + r.nextInt(8))
        ok(s"$base.eml", emlBytes(id, body, atts), "eml", body, atts.map(a => txtRow(a._2)))
      } else if (v < 88) {
        val t = lines(w, r, 4 + r.nextInt(30), 10).mkString("\n")
        ok(s"$base.txt.gz", gzipBytes(s"$base.txt", t.getBytes(UTF_8)), "gzip", "", Seq(txtRow(t)))
      } else if (v < 98) {
        val ents = entries("doc", 1 + r.nextInt(4), 2 + r.nextInt(12))
        ok(s"$base.tar", tarBytes(bytes(ents)), "tar", "", ents.map(e => txtRow(e._2)))
      } else {
        val full = docxBytes(lines(w, r, 6, 10))
        val cut = java.util.Arrays.copyOf(full, full.length / 2)
        GenFile(s"$base.docx", cut, Planned("FAILURE_NOT_PARSED", 0L, 0, cut.length.toLong))
      }
    }
  }

  // ---------------------------------------------------------------- dedup ----

  /** Dedup corpus: background docs of 40-80 words with a mild stopword skew
    * (one word in ten from a 20-word list), 43% of them ending in one of
    * three [[Footers]], plus planted near-duplicate
    * clusters. Cluster c's base is doc `c * probeMod` (a Jaccard probe);
    * its variants sit above `n` and differ from the base by 1-2 word
    * substitutions, so MinHash bands, edit distance and Jaccard all reach
    * them.
    */
  final case class DedupSpec(n: Long, clusters: Int, perCluster: Int, probeMod: Int) {
    def variantIds(c: Int): Seq[Long] = (0 until perCluster).map(j => n + c.toLong * perCluster + j)
    def all: Iterator[Long] = Iterator.range(0L, n) ++ Iterator.range(0, clusters).flatMap(variantIds)
    def planted: Seq[(Long, Long)] = (0 until clusters).flatMap(c => variantIds(c).map(v => (c.toLong * probeMod, v)))
  }

  val Stopwords: Array[String] = Array("the", "of", "and", "to", "in", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or")

  def dedupText(seed: Long, w: Words, spec: DedupSpec, id: Long): String =
    if (id < spec.n) baseText(seed, w, id)
    else {
      val k = id - spec.n
      val c = (k / spec.perCluster).toInt
      val words = baseText(seed, w, c.toLong * spec.probeMod).split(" ")
      val r = rng(seed, 4, id)
      (0 until 1 + r.nextInt(2)).foreach(_ => words(r.nextInt(words.length)) = w.vocab(r.nextInt(w.vocab.length)))
      words.mkString(" ")
    }

  /** Footers appended to some background docs, with the share (per mille)
    * of docs that carry each: the first two exceed `dfCap = n/10`, so their
    * shingles are the hot ones `ngramJaccard` drops; the third stays under
    * it and widens the shingle join. They also put unrelated docs into
    * shared MinHash buckets, which `editVerify` has to reject.
    */
  val Footers: Seq[(Int, String)] = Seq(
    200 -> "this message and any attachments are confidential and intended only for the addressee",
    150 -> "sent from my mobile device please excuse brevity and typos",
    80 -> "to unsubscribe from this list reply with remove in the subject line")

  private def baseText(seed: Long, w: Words, id: Long): String = {
    val r = rng(seed, 3, id)
    val body = Array.fill(40 + r.nextInt(41)) {
      if (r.nextInt(10) == 0) Stopwords(r.nextInt(Stopwords.length)) else w.vocab(r.nextInt(w.vocab.length))
    }.mkString(" ")
    // by id alone, so every seed puts each footer on the same docs and probes
    val f = java.lang.Math.floorMod(Hash.mix(id), 1000L)
    Footers.scanLeft((0, "")) { case ((acc, _), (share, t)) => (acc + share, t) }.tail
      .find(f < _._1).fold(body)(x => body + " " + x._2)
  }
}
