package graft.core.route

import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.core._
import graft.core.html.HtmlExtractor
import graft.core.pdf.PdfLayout
import graft.sources.{Apple, Archive, Cab, Chm, Iso, Rar, Warc}

/** The extraction operator proper: per-document span routing.
  *
  * Re-expresses the reference's parser dispatch (`AutoDetectParser` +
  * `CompositeParser` surgery, `Extractor.java:937,1028-1078`) as a pure
  * kind-match over spans, with the zip-bomb-style guards
  * (`EmbedSpawner.java:389-402,881-906`) and FallbackParser semantics
  * (`parser/FallbackParser.java:17-54`: unparseable content becomes an EMPTY
  * span stamped with a NoContentReason — never a row failure).
  *
  * Pure functions of their inputs — no counters, no execution-order
  * dependence — preserving the reference's parallel==serial determinism
  * (SURVEY §4 hard part 1). The single exception is the cooperative
  * per-document deadline (disabled by default): timeouts are inherently
  * clock-bound, exactly as in the reference's watchdog.
  */
object Extract {

  final case class Config(
      maxSpanChars: Int = 16 << 20, // size guard (EmbedSpawner.java:64,393-402)
      maxSpans: Int = 100000,       // breadth guard
      maxEmbedDepth: Int = 20       // depth guard (EmbedSpawner.java:55)
  )
  val DefaultConfig: Config = Config()

  /** Marker an upstream splitter stamps on spans whose payload could not
    * be decrypted (the `pdf/encrypted.pdf` case — reference classifies via
    * EncryptedDocumentException, `Extractor.java:785-826`).
    */
  final val EncryptedMarker = "ENCRYPTED:"

  /** Failure-injection markers modeling the reference's exception surface
    * (`Extractor.java:785-826`): a parser crash (tag-soup corner, corrupt
    * container), a payload whose backing blob is gone, and an IO error
    * mid-read. Each throws the matching typed exception — deterministically,
    * so the status taxonomy is oracle-checkable (q_lineage_taxonomy).
    */
  final val PoisonMarker = "POISON:"
  final val MissingMarker = "MISSING:"
  final val UnreadableMarker = "UNREADABLE:"

  /** `SLOW:<millis>` — a pathological span whose parse busy-waits (the
    * reference tests its watchdog with a hanging-parser fixture the same
    * way). Lets the per-document deadline be exercised deterministically:
    * the wait is guaranteed >= millis, so any shorter deadline MUST fire at
    * the next span boundary.
    */
  final val SlowMarker = "SLOW:"

  /** Route one span. Returns (extractedText, reasonOrEmpty). Throws typed
    * failures for the marker cases (classified to lineage statuses by the
    * job layer, never a task failure).
    *
    * `markers=false` disables the failure-injection markers: they model the
    * exception surface of TOP-LEVEL span payloads (the synthetic corpus
    * contract), and must NOT be reachable from untrusted nested archive
    * entry bytes — an entry starting with "POISON:" is ordinary content,
    * not an instruction to fail its parent document.
    */
  def extractSpan(kind: String, text: String, cfg: Config = DefaultConfig,
                  markers: Boolean = true): (String, String) =
    routeSpan(kind, text, cfg, markers, null, 0)

  /** [[extractSpan]]; a document row's children from the parse that got
    * its own text are kept in slot `i` of `sp`, when given.
    */
  private def routeSpan(kind: String, text: String, cfg: Config, markers: Boolean,
                        sp: Spawner, i: Int): (String, String) = {
    val t = if (text == null) "" else text
    if (t.length > cfg.maxSpanChars) ("", Reason.Unsupported)
    else if (!markers) routeKind(kind, t, cfg, sp, i)
    else if (t.startsWith(EncryptedMarker)) ("", Reason.Encrypted)
    else if (t.startsWith(PoisonMarker)) throw new ParseFailure(s"parser crash on $kind span")
    else if (t.startsWith(MissingMarker)) throw new PayloadMissing(s"payload blob missing for $kind span")
    else if (t.startsWith(UnreadableMarker)) throw new PayloadUnreadable(s"io error reading $kind span")
    else if (t.startsWith(SlowMarker)) {
      val ms = t.substring(SlowMarker.length).takeWhile(_.isDigit) match {
        case "" => 10L; case d => d.toLong
      }
      val until = System.nanoTime() + ms * 1000000L
      while (System.nanoTime() < until) {} // simulated hanging parse
      (t, "")
    }
    else routeKind(kind, t, cfg, sp, i)
  }

  private def routeKind(kind: String, t: String, cfg: Config, sp: Spawner,
                        i: Int): (String, String) =
    kind match {
      case "html"      => (HtmlExtractor.mainText(t), "")
      case "pdf"       => (PdfLayout.text(t), "")
      case "text"      => (t, "")
      case "media"     => (t, "") // OCR/media passthrough (north rule): text + media_ref unchanged
      // CMS/PGP payloads (smime.p7m, PGP armor): key-gated ciphertext
      // classifies encrypted; other CMS (opaque SignedData) refuses as
      // unsupported — either way never decoded-envelope garbage as text
      case "smime_enc" => ("", Reason.Encrypted)
      case "smime"     => ("", Reason.Unsupported)
      // raster images / AV containers: like Tika's ImageParser+Mp4Parser,
      // the parse SUCCEEDS with header metadata (graft.core.media.Probe)
      // and an empty body — text would need OCR/transcription, so the
      // document classifies empty-file, NOT unsupported
      case "image" | "av" => ("", "")
      case "rtf"       => (graft.core.text.Rtf.text(t), "")  // real RTF bytes (reference rtf fixture)
      case "csv"       => (graft.core.text.Csv.text(t), "")  // delimited table text (reference csv fixture)
      case "dbf"       => // dBase table: header + active rows, tab-joined
        (graft.core.db.Dbf.text(t.getBytes(ISO_8859_1)), "")
      case "wpd"       => // WordPerfect: document-area byte-stream decode
        (graft.core.office.Wpd.text(t.getBytes(ISO_8859_1)), "")
      case "lnk"       => // Windows shortcut: target/string-data metadata text
        (graft.core.office.Lnk.text(t.getBytes(ISO_8859_1)), "")
      case "vcard"     => (graft.core.text.Contact.vcardText(t), "") // RFC 6350 contact card
      case "ics"       => (graft.core.text.Contact.icsText(t), "")   // RFC 5545 calendar
      case "xml"       => (graft.core.text.Xml.text(t), "") // standalone XML: markup stripped (Tika XMLParser)
      // a container row's own text: a package, PDF or message body, or
      // none — its entries explode to children
      case _ => ContainerByKind.get(kind) match {
        case Some(c) =>
          if (!c.document) ("", "")
          else {
            val n = topNode(c, t, cfg)
            if (sp != null) sp.keep(i, n.kids)
            (n.body, n.reason)
          }
        case None => ("", Reason.Unsupported)
      }
    }

  // ----------------------------------------------------- container table

  private type Entries = Vector[Archive.UnzippedEntry]

  /** Spawns a container's children with a [[Spawner]] below a parent id,
    * ordinals from a first ordinal, at a level; returns the next ordinal.
    */
  private type Kids = (Spawner, String, Int, Int) => Int

  /** One row of [[Containers]]: a span kind whose payload parses into one
    * [[Node]], its body and its embedded children. The same row and the same
    * node serve a top-level span of the kind and a nested entry its `detect`
    * recognises, so a format unpacks the same way at the root and inside
    * another container (the reference's single `EmbedSpawner.parseEmbedded`
    * dispatch). A nested entry is recognised by `magic` when given, else by
    * the file-walk sniff ([[graft.sources.Ingest.sniffKind]]). A `document`
    * row's body is also a top-level span's own text (packages, PDFs, mail,
    * page saves, sections, plists, compound files), parsed once in the
    * routing pass; the others are pure containers (archives, mailboxes,
    * dumps, databases) with an empty body, parsed when their children spawn.
    * `parse` runs before the node's first emission, so a payload it rejects
    * yields exactly one failure node; the node's [[Kids]] run after it.
    */
  private final case class Container(kind: String, document: Boolean,
                                     parse: (Payload, Config) => Node,
                                     magic: Array[Byte] => Boolean = null) {
    /** Whether a nested entry's bytes are this format; `sniffed` is the
      * entry's file-walk kind, computed at most once per entry.
      */
    def detect(data: Array[Byte], sniffed: => String): Boolean =
      if (magic != null) magic(data) else sniffed == kind
  }

  /** A row's payload: a span's text, or a nested entry's raw bytes; each
    * view is made from the other on first use (an entry's text is its
    * [[graft.sources.Ingest.decodePayload]]).
    */
  private final class Payload(kind: String, span: String, raw: Array[Byte]) {
    lazy val text: String =
      if (raw == null) span else graft.sources.Ingest.decodePayload(kind, raw)
    lazy val bytes: Array[Byte] = if (raw != null) raw else span.getBytes(ISO_8859_1)
  }

  /** What a parsed payload spawns: the node's own body (a `spanKind` span
    * nested; `reason` when it has none) and its children. Nested, the
    * node's id hashes `identity` (null: the raw bytes); a `guarded`
    * identity is also the size the guards read, checked again before the
    * node is emitted (a message's logical canonical fields). `as`: the
    * payload is transport for these bytes (a decrypted package), which
    * spawn in its place, at the root as a zip span and nested as the same
    * entry.
    */
  private final class Node(val body: String, val kids: Kids, id: => String = null,
                           val guarded: Boolean = false, val as: Array[Byte] = null,
                           val reason: String = "", val spanKind: String = "text") {
    lazy val identity: String = id
  }

  /** A top-level span's node; a transport payload reads as its zip. */
  private def topNode(c: Container, t: String, cfg: Config): Node = {
    val n = c.parse(new Payload(c.kind, t, null), cfg)
    if (n.as == null) n else Zip.parse(new Payload(Zip.kind, null, n.as), cfg)
  }

  /** An archive or codec row: the payload unpacks into named entries
    * (`None` = refused by a guard), each spawned like a file; the node's id
    * hashes its canonical entries ([[Ids.canonicalEntries]]) and a nested
    * entry is recognised by its magic bytes. `pkg`: the format may carry an
    * OOXML/ODF/EPUB package, whose body is the node's own text and whose
    * embedded parts alone spawn; the row is then a document row.
    */
  private def archive(kind: String, magic: Array[Byte] => Boolean,
                      unpack: (Array[Byte], Int) => Entries, pkg: Boolean = false): Container =
    Container(kind, document = pkg, (t, cfg) => {
      val es = unpack(t.bytes, cfg.maxSpanChars)
      (if (pkg) packageParts(es) else None) match {
        case Some(parts) =>
          new Node(graft.core.office.Ooxml.textFromEntries(es), entryKids(parts), canonicalOf(es))
        case None => new Node("", entryKids(es), canonicalOf(es))
      }
    }, magic)

  private def member(f: (Array[Byte], Int) => Archive.UnzippedEntry)
  : (Array[Byte], Int) => Entries = (b, max) => Vector(f(b, max))

  private def entryKids(es: Seq[Archive.UnzippedEntry]): Kids =
    (sp, pid, ord, lvl) => sp.entries(es, pid, ord, lvl)

  private def files(es: Seq[(String, Array[Byte])]): Kids =
    entryKids(es.map { case (n, b) => (n, Some(b)) })

  private def attachments(as: Seq[graft.core.office.Msg.Attachment]): Kids =
    (sp, pid, ord, lvl) => sp.each(as, ord)(sp.spawnAtt(_, pid, _, lvl))

  /** An Outlook message (.msg, a .pst item, an attached message): its body,
    * its attachments recursing; its id hashes its logical canonical fields
    * ([[graft.core.office.Msg.canonical]]), so property-stream encoding
    * never changes ids.
    */
  private def msgNode(m: graft.core.office.Msg.MsgDoc): Node =
    new Node(m.body, attachments(m.attachments), graft.core.office.Msg.canonical(m),
      guarded = true)

  private def canonicalOf(entries: Entries): String =
    Ids.canonicalEntries(entries.map { case (n, b) =>
      (n, b.map(x => new String(x, ISO_8859_1)).getOrElse(""))
    })

  // columnar dumps: one child per ROW (the jsonl contract); rows past the
  // breadth cap are read with headroom, then refused counted
  private def dumpRowCap(cfg: Config): Int = // overflow-safe headroom over the breadth guard
    if (cfg.maxSpans > Int.MaxValue - 64) Int.MaxValue else cfg.maxSpans + 64
  private def dump(rows: (Vector[String], Long)): Node =
    new Node("", (sp, pid, ord, lvl) => sp.dumpRows(rows._1, rows._2, pid, ord, lvl))

  private val Zip = archive("zip", Archive.isZip, Archive.unzip(_, _), pkg = true)

  /** Every container format, in nested detection order: the two Outlook
    * and OLE2 rows first (by magic, ahead of any archive), then the
    * magic-byte archive rows, then the sniffed ones. Adding a format takes
    * one row here, detected by its magic or by its
    * [[graft.sources.Ingest.sniffKind]] arm.
    */
  private val Containers: Vector[Container] = Vector(
    // Outlook mailbox: folders, messages, attachments, recovered and failed
    // entries hang below it (an encrypted pst reads encrypted)
    Container("pst", document = false, (t, cfg) => {
      val pst = graft.core.office.Pst.parse(t.bytes,
        graft.core.office.Pst.byteBudget(cfg.maxSpanChars))
      new Node("", (sp, pid, ord, lvl) => sp.pstNodes(pst, pid, ord, lvl))
    }, graft.core.office.Pst.isPst),
    // OLE2 compound file: an Outlook message, a legacy Office document
    // (.doc/.xls/.ppt: body, only its ObjectPool objects spawn) or a generic
    // compound file (every stream spawns), the last two identified by their
    // canonical streams. A password-protected OOXML package is transport for
    // the package the silent-open defaults (VelvetSweatshop, empty) decrypt;
    // a real password throws DecryptFailure, so ciphertext never explodes
    Container("cfb", document = true, (t, cfg) => {
      import graft.core.office.Msg
      val entries = graft.core.office.Cfb.streamEntries(t.bytes, cfg.maxSpanChars)
      if (Msg.isEncryptedOffice(entries))
        new Node("", null, as = graft.core.office.OoxmlCrypt.decryptDefault(entries))
      else if (Msg.isMsg(entries)) msgNode(Msg.parse(entries))
      else Msg.docText(entries) match {
        case Some(body) =>
          new Node(body, entryKids(entries.filter(_._1.startsWith("ObjectPool/"))),
            canonicalOf(entries))
        case None => new Node("", entryKids(entries), canonicalOf(entries))
      }
    }, graft.core.office.Cfb.isCfb),
    Zip,
    archive("tar", Archive.isTar, Archive.untar(_, _)),
    archive("7z", Archive.is7z, Archive.un7z(_, _)),
    // stored members spawn; compressed ones are counted refusals
    archive("rar", Rar.isRar, Rar.entries(_, _)),
    // unix archive (.deb): control.tar.gz/data.tar.xz chain through the
    // codec rows below
    archive("ar", Archive.isAr, Archive.unar(_, _)),
    archive("cpio", Archive.isCpio, Archive.uncpio(_, _)),
    // the package's FILES are its entries (rpm2cpio | cpio): the compressed
    // payload is transport framing, never a node — the same flattening
    // Tika's RpmParser applies
    archive("rpm", Archive.isRpm, Archive.rpmEntries(_, _)),
    // disk image: its files are path-named entries (Joliet names when the
    // supplementary descriptor announces them)
    archive("iso", Iso.isIso, Iso.entries(_, _)),
    // compiled help: topic files are path-named entries; the compressed
    // section LZX-decodes once for all of them
    archive("chm", Chm.isChm, Chm.entries(_, _)),
    // cabinet: each MSZIP folder inflates once for all of its files
    // (history carried across blocks)
    archive("cab", Cab.isCab, Cab.entries(_, _)),
    // single-member codecs: one entry (gzip names it from FNAME); a tar
    // payload then recurses below
    archive("gzip", Archive.isGzip, member(Archive.gunzip)),
    archive("zstd", Archive.isZstd, member(Archive.unzstd)),
    archive("bzip2", Archive.isBzip2, member(Archive.unbzip2)),
    archive("xz", Archive.isXz, member(Archive.unxz)),
    archive("compress", Archive.isCompressZ, member(Archive.uncompressZ)),
    archive("lzma", Archive.isLzma, member(Archive.unlzma)),
    archive("lz4", Archive.isLz4, member(Archive.unlz4)),
    archive("snappy", Archive.isSnappy, member(Archive.unsnappy)),
    // the envelope is transport: the data fork IS the file, one entry under
    // the envelope's real name (RFC 1740 entry 3)
    archive("applesingle", Apple.isAppleSingle, member(Apple.unwrap)),
    // each content-bearing web-archive record (response/resource) is an
    // entry: target URI as resource name, body sniffed like any ingested
    // file (html flows through the charset decode and boilerplate stripper)
    archive("warc", Warc.isWarc, (b, max) =>
      Warc.records(new String(b, ISO_8859_1), max).map(r => (r.targetUri, r.body))),
    // one JSON object per line = one logical document per line
    Container("jsonl", document = false, (t, _) =>
      new Node("", (sp, pid, ord, lvl) => sp.jsonlLines(t.text, pid, ord, lvl))),
    // RFC-822: body text; attachments are entries of the message
    // (RFC822Parser semantics), filename as resource name
    Container("eml", document = true, (t, _) => {
      val m = graft.core.mail.Eml.parse(t.text)
      new Node(m.body, files(m.attachments))
    }),
    Container("parquet", document = false, (t, cfg) => dump(graft.sources.ParquetDump.textRows(
      t.bytes, dumpRowCap(cfg), cfg.maxSpanChars))),
    Container("avro", document = false, (t, cfg) => dump(graft.sources.AvroDump.textRows(
      t.bytes, dumpRowCap(cfg), cfg.maxSpanChars))),
    // the database: one tabular child per user table, blob cells sniffed
    // and recursing below
    Container("sqlite", document = false, (t, cfg) => {
      val tabs = graft.core.db.Sqlite.tables(t.bytes, maxCells = dumpRowCap(cfg))
      new Node("", (sp, pid, ord, lvl) => sp.sqliteTables(tabs, pid, ord, lvl))
    }),
    // Apple binary plist: flat path:value rendering; NSData payloads
    // spawn as sniffed children, their dotted paths the resource names
    Container("plist", document = true, (t, _) => {
      val v = graft.core.db.Plist.parse(t.bytes)
      new Node(graft.core.db.Plist.text(v), (sp, pid, ord, lvl) =>
        files(graft.core.db.Plist.dataBlobs(v))(sp, pid, ord, lvl))
    }),
    // each mailbox message is a document child carrying its parsed
    // RFC-822 body, attachments recursing; ids hash the raw message chunk.
    // The split reads the BOM-less view the sniff detected the mailbox on
    // (a UTF-8 BOM read as ISO-8859-1)
    Container("mbox", document = false, (t, _) => {
      val messages = graft.core.mail.Mbox.split(t.text.stripPrefix("\u00ef\u00bb\u00bf"))
      new Node("", (sp, pid, ord, lvl) => sp.each(messages, ord)(sp.mboxMessage(_, pid, _, lvl)))
    }),
    // Apple Mail length-framed message: same shape as eml
    Container("emlx", document = true, (t, _) => {
      val m = graft.core.mail.Eml.parseEmlx(t.text)
      new Node(m.body, files(m.attachments))
    }),
    // RFC 2557 page save: root part through the HTML extractor (Tika
    // routes mhtml to HtmlParser); saved resources (images, stylesheets,
    // scripts) are its entries, named by their Content-Location's last
    // segment
    Container("mhtml", document = true, (t, _) => {
      val m = graft.core.mail.Mhtml.parse(t.text)
      new Node(HtmlExtractor.mainText(m.html), files(m.parts))
    }),
    // OneNote section: RichEditTextUnicode paragraphs; embedded
    // FileDataStoreObject payloads spawn as sniffed children named by
    // their index in the section
    Container("one", document = true, (t, _) => {
      val (txt, fs) = graft.core.office.OneNote.parse(t.bytes)
      new Node(txt, (sp, pid, ord, lvl) =>
        sp.each(fs, ord)((b, o) => sp.spawnEntry(s"fileData_${o - ord}", Some(b), pid, o, lvl)))
    }),
    // winmail.dat: body text; attachments spawn like a message's
    Container("tnef", document = true, (t, _) => {
      val m = graft.core.mail.Tnef.parse(t.bytes)
      new Node(m.body, attachments(m.attachments))
    }),
    // REAL PDF bytes, raw or filtered (Ingest). An /Encrypt trailer first
    // tries the standard security handler with the EMPTY user password
    // (owner-restricted files open silently, exactly as PDFBox does for
    // the reference); only a real user password (or a non-RC4 handler)
    // reads encrypted — content streams are ciphertext then, so the node
    // carries the reason, not garbage text, and spawns nothing. The page
    // images (image XObjects) are its children, the reference's
    // `embedded:imageN` HTML children
    Container("pdf_bytes", document = true, (t, _) => {
      import graft.core.pdf.{PdfCrypt, PdfMini}
      val clear =
        if (PdfMini.isEncryptedLatin1(t.text)) PdfCrypt.decryptEmptyUser(t.text) else Some(t.text)
      clear match {
        case Some(c) =>
          new Node(PdfMini.textFromLatin1(c), files(PdfMini.imageXObjects(c)),
            spanKind = "pdf_bytes")
        case None => new Node("", files(Nil), reason = Reason.Encrypted, spanKind = "pdf_bytes")
      }
    })
  )

  private val ContainerByKind: Map[String, Container] =
    Containers.iterator.map(c => c.kind -> c).toMap

  /** An OOXML/ODF/EPUB package's embedded parts — the entries that spawn
    * as children of the package document (EPUB: its OPF manifest's
    * image-typed items, not fixed path prefixes); None for a plain archive.
    * A package cut off by an encrypted part is one encrypted document,
    * never an empty one or a plain archive of its readable head.
    */
  private def packageParts(entries: Entries): Option[Entries] = {
    import graft.core.office.{Epub, Ooxml}
    val pkg = Ooxml.isPackageEntries(entries)
    if (entries.lastOption.exists(_._1 == Archive.EncryptedRemainder) &&
      (pkg || entries.exists(e => Ooxml.isPackageMarker(e._1))))
      throw new DecryptFailure("package entries cut off by an encrypted part")
    if (!pkg) None
    else if (Epub.isEpub(entries)) {
      val imgs = Epub.imageSet(entries)
      Some(entries.filter(e => imgs(e._1)))
    } else Some(entries.filter(e => Ooxml.isEmbeddedPart(e._1)))
  }

  /** Span kinds that spawn embedded children in [[explodeCounted]]: the
    * table's rows, plus `media` (the synthetic chain model), which spawns at
    * the root only.
    */
  private val ContainerKinds: Set[String] = ContainerByKind.keySet + "media"

  /** Cooperative per-document deadline check (the reference's parse-timeout
    * watchdog, `Extractor.java:620-648`, re-expressed as boundary checks —
    * Spark tasks can't be safely interrupted mid-parse, so the deadline is
    * tested between spans and before each embed spawn, exactly where the
    * reference aborts between embeds, `EmbedSpawner.java:353-356`).
    * `Long.MaxValue` = no deadline; the comparison is branch-predicted away
    * in the hot path.
    */
  @inline private def checkDeadline(deadlineNanos: Long): Unit =
    if (deadlineNanos != Long.MaxValue && System.nanoTime() > deadlineNanos)
      throw new ExtractTimeout("per-document deadline exceeded")

  /** Extract one document: spans routed in offset order, `order` densely
    * re-indexed (the positional-order invariant). Ties on offset keep input
    * array order (stable sort), so the output is deterministic.
    */
  def extractDoc(doc: DocIn, cfg: Config = DefaultConfig,
                 deadlineNanos: Long = Long.MaxValue): DocOut =
    route(Ids.rootId(doc.doc_id), sortedSpans(doc), cfg, deadlineNanos, null)

  /** A document's spans by offset. Null spans (a row written with
    * spans=NULL) are treated as an empty span array — reason=empty-file,
    * never a failure.
    */
  private def sortedSpans(doc: DocIn): Array[SpanIn] =
    if (doc.spans == null) Array.empty[SpanIn] else doc.spans.sortBy(_.offset)

  /** The routing pass of [[extractDoc]] over the offset-sorted spans, the
    * first `maxSpans` of them; `sp`, when given, keeps the children of the
    * document rows it parses.
    */
  private def route(rid: String, sorted: Array[SpanIn], cfg: Config, deadlineNanos: Long,
                    sp: Spawner): DocOut = {
    val n = if (cfg.maxSpans < sorted.length) math.max(cfg.maxSpans, 0) else sorted.length
    var anyContent = false
    var anyEncrypted = false
    var anyUnsupported = false
    val out = new Array[SpanOut](n)
    var i = 0
    while (i < n) {
      checkDeadline(deadlineNanos)
      val s = sorted(i)
      val (txt, why) = routeSpan(s.kind, s.text, cfg, markers = true, sp, i)
      if (txt.nonEmpty) anyContent = true
      if (why == Reason.Encrypted) anyEncrypted = true
      // the size-guard refusal of a SUPPORTED kind also reads Unsupported
      // at span level; an oversized text file is not an unsupported media
      // type, so only in-size refusals count toward the doc-level reason
      if (why == Reason.Unsupported && s.text != null &&
        s.text.length <= cfg.maxSpanChars) anyUnsupported = true
      out(i) = SpanOut(s.kind, txt, if (s.media_ref == null) "" else s.media_ref, i)
      i += 1
    }
    // doc-level reason: encrypted outranks unsupported outranks empty —
    // a document that is ONLY unparseable binary reports
    // unsupported-media-type exactly as the reference's FallbackParser
    // does for its garbage.bin fixture (`ExtractorTest.java` expects it);
    // empty-file stays reserved for genuinely content-less documents
    val reason =
      if (!anyContent && anyEncrypted) Reason.Encrypted
      else if (!anyContent && anyUnsupported) Reason.Unsupported
      else if (n == 0 || !anyContent) Reason.Empty
      else ""
    DocOut(rid, "", rid, 0, out, reason)
  }

  /** Embed explosion (the reference's flatMap, `EmbedSpawner.java:429-515`):
    * the root row plus the children of its container spans
    * ([[spawnContainers]]), RECURSIVELY and depth-first like the
    * reference's tikaDocumentStack DFS (archive-in-archive, msg-in-msg,
    * mail in a mailbox in a zip). A media span `chain:a>b>c` models such a
    * nest: it spawns child `a`, which spawns grandchild `b`, etc.
    *
    * Child ids are recursive content hashes (`DigestIdentifier.java:26-68`
    * via [[Ids.embedId]]) under per-parent ordinals
    * (`EmbedSpawner.java:264-281`); the root's ordinals run across its
    * spans. A content-less child still spawns, with the hash component
    * dropped and reason=empty-file. Children beyond `cfg.maxEmbedDepth`,
    * over the size guard or past the breadth guard are REFUSED before
    * recursion (`EmbedSpawner.java:55,389-402`) and counted on the root's
    * lineage via the returned skip count.
    */
  def explode(doc: DocIn, cfg: Config = DefaultConfig): Seq[DocOut] =
    explodeCounted(doc, cfg)._1

  /** As [[explode]], also returning the number of embeds the guards
    * skipped (the X-EXTRACT:embedsSkippedMaxDepth analog).
    */
  def explodeCounted(doc: DocIn, cfg: Config = DefaultConfig,
                     deadlineNanos: Long = Long.MaxValue): (Seq[DocOut], Int) = {
    val sorted = sortedSpans(doc)
    val sp = new Spawner(Ids.rootId(doc.doc_id), cfg, deadlineNanos, sorted.length)
    val root = route(sp.rootId, sorted, cfg, deadlineNanos, sp)
    spawnContainers(sorted, sp)
    (root +: sp.out.result(), sp.skipped)
  }

  /** XML-escape for entry names/text interpolated into the package markup —
    * the reference writes entries through an escaping XHTML content handler,
    * so entry CONTENT can never forge or break package-entry structure.
    */
  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** CONCATENATE embed mode (`EmbedParser.java:57-76`): embedded documents
    * are not spawned as rows — each is parsed INLINE and wrapped in a
    * package-entry division inside the parent's output
    * (`<div class="package-entry"><h1>name</h1>…`), nameless entries named
    * untitled_<ordinal>. A per-entry failure (encrypted, unparseable,
    * parser crash) is captured IN the entry (`<p class="error">reason</p>`)
    * and counted — the reference records it in the entry's metadata rather
    * than failing the parent. Returns (concatenated html, n failed entries).
    */
  def concatEmbeds(entries: Seq[(String, String)], cfg: Config = DefaultConfig)
  : (String, Int) = {
    var failed = 0
    val sb = new StringBuilder
    entries.zipWithIndex.foreach { case ((name, content), ord) =>
      val nm = xmlEscape(graft.core.Ids.embedName(name, ord, ord))
      val body =
        try {
          val (txt, why) = extractSpan("text", content, cfg)
          if (why.isEmpty) s"<p>${xmlEscape(txt)}</p>"
          else { failed += 1; s"""<p class="error">$why</p>""" }
        } catch {
          case _: Exception => failed += 1; """<p class="error">parse-error</p>"""
        }
      sb.append(s"""<div class="package-entry"><h1>$nm</h1>$body</div>""")
    }
    (sb.toString, failed)
  }

  /** Spawn the root's embedded children from its container spans, in
    * offset order: the spawn pass of [[explodeCounted]].
    *
    * Every kind of the [[Containers]] table spawns its node's children: they
    * hang under the root at level 1, ordinals running across the spans. A
    * document row's node comes from the routing pass's parse of the span;
    * the other rows, and spans the routing pass did not parse (oversized,
    * past `maxSpans`), parse here. A span the routing pass classified by
    * its `ENCRYPTED:` marker is no container payload and spawns nothing,
    * so both routes give the document the same status. An entry that is itself
    * a container becomes the same row's node (archives: id over its
    * canonical entries, [[Ids.canonicalEntries]]; parsed formats: id over
    * the raw bytes or their canonical content) whose own children recurse
    * depth-first through the same table. Only `media` (the synthetic chain
    * model, `chain:a>b` nests, ids from the raw content) spawns at the root
    * alone; nested, such bytes are plain text.
    *
    * Guards refuse BEFORE recursion (`EmbedSpawner.java:389-402`): depth,
    * declared/actual decompressed size, and breadth — refusals are counted,
    * never silent. A corrupt container throws ParseFailure, which the job
    * layer classifies to a lineage status (never a task failure).
    */
  private def spawnContainers(sorted: Array[SpanIn], sp: Spawner): Unit = {
    var ord = 0
    var i = 0
    while (i < sorted.length) {
      val s = sorted(i)
      val content = if (s.text == null) "" else s.text
      if (ContainerKinds(s.kind) && !content.startsWith(EncryptedMarker)) {
        ord =
          if (s.kind == "media") { sp.chain(content, sp.rootId, ord, 1); ord + 1 }
          else {
            // the container IS the parent document: its entries are the
            // root's children
            val kids = sp.kept(i) match {
              case null => topNode(ContainerByKind(s.kind), content, sp.cfg).kids
              case k => k
            }
            kids(sp, sp.rootId, ord, 1)
          }
      }
      i += 1
    }
  }

  /** The embed-spawning state of one document: the emitted nodes, the
    * refusal count, the breadth counter its guards read, and the children
    * the routing pass got for its `spans` sorted spans.
    */
  private final class Spawner(val rootId: String, val cfg: Config, deadlineNanos: Long,
                              spans: Int) {
    val out = Vector.newBuilder[DocOut]
    var skipped = 0
    private var spawned = 0
    private var parsed: Array[Kids] = null

    def keep(i: Int, k: Kids): Unit = {
      if (parsed == null) parsed = new Array[Kids](spans)
      parsed(i) = k
    }
    def kept(i: Int): Kids = if (parsed == null) null else parsed(i)

    private def guardsRefuse(level: Int, contentLen: Int): Boolean =
      level > cfg.maxEmbedDepth || contentLen > cfg.maxSpanChars ||
        spawned >= cfg.maxSpans

    /** Apply `f` to each item with its ordinal, from `ord`; returns the
      * next ordinal.
      */
    def each[A](xs: IterableOnce[A], ord: Int)(f: (A, Int) => Unit): Int = {
      var o = ord
      xs.iterator.foreach { x => f(x, o); o += 1 }
      o
    }

    /** Spawn each (name, bytes) entry sniffed like a file. */
    def entries(es: Seq[Archive.UnzippedEntry], parentId: String, ord: Int, level: Int): Int =
      each(es, ord)((e, o) => spawnEntry(e._1, e._2, parentId, o, level))

    // synthetic media chain (the original model)
    def chain(content: String, parentId: String, ord: Int, level: Int): Unit = {
      checkDeadline(deadlineNanos)
      if (guardsRefuse(level, content.length)) { skipped += 1; return }
      spawned += 1
      val (own, nested) =
        if (content.startsWith("chain:")) {
          val payload = content.substring(6)
          val gt = payload.indexOf('>')
          if (gt < 0) (payload, None) else (payload.substring(0, gt), Some(payload.substring(gt + 1)))
        } else (content, None)
      val cid = Ids.embedId(content, parentId, ord)
      val spans =
        if (own.isEmpty) Array.empty[SpanOut]
        else Array(SpanOut("text", own, "", 0))
      out += DocOut(cid, parentId, rootId, level,
        spans, if (own.isEmpty) Reason.Empty else "")
      nested.foreach(n => chain("chain:" + n, cid, 0, level + 1))
    }

    // emit one DOCUMENT node: the body as its single `kind` span, `why`
    // or else empty-file as the reason when bodyless — the shared emission
    // shape for parsed-format / nested-mail / jsonl-line / sniffed-file
    // children and for container nodes (empty body)
    private def emitDoc(cid: String, parentId: String, level: Int, body: String,
                        kind: String = "text", why: String = ""): Unit = {
      val spans =
        if (body.isEmpty) Array.empty[SpanOut] else Array(SpanOut(kind, body, "", 0))
      out += DocOut(cid, parentId, rootId, level, spans,
        if (body.nonEmpty) "" else if (why.nonEmpty) why else Reason.Empty)
    }

    // one JSONL line -> one child carrying its top-level "text" field; a
    // malformed or text-less line yields an empty child (per-line
    // resilience), never a parent failure. Identity hashes the TRIMMED
    // line — deliberately CRLF- and indent-insensitive, so the same
    // logical record gets the same id from an LF and a CRLF dump.
    def jsonlLines(content: String, parentId: String, startOrd: Int, level: Int): Int =
      each(content.split('\n').iterator.map(_.trim).filter(_.nonEmpty), startOrd) { (line, o) =>
        checkDeadline(deadlineNanos)
        if (guardsRefuse(level, line.length)) skipped += 1
        else {
          spawned += 1
          val txt = graft.core.text.Jsonl.textField(line).getOrElse("")
          emitDoc(Ids.embedId(line, parentId, o), parentId, level, txt)
        }
      }

    // one dump row -> one child: identity hashes the row's text value;
    // NULL rows are empty children; EVERY row past the breadth cap refuses
    // COUNTED — the ones read then guarded, and the declared remainder
    // the reader never materialized (footer row count is metadata)
    def dumpRows(rows: Vector[String], declaredTotal: Long,
                 parentId: String, startOrd: Int, level: Int): Int = {
      val o = each(rows, startOrd) { (txt, o) =>
        checkDeadline(deadlineNanos)
        if (guardsRefuse(level, txt.length)) skipped += 1
        else { spawned += 1; emitDoc(Ids.embedId(txt, parentId, o), parentId, level, txt) }
      }
      if (declaredTotal > rows.length) // clamp: a forged huge row count must not wrap the counter
        skipped += math.min(declaredTotal - rows.length, (Int.MaxValue - skipped).toLong).toInt
      o
    }

    // every user table of a SQLite database -> one tabular document child
    // (header + tab-joined rows, the csv/xls text shape); BLOB cells spawn
    // as sniffed embedded children below their table — Tika's
    // SQLite3Parser shape (tables as embedded documents, blobs nested).
    def sqliteTables(tabs: Vector[graft.core.db.Sqlite.Table],
                     parentId: String, startOrd: Int, level: Int): Int =
      each(tabs, startOrd) { (tab, o) =>
        checkDeadline(deadlineNanos)
        val txt = graft.core.db.Sqlite.tableText(tab)
        if (guardsRefuse(level, txt.length)) skipped += 1
        else {
          spawned += 1
          val cid = Ids.embedId(txt, parentId, o, resourceName = tab.name)
          emitDoc(cid, parentId, level, txt)
          var bi = 0
          tab.rows.foreach { r =>
            r.cells.zipWithIndex.foreach {
              case (graft.core.db.Sqlite.BlobCell(b), ci) =>
                spawnEntry(s"${tab.name}_r${r.rowid}_c$ci", Some(b), cid, bi, level + 1)
                bi += 1
              case _ => ()
            }
          }
        }
      }

    // one raw mbox message chunk -> an eml-shaped document child (body +
    // recursing attachments)
    def mboxMessage(raw: String, parentId: String, ord: Int, level: Int): Unit = {
      checkDeadline(deadlineNanos)
      if (guardsRefuse(level, raw.length)) { skipped += 1; return }
      spawned += 1
      val cid = Ids.embedId(raw, parentId, ord)
      // PER-MESSAGE isolation, parse before any emission: one encrypted
      // (S/MIME, PGP/MIME) or malformed message becomes ONE classified
      // failure child — never a mailbox-level failure that would drop
      // every other message (and, via the retryable NotDecrypted status,
      // re-fail the whole archive on every resume)
      val m =
        try graft.core.mail.Eml.parse(raw)
        catch {
          case _: graft.core.DecryptFailure =>
            out += DocOut(cid, parentId, rootId, level, Array.empty, Reason.Encrypted)
            return
          case _: graft.core.ParseFailure =>
            out += DocOut(cid, parentId, rootId, level, Array.empty, Reason.ParseFailed)
            return
        }
      emitDoc(cid, parentId, level, m.body)
      m.attachments.zipWithIndex.foreach { case ((n, b), i) =>
        spawnEntry(n, Some(b), cid, i, level + 1)
      }
    }

    /** A parsed node under `cid`: its body, then its children below. */
    private def emitNode(n: Node, cid: String, parentId: String, level: Int): Unit = {
      emitDoc(cid, parentId, level, n.body, n.spanKind, n.reason)
      n.kids(this, cid, 0, level + 1): Unit
    }

    // a node whose guards read its identity: a message (an attached one
    // recurses, the reference's `3rd-level-bug-732.msg` shape)
    private def spawnNode(n: Node, resourceName: String, parentId: String, ord: Int,
                          level: Int): Unit = {
      checkDeadline(deadlineNanos)
      if (guardsRefuse(level, n.identity.length)) { skipped += 1; return }
      spawned += 1
      emitNode(n, Ids.embedId(n.identity, parentId, ord, resourceName = resourceName),
        parentId, level)
    }

    /** One attachment of any message-shaped parse (.msg, .pst, TNEF):
      * files sniff like archive entries, nested messages recurse, and a
      * truncation STUB (OST-2013 recovery semantics) becomes a NAMED
      * content-less parse-failure child — the attachment is visibly lost
      * per document, never silently dropped and never a message failure
      * (`ResilientOutlookPSTParser.java:580-628`).
      */
    def spawnAtt(a: graft.core.office.Msg.Attachment, pid: String, ord: Int,
                 lvl: Int): Unit = a match {
      case graft.core.office.Msg.FileAtt(n, b) => spawnEntry(n, Some(b), pid, ord, lvl)
      case graft.core.office.Msg.MsgAtt(sub) => spawnNode(msgNode(sub), sub.subject, pid, ord, lvl)
      case graft.core.office.Msg.StubAtt(n, _) =>
        if (guardsRefuse(lvl, 0)) skipped += 1
        else {
          spawned += 1
          out += DocOut(Ids.embedId("", pid, ord, resourceName = n), pid, rootId,
            lvl, Array.empty, Reason.ParseFailed)
        }
    }

    // one parsed PST mailbox -> its folder tree as container nodes
    // (subfolders first, then messages/failures in node-B-tree order),
    // messages through the SHARED msgNode machinery so a message carries
    // the same logical-canonical id in a .pst as in a .msg; per-message
    // failures isolate as parse-failure children; messages unlinked from
    // every contents table land under a [recovered] node — the
    // reference's ResilientOutlookPSTParser semantics
    // (`ResilientOutlookPSTParser.java:71-320`). The top-level nodes take
    // ordinals from `ord` on; returns the next one.
    def pstNodes(pst: graft.core.office.Pst.PstFile, parentId: String, ord: Int, level: Int): Int = {
      checkDeadline(deadlineNanos)
      val Root = graft.core.office.Pst.RootFolderNid
      // tree keyed by NID, never by display-name paths: folder names may
      // contain '/', siblings may share a name, and a real folder may be
      // literally named "[recovered]" — none of those may misroute a
      // subtree. Orphan folders (parent nid not a folder) re-parent to
      // the root level rather than silently dropping their messages.
      val knownFolders = pst.folders.iterator.map(_.nid).toSet
      val subsOf = pst.folders.filter(_.nid != Root).groupBy { f =>
        // self-parented non-root folders are orphans too (longer parent
        // cycles already fail parse's depth-capped path computation)
        if (f.parentNid != f.nid && knownFolders.contains(f.parentNid)) f.parentNid else Root
      }
      val msgsOf = pst.messages.filter(!_.recovered).groupBy(_.folderNid)
      val failsOf = pst.failures.filter(!_.recovered).groupBy(_.folderNid)
      def emitMsgOrFail(item: Either[graft.core.office.Pst.Message, graft.core.office.Pst.MessageFailure],
                        pid: String, ord: Int, lvl: Int): Unit = item match {
        case Left(m) =>
          spawnNode(msgNode(graft.core.office.Msg.MsgDoc(m.subject, m.from, m.body,
            m.attachments)), m.subject, pid, ord, lvl)
        case Right(_) =>
          // content-less failure child: same breadth/depth guards as every
          // other spawn path (a bomb of cheap corrupt messages must cap)
          if (guardsRefuse(lvl, 0)) skipped += 1
          else {
            spawned += 1
            out += DocOut(Ids.embedId("", pid, ord), pid, rootId, lvl, Array.empty,
              Reason.ParseFailed)
          }
      }
      def items(fnid: Long) =
        (msgsOf.getOrElse(fnid, Vector.empty).map(m => (m.nid, Left(m))) ++
          failsOf.getOrElse(fnid, Vector.empty).map(f => (f.nid, Right(f))))
          .sortBy(_._1).map(_._2)
      def walkFolder(fnid: Long, pid: String, lvl: Int, first: Int): Int = {
        var ord = first
        subsOf.getOrElse(fnid, Vector.empty).foreach { f =>
          checkDeadline(deadlineNanos)
          if (guardsRefuse(lvl, f.name.length)) skipped += 1
          else {
            spawned += 1
            val cid = Ids.embedId(f.name, pid, ord, resourceName = f.name)
            emitDoc(cid, pid, lvl, "")
            walkFolder(f.nid, cid, lvl + 1, 0): Unit
          }
          ord += 1
        }
        items(fnid).foreach { it => emitMsgOrFail(it, pid, ord, lvl); ord += 1 }
        ord
      }
      val rootOrd = walkFolder(Root, parentId, level, ord)
      val recovered =
        pst.messages.filter(_.recovered).map(m => (m.nid, Left(m))) ++
          pst.failures.filter(_.recovered).map(f => (f.nid, Right(f)))
      if (recovered.nonEmpty) {
        if (guardsRefuse(level, "[recovered]".length)) skipped += recovered.size + 1
        else {
          spawned += 1
          val recId = Ids.embedId("[recovered]", parentId, rootOrd, resourceName = "[recovered]")
          emitDoc(recId, parentId, level, "")
          recovered.sortBy(_._1).map(_._2).zipWithIndex.foreach { case (it, i) =>
            emitMsgOrFail(it, recId, i, level + 1)
          }
        }
      }
      if (recovered.nonEmpty) rootOrd + 1 else rootOrd
    }

    // one REAL archive entry -> one child document: a container format
    // (a row of the Containers table) becomes that row's node, a container
    // or a document (a docx: body text + its embedded parts) whose children
    // recurse; anything else SNIFFS its kind and extracts like a top-level
    // file (rtf/html/text/bin)
    def spawnEntry(name: String, bytes: Option[Array[Byte]], parentId: String,
                   ord: Int, level: Int): Unit = {
      checkDeadline(deadlineNanos)
      val declaredLen = bytes.map(_.length).getOrElse(Int.MaxValue) // None = size guard refused
      if (bytes.isEmpty || guardsRefuse(level, declaredLen)) { skipped += 1; return }
      spawned += 1
      val data = bytes.get
      if (graft.core.office.Ole.isOle10Name(name)) {
        // OLE packager stream: pure transport — the wrapped file spawns
        // sniffed under its LABEL (the recursive_embedded.docx chain);
        // an unparseable packager falls through to the generic spawn.
        // Unwrapping loops HERE (hop-capped) instead of recursing, so a
        // crafted packager-in-packager chain can never bypass the depth
        // guard or overflow the stack
        var label = name
        var payload = data
        var hops = 0
        var more = graft.core.office.Ole.tryUnwrap(payload)
        while (more.isDefined && hops < 4) {
          label = more.get._1; payload = more.get._2; hops += 1
          more = if (graft.core.office.Ole.isOle10Name(label))
            graft.core.office.Ole.tryUnwrap(payload) else None
        }
        if (hops > 0 && !graft.core.office.Ole.isOle10Name(label)) {
          spawned -= 1
          spawnEntry(label, Some(payload), parentId, ord, level)
          return
        }
      }
      // per-entry isolation for every parse below (reference EmbedSpawner
      // catches per embed): a ParseFailure/DecryptFailure from THIS
      // entry's parse becomes a content-less failure child — never a
      // parent failure, and never a duplicate node (each branch parses
      // before its first emission, and recursion into children isolates
      // at the child's own frame). Deadline/VM errors still propagate.
      def entryFailure(reason: String): Unit =
        out += DocOut(
          Ids.embedId(new String(data, ISO_8859_1), parentId, ord, resourceName = name),
          parentId, rootId, level, Array.empty, reason)
      try {
        // the entry NAME rides into the sniff as the same tiebreaker the
        // real file walk uses (a data.csv zip entry routes as csv)
        lazy val sniffed = graft.sources.Ingest.sniffKind(data, name)
        Containers.find(_.detect(data, sniffed)) match {
          case Some(c) =>
            // a nested container (tar/7z/... in a zip, eml-in-zip, mbox.gz,
            // msg-in-zip, a PDF or docx attachment): parse BEFORE the first
            // emission, then the row's node, children one level down.
            // Identity hashes the raw bytes like any other nested file,
            // unless the node names its own. A transport payload re-enters
            // as the bytes it carries, and a guarded node re-runs the guards
            // on its identity (both undo this entry's count)
            val n = c.parse(new Payload(c.kind, null, data), cfg)
            if (n.as != null) {
              spawned -= 1
              spawnEntry(name, Some(n.as), parentId, ord, level)
            } else if (n.guarded) {
              spawned -= 1
              spawnNode(n, name, parentId, ord, level)
            } else {
              val id = if (n.identity != null) n.identity else new String(data, ISO_8859_1)
              emitNode(n, Ids.embedId(id, parentId, ord, resourceName = name), parentId, level)
            }
          case None =>
            // content IDENTITY hashes the raw bytes (byte-transparent
            // ISO-8859-1 mapping); a lossy UTF-8 id would collide two
            // distinct binary payloads onto one replacement-char string.
            // The entry's KIND is sniffed like a top-level file (magic
            // bytes), so an rtf/pdf/html nested in an archive extracts the
            // same clean text it would standalone instead of leaking markup
            val kind = sniffed
            val payload = graft.sources.Ingest.decodePayload(kind, data)
            // markers=false: failure-injection markers are a top-level-span
            // contract; untrusted entry BYTES must never fail/hang the parent
            val (txt, why) = extractSpan(kind, payload, cfg, markers = false)
            emitDoc(Ids.embedId(new String(data, ISO_8859_1), parentId, ord, resourceName = name),
              parentId, level, txt, kind, why)
        }
      } catch {
        case _: graft.core.DecryptFailure => entryFailure(Reason.Encrypted)
        case _: graft.core.ParseFailure => entryFailure(Reason.ParseFailed)
      }
    }
  }
}
