package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{DocIn, SpanIn}

/** Real byte-stream ingestion — the reference's file-walk + MIME-sniff front
  * end (`Extractor.java:937` AutoDetectParser magic-byte detection) for the
  * span model: a directory of real files becomes DocIn rows whose span kind
  * is sniffed from leading bytes, with PDF bytes routed to the real
  * [[graft.core.pdf.PdfMini]] parser and HTML/text decoded as UTF-8.
  *
  * Bytes ride in `SpanIn.text` as ISO-8859-1 (a lossless byte<->char
  * codec), so the existing string span model carries binary payloads
  * unchanged — the kind tells the router how to decode.
  */
object Ingest {

  /** Leading STRONG mail-header line — the content-based RFC-822
    * detection Tika applies to extensionless mail, restricted to headers
    * prose essentially never opens with ("To: whoever" starts plenty of
    * plain notes; "Received:"/"Return-Path:" do not).
    */
  private val MailHeadRe =
    "(?i)^(received|return-path|delivered-to|message-id|mime-version):".r
  // any RFC-822 header-shaped line — only ever combined with a stronger
  // structural check (multipart/related for mhtml), never mail-routing alone
  private val HeaderLineRe = "(?i)^[a-z][a-z0-9-]*:".r

  /** Magic-byte MIME sniff (public magic numbers): %PDF -> pdf_bytes,
    * <!doctype/<html -> html, PK\x03\x04 -> zip container (exploded to
    * children by Extract.explode), 1f 8b -> gzip,
    * mostly-printable -> text, else bin.
    */
  def sniffKind(bytes: Array[Byte]): String = sniffKind(bytes, "")

  /** CMS/PKCS#7 DER sniff (smime.p7m bodies): an ASN.1 SEQUENCE whose
    * pkcs7 content-type OID arc (1.2.840.113549.1.7.x) appears in the
    * head. 2 = EnvelopedData (x=3, key-gated ciphertext) or the S/MIME
    * AuthEnvelopedData arc; 1 = any other CMS (SignedData etc.); 0 = not
    * CMS.
    */
  private def cmsKind(bytes: Array[Byte]): Int = {
    if (bytes.length < 12 || bytes(0) != 0x30) return 0
    val arc = Array[Byte](0x2a, 0x86.toByte, 0x48, 0x86.toByte, 0xf7.toByte, 0x0d, 0x01, 0x07)
    val authArc = Array[Byte](0x2a, 0x86.toByte, 0x48, 0x86.toByte, 0xf7.toByte, 0x0d,
      0x01, 0x09, 0x10, 0x01, 0x17) // 1.2.840.113549.1.9.16.1.23 AuthEnvelopedData
    val n = math.min(bytes.length, 32)
    var i = 1
    while (i < n) {
      if (i + authArc.length <= bytes.length &&
        authArc.indices.forall(k => bytes(i + k) == authArc(k))) return 2
      if (i + arc.length < bytes.length &&
        arc.indices.forall(k => bytes(i + k) == arc(k)))
        return if (bytes(i + arc.length) == 0x03) 2 else 1
      i += 1
    }
    0
  }

  /** As [[sniffKind]], with the file/entry NAME as a tiebreaker for
    * text-like formats magic bytes cannot distinguish (.csv tables, .eml
    * mail) — the reference's Tika detection combines magic and filename
    * the same way (`Extractor.java:937`).
    */
  def sniffKind(bytes: Array[Byte], name: String): String = {
    // a UTF-8 BOM blinds every head magic (a BOM'd HTML file would read
    // as plain text): detection runs on the BOM-less view, exactly as
    // Tika strips it before its detectors. BOMs only front text-like
    // files, so the copy is small in practice
    if (bytes.length >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte &&
      bytes(2) == 0xbf.toByte)
      return sniffKind(java.util.Arrays.copyOfRange(bytes, 3, bytes.length), name)
    def startsWith(sig: Array[Byte]): Boolean =
      bytes.length >= sig.length && sig.indices.forall(i => bytes(i) == sig(i))
    val lowerHead = new String(bytes.take(64), StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    if (startsWith("%PDF".getBytes(StandardCharsets.ISO_8859_1))) "pdf_bytes"
    else if (startsWith("{\\rtf".getBytes(StandardCharsets.ISO_8859_1))) "rtf"
    else if (lowerHead.startsWith("<!doctype") || lowerHead.startsWith("<html")) "html"
    else if (startsWith(Array[Byte](0x50, 0x4b, 0x03, 0x04))) "zip"
    else if (startsWith(Array[Byte](0x1f, 0x8b.toByte))) "gzip"
    else if (Warc.isWarc(bytes)) "warc"      // ISO 28500 web archive (Common Crawl)
    else if (Archive.isZstd(bytes)) "zstd"   // RFC 8878 frame (.zst corpora)
    else if (Archive.isXz(bytes)) "xz"       // xz stream (.xz tarball era)
    else if (Archive.isCompressZ(bytes)) "compress" // unix compress .Z (LZW)
    else if (Archive.isLzma(bytes)) "lzma"   // LZMA-alone (.lzma, pre-xz)
    else if (Archive.isLz4(bytes)) "lz4"     // LZ4 frame
    else if (Archive.isSnappy(bytes)) "snappy" // snappy framed (.sz Hadoop era)
    else if (Archive.is7z(bytes)) "7z"       // 7-Zip archive
    else if (Rar.isRar(bytes)) "rar"         // RAR 4.x / 5.x archive
    else if (Archive.isBzip2(bytes)) "bzip2" // classic dump archives
    else if (Archive.isAr(bytes)) "ar"       // unix ar / .deb outer container
    else if (Archive.isCpio(bytes)) "cpio"   // newc cpio (initramfs / rpm payload)
    else if (Archive.isRpm(bytes)) "rpm"     // rpm package (lead + headers + cpio)
    else if (ParquetDump.isParquet(bytes)) "parquet" // columnar corpus dump (PAR1..PAR1)
    else if (AvroDump.isAvro(bytes)) "avro" // Avro object container dump (Obj\x01)
    else if (graft.core.office.Pst.isPst(bytes)) "pst" // Outlook mailbox (!BDN, MS-PST)
    else if (graft.core.mail.Tnef.isTnef(bytes)) "tnef" // winmail.dat (MS-OXTNEF)
    else if (cmsKind(bytes) == 2 ||
      lowerHead.startsWith("-----begin pgp message")) "smime_enc" // key-gated ciphertext (CMS EnvelopedData / PGP armor)
    else if (cmsKind(bytes) == 1) "smime" // other CMS (opaque SignedData etc.): refuses, never garbage
    else if (Apple.isAppleSingle(bytes)) "applesingle" // RFC 1740 envelope (Mac data fork + metadata)
    else if (graft.core.office.Cfb.isCfb(bytes)) "cfb" // OLE2 compound file (.msg/.doc era)
    else if (graft.core.db.Sqlite.isSqlite(bytes)) "sqlite" // SQLite database (Tika SQLite3Parser surface)
    else if (graft.core.db.Plist.isBplist(bytes)) "plist" // Apple binary property list (bplist00)
    else if (graft.core.db.Dbf.isDbf(bytes)) "dbf" // dBase table (xBase, Tika DBFParser surface)
    else if (graft.core.office.Wpd.isWpd(bytes)) "wpd" // WordPerfect document (0xFF WPC)
    else if (graft.core.office.Lnk.isLnk(bytes)) "lnk" // Windows shell link (MS-SHLLINK)
    else if (graft.core.media.Probe.isPng(bytes) || graft.core.media.Probe.isJpeg(bytes) ||
      graft.core.media.Probe.isGif(bytes) || graft.core.media.Probe.isTiff(bytes) ||
      graft.core.media.Probe.isWebp(bytes) || graft.core.media.Probe.isBmp(bytes) ||
      graft.core.media.Probe.isIco(bytes) || graft.core.media.Probe.isPnm(bytes) ||
      graft.core.media.Probe.isJp2(bytes) || graft.core.media.Probe.isEmf(bytes) ||
      graft.core.media.Probe.isWmf(bytes)) "image" // raster image: header metadata, no text without OCR
    else if (graft.core.media.Probe.isMp4(bytes) || graft.core.media.Probe.isMp3(bytes) ||
      graft.core.media.Probe.isRiffAv(bytes)) "av" // audio/video container: duration/rate metadata
    else if (Chm.isChm(bytes)) "chm"       // compiled HTML help (ITSS + LZX)
    else if (Cab.isCab(bytes)) "cab"       // Microsoft cabinet (MSZIP folders)
    else if (graft.core.office.OneNote.isOne(bytes)) "one" // OneNote revision store
    else if (Iso.isIso(bytes)) "iso"       // ISO 9660 disk image (ECMA-119)
    else if (Archive.isTar(bytes)) "tar"
    else if (hasUtf16Bom(bytes)) "text" // UTF-16 BOM: decoded per-charset below
    else if (graft.core.text.Jsonl.looksJsonl(bytes)) "jsonl" // one JSON object per line (corpus dumps)
    else {
      // UNSIGNED byte compare: JVM bytes are signed, so `b >= 0x20` would
      // class every UTF-8 multi-byte sequence (>= 0x80) as non-printable
      // and silently drop non-ASCII text corpora as 'bin'
      val probe = bytes.take(512)
      def printable(b: Byte): Boolean = {
        val u = b & 0xff
        u >= 0x20 || u == '\n' || u == '\r' || u == '\t'
      }
      if (probe.nonEmpty && probe.count(printable) * 10 >= probe.length * 9) {
        val lname = name.toLowerCase(java.util.Locale.ROOT)
        val firstLine = lowerHead.takeWhile(c => c != '\r' && c != '\n')
        if (lname.endsWith(".csv")) "csv"
        // browser page saves: .mht name, or a mail-shaped head whose
        // Content-Type is multipart/related (RFC 2557) — checked BEFORE
        // eml so the root part routes to the HTML extractor, not the
        // mail body path
        else if (lname.endsWith(".mht") || lname.endsWith(".mhtml")) "mhtml"
        // an explicit .eml name outranks the postmark: Thunderbird saves
        // single messages with a leading "From - <asctime>" line, which
        // would otherwise reclassify the file as a one-message mailbox
        else if (lname.endsWith(".eml")) "eml"
        // Apple Mail message store: "<len>\n" framing ahead of the headers
        else if (lname.endsWith(".emlx") || graft.core.mail.Eml.isEmlx(
          new String(bytes.take(64), StandardCharsets.ISO_8859_1))) "emlx"
        else if (graft.core.mail.Mbox.isMbox(new String(bytes.take(128),
          StandardCharsets.ISO_8859_1))) "mbox" // postmark before header sniff
        // extensionless browser save: ANY header-shaped first line (Chrome
        // leads with the weak "From: <Saved by ...>") + multipart/related
        // in the header block. Checked before eml so the root part routes
        // to the HTML extractor, not the mail body path
        else if (HeaderLineRe.findPrefixOf(firstLine).isDefined &&
          graft.core.mail.Mhtml.isMhtml(new String(bytes.take(2048),
            StandardCharsets.ISO_8859_1))) "mhtml"
        else if (MailHeadRe.findPrefixOf(firstLine).isDefined) "eml"
        else if (graft.core.text.Contact.isVcard(lowerHead)) "vcard"
        else if (graft.core.text.Contact.isIcs(lowerHead)) "ics"
        else {
          // declaration-led documents: the sniff reads the full 512-byte
          // probe — an XHTML <html> root sits past the 64-byte head when
          // the declaration + DOCTYPE are long, and must keep routing as
          // html; any other <?xml document is standalone XML
          val probeLower = new String(probe, StandardCharsets.ISO_8859_1)
            .toLowerCase(java.util.Locale.ROOT)
          if (graft.core.text.Xml.isXml(probeLower)) "xml"
          else if (probeLower.dropWhile(Character.isWhitespace).startsWith("<?xml") &&
            probeLower.contains("<html")) "html"
          else "text"
        }
      }
      else "bin"
    }
  }

  /** UTF-16 byte-order mark, either endianness (the reference's
    * utf16-txt fixture route: Tika's charset detection; we detect by BOM).
    */
  def hasUtf16Bom(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 &&
      ((bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte) ||
        (bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte))

  /** Charset-aware text decode: UTF-16 (BOM-detecting, either endianness,
    * BOM stripped by the JDK decoder) when a BOM is present, else UTF-8.
    * A UTF-8 BOM (EF BB BF) is stripped too — the JDK's UTF-8 decoder
    * deliberately keeps it as U+FEFF, which would otherwise lead every
    * BOM'd Windows text file with an invisible char (Tika strips it).
    */
  def decodeText(bytes: Array[Byte]): String =
    if (hasUtf16Bom(bytes)) new String(bytes, StandardCharsets.UTF_16)
    else {
      val s = new String(bytes, StandardCharsets.UTF_8)
      if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
    }

  /** Declared-charset sniff for HTML bytes (Tika's HtmlEncodingDetector):
    * a `charset=` token — `<meta charset="...">` or the http-equiv
    * `content="text/html; charset=..."` form — in the first 1 KiB. An
    * unknown/unsupported name falls back to the default decode rather
    * than failing the document.
    */
  private val MetaTagRe = "(?i)<meta[^>]*>".r
  private val CharsetRe = "(?i)charset=[\"']?([A-Za-z0-9_:.\\-]+)".r
  def htmlCharset(bytes: Array[Byte]): Option[java.nio.charset.Charset] = {
    if (hasUtf16Bom(bytes)) return None // BOM outranks the meta declaration
    val window = math.min(bytes.length, 1024)
    val head = new String(bytes, 0, window, StandardCharsets.ISO_8859_1)
    // only a charset token INSIDE a <meta> tag counts (Tika's
    // HtmlEncodingDetector scope) — a 'charset=' in a URL or script text
    // must not hijack the decode; and a token abutting the window edge
    // may be TRUNCATED mid-name (charset=iso-8859-15 cut to ...-1), so
    // it is rejected rather than honored wrong
    MetaTagRe.findAllMatchIn(head).flatMap { tag =>
      CharsetRe.findFirstMatchIn(tag.matched).filter { m =>
        tag.start + m.end(1) < window || bytes.length <= window
      }.map(_.group(1))
    }.flatMap { name =>
      try Some(java.nio.charset.Charset.forName(name))
      catch { case _: IllegalArgumentException => None }
    }.nextOption()
  }

  /** Kind-appropriate payload decode, shared by the top-level walk
    * ([[readDir]]), the streaming walk, and nested archive-entry spawning
    * — one place, so a charset fix can never silently diverge between
    * paths: HTML honors its declared meta charset, other textual kinds
    * decode per-BOM/UTF-8, everything else rides byte-transparent
    * ISO-8859-1.
    */
  def decodePayload(kind: String, bytes: Array[Byte]): String = kind match {
    case "html" =>
      val t = htmlCharset(bytes).map(new String(bytes, _)).getOrElse(decodeText(bytes))
      if (t.nonEmpty && t.charAt(0) == '\uFEFF') t.substring(1) else t
    case "text" | "jsonl" | "csv" | "vcard" | "ics" | "xml" => decodeText(bytes)
    // NOT eml: MIME is byte-transparent latin1 on purpose — base64
    // attachment decoding needs the raw octets
    case _ => new String(bytes, StandardCharsets.ISO_8859_1) // lossless bytes
  }

  /** Stable 63-bit doc id from the file path (content-independent, so
    * re-ingesting a changed file keeps its identity — the reference's
    * path-derived ids).
    */
  def pathId(path: String): Long = {
    val h = graft.core.Ids.sha256(path)
    java.lang.Long.parseUnsignedLong(h.substring(0, 15), 16)
  }

  /** OS-junk names the reference's SystemFileMatcher
    * (`io/file/SystemFileMatcher.java`) excludes from the walk.
    */
  val SystemFileNames: Set[String] = Set(
    ".DS_Store", "Thumbs.db", "ehthumbs.db", "desktop.ini",
    "lost+found", "$RECYCLE.BIN", "System Volume Information")

  /** Hidden/system predicate on a path (PosixHiddenFileMatcher +
    * SystemFileMatcher semantics): dotfiles, Office lock files (~$),
    * and the OS-junk name set.
    */
  def isHiddenOrSystem(path: String): Boolean = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name.startsWith(".") || name.startsWith("~$") || SystemFileNames.contains(name)
  }

  /** One real file -> one DocIn: sniffed kind, kind-appropriate decode,
    * path-derived id. Shared by the batch walk ([[readDir]]) and the
    * streaming walk ([[graft.streaming.StreamJob.ingestStream]]) so the
    * two can never diverge on sniffing or charset rules.
    */
  def toDocIn(path: String, bytes: Array[Byte]): DocIn = {
    val kind = sniffKind(bytes, path.substring(path.lastIndexOf('/') + 1))
    DocIn(pathId(path), Array(SpanIn(kind, decodePayload(kind, bytes), "", 0)))
  }

  /** The hidden/system junk predicate as a Column over a `path` column
    * (shared batch/stream): OS-junk names, dotfiles, Office lock files.
    */
  def junkNameFilter(path: org.apache.spark.sql.Column,
                     root: String = ""): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{exists, regexp_replace, split}
    // EVERY path component BELOW the scan root is checked, not just the
    // file name: a clean-named file under `lost+found/` (or any
    // dot-directory) is system junk — the reference's matchers test each
    // Path element the same way. Components above the root never match
    // (a corpus legitimately rooted under a dot-directory still scans).
    val below =
      if (root.isEmpty) path
      else {
        // the root may be a plain path OR a URI (file:/..., hdfs://nn/...):
        // strip any scheme, keep the authority+path, and only resolve
        // relative plain paths against the cwd — a URI-form root must
        // never be glued onto the working directory
        val hasScheme = root.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")
        val raw =
          if (hasScheme) root.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:(//)?", "")
          else root
        val abs =
          if (hasScheme || raw.startsWith("/")) raw
          else new java.io.File(raw).getAbsolutePath
        // normalize away any trailing slash BEFORE quoting: a scheme'd
        // root like `file:/x/` keeps its slash (File.getAbsolutePath
        // never ran), the pattern would end `//` and never match, and
        // every component ABOVE the root would get junk-checked — a
        // corpus rooted under a dot-directory would ingest zero files
        val absNorm = abs.stripSuffix("/")
        regexp_replace(path,
          "^([A-Za-z][A-Za-z0-9+.\\-]*:(//)?)?" +
            java.util.regex.Pattern.quote(absNorm) + "/", "")
      }
    exists(split(below, "/"), p =>
      p.startsWith(".") || p.startsWith("~$") ||
        p.isin(SystemFileNames.toSeq: _*))
  }

  /** The binaryFile source's fixed schema — streaming reads require it
    * declared up front (a streaming source cannot infer).
    */
  val BinaryFileSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
  }

  /** Ingest a directory of real files via Spark's binaryFile source: one
    * DocIn per file, one span of the sniffed kind. Distributed read —
    * binaryFile splits files across partitions by size.
    *
    * Hidden/system exclusion (the reference's Posix/Dos hidden +
    * SystemFileMatcher walk filters): names starting with '.' or '_' are
    * already dropped by Spark's FILE INDEX at listing time (scan-level,
    * before any read); `excludeHidden` additionally filters OS-junk names
    * (Thumbs.db, desktop.ini, ~$ lock files, ...) as a path predicate
    * before decode. Globs push down via pathGlobFilter.
    */
  def readDir(spark: SparkSession, dir: String, glob: String = "*",
              excludeHidden: Boolean = true): Dataset[DocIn] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, not}
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true") // the reference Scanner WALKS (Scanner.java visitor)
      .load(dir)
    val kept =
      if (excludeHidden) base.filter(not(junkNameFilter(col("path"), dir))) else base
    kept
      .select("path", "content")
      .as[(String, Array[Byte])]
      .map { case (path, bytes) => toDocIn(path, bytes) }
  }
}
