package graft.core.pdf

import scala.collection.mutable.ArrayBuffer

/** Minimal REAL-PDF text extractor (PDF 1.x is a published ISO format; this
  * parses the text-showing subset the reference exercises through PDFBox:
  * content streams, BT/ET text objects, Td/TD/Tm/T* positioning, Tj/TJ/'/"
  * show operators, literal strings with escapes). Content streams may be
  * raw or carry a `/Filter` chain — the full PDF 7.4 text-stream filter set
  * is decoded from scratch: FlateDecode (DEFLATE via the JDK Inflater),
  * ASCIIHexDecode, ASCII85Decode, RunLengthDecode, and LZWDecode (the TIFF
  * variant with early change), singly or as an array applied in order
  * (`[/ASCII85Decode /FlateDecode]`, the classic mail-safe double coding).
  * Image filters (DCTDecode/JPXDecode/CCITTFaxDecode) mark the stream as
  * non-text and it is skipped. No object/xref resolution is attempted
  * beyond locating stream payloads and their owning dictionary.
  *
  * Reading order mirrors [[PdfLayout]]: lines sorted by descending y (PDF's
  * y axis points up), then x; text chunks on one line ordered by x.
  */
object PdfMini {

  def text(bytes: Array[Byte]): String =
    textFromLatin1(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))

  private final case class Chunk(y: Double, x: Double, text: String)

  /** Zip-bomb guard: a Flate stream (and an HWP body section) may not
    * inflate past this (the reference's declared-size guard,
    * `EmbedSpawner.java:393-402`, applied to the decode itself). 64 MB,
    * matching Extract.Config.maxSpanChars.
    */
  val MaxInflatedBytes: Int = 64 << 20

  /** Inflate a DEFLATE payload; None on malformed/truncated data or when
    * the output would exceed [[MaxInflatedBytes]] (never throws — malformed
    * real-world input must degrade, not fail the task).
    */
  def inflate(data: Array[Byte]): Option[Array[Byte]] =
    try Some(graft.core.Bin.inflate(data, nowrap = false, MaxInflatedBytes))
    catch { case _: graft.core.ParseFailure => None }

  /** ASCIIHexDecode (PDF 7.4.2): hex pairs, whitespace ignored, `>` ends
    * the stream, an odd trailing digit is padded with 0. None on any
    * non-hex character.
    */
  def asciiHexDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4) // odd final digit: low nibble 0
        return Some(out.toByteArray)
      } else if (!c.isWhitespace) {
        val v = Character.digit(c, 16)
        if (v < 0) return None
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    Some(out.toByteArray) // missing EOD tolerated (real-world truncation)
  }

  /** ASCII85Decode (PDF 7.4.3): 5 chars in `!`..`u` become 4 bytes base-85;
    * `z` is shorthand for 4 zero bytes (only between groups); `~>` ends the
    * stream; a trailing partial group of n chars yields n-1 bytes (padded
    * with `u`). None on out-of-range characters or a 1-char final group.
    */
  def ascii85Decode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var k = 0
    var i = 0
    def flush(n: Int): Boolean = { // n group chars -> n-1 bytes
      if (n < 2) return false
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + (if (j < n) grp(j) else 84); j += 1 } // pad 'u'
      if (v > 0xffffffffL) return false
      var b = 0
      while (b < n - 1) { out.write(((v >>> (24 - 8 * b)) & 0xff).toInt); b += 1 }
      true
    }
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      if (c == '~') { // EOD
        if (k == 1) return None
        if (k > 0 && !flush(k)) return None
        return Some(out.toByteArray)
      } else if (c == 'z' && k == 0) out.write(Array[Byte](0, 0, 0, 0))
      else if (c >= '!' && c <= 'u') {
        grp(k) = c - '!'; k += 1
        if (k == 5) { if (!flush(5)) return None; k = 0 }
      } else if (!c.isWhitespace) return None
      i += 1
    }
    if (k == 1) return None
    if (k > 0 && !flush(k)) return None
    Some(out.toByteArray) // missing ~> tolerated
  }

  /** RunLengthDecode (PDF 7.4.5): length byte 0..127 copies the next L+1
    * bytes; 129..255 repeats the next byte 257-L times; 128 is EOD. None
    * on truncation.
    */
  def runLengthDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val l = data(i) & 0xff
      if (l == 128) return Some(out.toByteArray)
      else if (l < 128) {
        if (i + 1 + l + 1 > data.length) return None
        out.write(data, i + 1, l + 1); i += l + 2
      } else {
        if (i + 1 >= data.length) return None
        var r = 257 - l
        while (r > 0) { out.write(data(i + 1)); r -= 1 }
        i += 2
      }
      if (out.size() > MaxInflatedBytes) return None
    }
    Some(out.toByteArray) // missing EOD tolerated
  }

  /** LZWDecode (PDF 7.4.4, the TIFF variant): 9-bit codes growing to 12,
    * 256 = clear table, 257 = EOD, early-change code-width bump (width
    * increments when the NEXT entry would need it, i.e. at table size
    * 2^w - 1). None on malformed code sequences or width overflow.
    */
  def lzwDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 3)
    val dict = new ArrayBuffer[Array[Byte]](4096)
    def reset(): Unit = {
      dict.clear()
      var i = 0
      while (i < 256) { dict += Array(i.toByte); i += 1 }
      dict += null; dict += null // 256 clear, 257 EOD
    }
    reset()
    var width = 9
    var prev: Array[Byte] = null
    var acc = 0L; var bits = 0
    var i = 0
    while (i <= data.length) {
      // top up the bit accumulator before pulling the next code
      while (bits < width && i < data.length) {
        acc = (acc << 8) | (data(i) & 0xff); bits += 8; i += 1
      }
      if (bits < width) return Some(out.toByteArray) // trailing pad bits
      val code = ((acc >>> (bits - width)) & ((1 << width) - 1)).toInt
      bits -= width
      if (code == 257) return Some(out.toByteArray)
      else if (code == 256) { reset(); width = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (code < dict.length) dict(code)
          else if (code == dict.length && prev != null) prev :+ prev(0)
          else return None // code beyond table: malformed
        out.write(entry, 0, entry.length)
        if (out.size() > MaxInflatedBytes) return None
        if (prev != null) {
          if (dict.length >= 4096) return None // missing clear: malformed
          dict += prev :+ entry(0)
        }
        prev = entry
        // early change (PDF default EarlyChange=1): the ENCODER widened one
        // code before strictly necessary, and the decoder's table lags the
        // encoder's by one entry at read time — so bump at 2^w - 2, not -1
        if (dict.length >= (1 << width) - 2 && width < 12) width += 1
      }
    }
    Some(out.toByteArray)
  }

  /** Encode helpers for deterministic fixtures (each the exact inverse of
    * its decoder, EOD markers included).
    */
  def asciiHexEncode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 2 + 1)
    data.foreach(b => sb.append(f"${b & 0xff}%02X"))
    sb.append('>')
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (if (j < n) data(i + j) & 0xff else 0); j += 1 }
      if (v == 0 && n == 4) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var k = 4
        while (k >= 0) { cs(k) = ('!' + (v % 85).toInt).toChar; v /= 85; k -= 1 }
        var c = 0
        while (c < n + 1) { sb.append(cs(c)); c += 1 }
      }
      i += 4
    }
    sb.append("~>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + data.length / 128 + 2)
    var i = 0
    while (i < data.length) {
      // count a run of identical bytes
      var r = 1
      while (i + r < data.length && r < 128 && data(i + r) == data(i)) r += 1
      if (r >= 2) { out.write(257 - r); out.write(data(i)); i += r }
      else {
        // literal run up to the next 2-byte repeat (or 128 bytes)
        var l = 1
        while (i + l < data.length && l < 128 &&
          !(i + l + 1 < data.length && data(i + l) == data(i + l + 1))) l += 1
        out.write(l - 1); out.write(data, i, l); i += l
      }
    }
    out.write(128)
    out.toByteArray
  }

  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    var acc = 0L; var bits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code; bits += width
      while (bits >= 8) { out.write(((acc >>> (bits - 8)) & 0xff).toInt); bits -= 8 }
    }
    val dict = new java.util.HashMap[String, Integer]()
    def reset(): Unit = {
      dict.clear()
      var i = 0
      while (i < 256) { dict.put(i.toChar.toString, i); i += 1 }
    }
    reset()
    var next = 258
    put(256) // leading clear, as real encoders emit
    // the DECODER grows its table once per received data code (after the
    // first) -- including the final-w code, which adds NO encoder entry.
    // Width changes must therefore track the decoder's table size, not
    // the encoder's `next`, or the EOD width diverges when the early
    // change lands exactly on the last data code
    var emittedData = 0
    def decoderLen: Int = if (emittedData <= 1) 258 else 257 + emittedData
    def bumpIfNeeded(): Unit =
      if (decoderLen >= (1 << width) - 2 && width < 12) width += 1
    var w = ""
    var i = 0
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      val wc = w + c
      if (dict.containsKey(wc)) w = wc
      else {
        put(dict.get(w)); emittedData += 1
        dict.put(wc, next); next += 1
        bumpIfNeeded()
        if (decoderLen >= 4095) {
          put(256); reset(); next = 258; width = 9; emittedData = 0
        }
        w = c.toString
      }
      i += 1
    }
    if (w.nonEmpty) { put(dict.get(w)); emittedData += 1; bumpIfNeeded() }
    put(257) // EOD (at the width the decoder reads it after its last add)
    if (bits > 0) out.write(((acc << (8 - bits)) & 0xff).toInt) // pad
    out.toByteArray
  }

  /** The `/Filter` entry of a stream dictionary: a single name or an array
    * of names in application order (PDF 7.3.8.2). Empty = unfiltered.
    */
  private[pdf] def filtersOf(dict: String): Vector[String] = {
    val f = dict.indexOf("/Filter")
    if (f < 0) return Vector.empty
    var j = f + "/Filter".length
    while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
    def name(at: Int): (String, Int) = {
      var k = at + 1
      while (k < dict.length && !dict.charAt(k).isWhitespace &&
        "()<>[]{}/%".indexOf(dict.charAt(k)) < 0) k += 1
      (dict.substring(at + 1, k), k)
    }
    if (j < dict.length && dict.charAt(j) == '[') {
      val out = Vector.newBuilder[String]
      var k = j + 1
      while (k < dict.length && dict.charAt(k) != ']') {
        if (dict.charAt(k) == '/') { val (n, e) = name(k); out += n; k = e }
        else k += 1
      }
      out.result()
    } else if (j < dict.length && dict.charAt(j) == '/') Vector(name(j)._1)
    else Vector.empty
  }

  /** Run a filter chain over a stream payload; None when any stage fails
    * or a filter is unsupported (image filters like DCTDecode — the stream
    * is skipped, matching the degrade-never-throw contract).
    */
  def decodeFilters(filters: Seq[String], data: Array[Byte]): Option[Array[Byte]] =
    filters.foldLeft(Option(data)) { (acc, f) =>
      acc.flatMap { d =>
        f match {
          case "FlateDecode" | "Fl"      => inflate(d)
          case "ASCIIHexDecode" | "AHx"  => asciiHexDecode(d)
          case "ASCII85Decode" | "A85"   => ascii85Decode(d)
          case "RunLengthDecode" | "RL"  => runLengthDecode(d)
          case "LZWDecode" | "LZW"       => lzwDecode(d)
          case _                         => None // DCTDecode/JPX/CCITT: image data
        }
      }
    }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Real encryption detection (the reference's `pdf/encrypted.pdf` route:
    * PDFBox raises EncryptedDocumentException from the trailer's /Encrypt
    * entry, `Extractor.java:785-826`): a `/Encrypt` name OUTSIDE stream
    * payloads — covering both classic `trailer` dictionaries and the
    * PDF-1.5+ cross-reference-stream layout (no trailer keyword; /Encrypt
    * lives in the xref stream dict), while an occurrence inside a content
    * stream's data can't false-positive.
    */
  def isEncryptedLatin1(pdf: String): Boolean = {
    var from = 0
    while (from < pdf.length) {
      val hit = pdf.indexOf("/Encrypt", from)
      if (hit < 0) return false
      // inside a stream payload? the nearest preceding 'stream' keyword
      // without an intervening 'endstream' means yes
      val s = pdf.lastIndexOf("stream", hit)
      val inPayload = s >= 0 && !pdf.substring(s, hit).contains("endstream") &&
        // 'endstream'.lastIndexOf also matches 'stream' at its tail:
        // a hit at s-3 == 'endstream' start means we're AFTER a payload
        !(s >= 3 && pdf.regionMatches(s - 3, "endstream", 0, 9))
      if (!inPayload) return true
      from = hit + 1
    }
    false
  }

  /** Iterate every top-level stream object as (dictStart, dictText,
    * payloadStart, payloadEnd) — the ONE place the PDF stream framing
    * rules live (the `stream` keyword's CRLF/LF skip, the owning dict
    * between the preceding `obj` token and the keyword). Shared by text
    * extraction, ObjStm expansion, and image-XObject spawning.
    */
  private def foreachStream(pdf: String)(f: (Int, String, Int, Int) => Unit): Unit = {
    var from = 0
    while (from >= 0 && from < pdf.length) {
      val s = pdf.indexOf("stream", from)
      if (s < 0) from = -1
      else {
        var payloadStart = s + "stream".length
        if (payloadStart < pdf.length && pdf.charAt(payloadStart) == '\r') payloadStart += 1
        if (payloadStart < pdf.length && pdf.charAt(payloadStart) == '\n') payloadStart += 1
        val e = pdf.indexOf("endstream", payloadStart)
        if (e < 0) from = -1
        else {
          val dictStart = math.max(0, pdf.lastIndexOf("obj", s))
          f(dictStart, pdf.substring(dictStart, s), payloadStart, e)
          from = e + "endstream".length
        }
      }
    }
  }

  def textFromLatin1(pdf0: String): String = {
    // object-stream members (catalog/fields/fonts in post-2010 files)
    // expand up front so every object lookup below sees them
    val pdf = expandObjStm(pdf0)
    // pass 1: decode every stream once, keyed by its owning object number
    // (the number ahead of the preceding `obj` keyword); the dict's
    // /Filter entry (name or array, in application order) selects the
    // decode chain (PDF 7.4)
    final case class Decoded(objNum: Int, text: String)
    val streams = ArrayBuffer.empty[Decoded]
    foreachStream(pdf) { (dictStart, dict, payloadStart, e) =>
      val raw = pdf.substring(payloadStart, e)
      decodeFilters(filtersOf(dict),
        raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        .foreach { b =>
          streams += Decoded(objNumBefore(pdf, dictStart),
            new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
        } // malformed/unsupported filter data: skip the stream, never throw
    }
    // liveness (incremental updates, ISO 32000 7.5.6): a re-saved PDF
    // APPENDS updated objects, so the same objNum can own several stream
    // generations; only the physically LAST one is live — extracting all
    // of them would duplicate every edited page's text (old + new). The
    // xref /Prev chain is the authoritative record, but last-occurrence
    // matches it for every appending writer and stays resilient to the
    // broken xrefs this scanner is built to survive. Unframed streams
    // (objNum -1, malformed) all keep — classify-don't-drop.
    locally {
      val lastIdx = scala.collection.mutable.HashMap.empty[Int, Int]
      streams.iterator.zipWithIndex.foreach { case (d, i) =>
        if (d.objNum >= 0) lastIdx(d.objNum) = i
      }
      val live = streams.iterator.zipWithIndex.collect {
        case (d, i) if d.objNum < 0 || lastIdx(d.objNum) == i => d
      }.to(ArrayBuffer)
      streams.clear()
      streams ++= live
    }
    // pass 2: ToUnicode CMaps (PDF 9.10.3) -- subset/CID fonts carry glyph
    // codes, not text; the font's CMap recovers the Unicode. Font-name ->
    // CMap resolution only engages when a CMap stream exists, so the
    // simple-PDF path is untouched
    val cmapCandidates: Map[Int, PdfCmap.CMap] = streams.iterator
      .filter(d => d.objNum >= 0 && PdfCmap.looksCmap(d.text))
      .map(d => d.objNum -> PdfCmap.parse(d.text)).toMap
    val fonts: Map[String, PdfCmap.CMap] =
      if (cmapCandidates.isEmpty) Map.empty else fontMap(pdf, cmapCandidates)
    // only objects a font's /ToUnicode actually REFERENCES are CMaps --
    // a content stream whose prose merely mentions beginbfchar keeps
    // extracting (the candidate parse was just a lookup-table attempt)
    val referenced: Set[Int] =
      if (cmapCandidates.isEmpty) Set.empty
      else ToUniRe.findAllMatchIn(pdf)
        .flatMap(_.group(1).toIntOption).filter(cmapCandidates.contains).toSet
    val chunks = ArrayBuffer.empty[Chunk]
    streams.foreach { d =>
      if (!referenced.contains(d.objNum)) extractStream(d.text, chunks, fonts)
    }
    val lines = chunks.groupBy(_.y).toSeq.sortBy(-_._1)
    val contentText = lines.iterator
      .map { case (_, cs) => cs.sortBy(_.x).iterator.map(_.text).mkString(" ") }
      .filter(_.nonEmpty)
      .mkString("\n")
    // form values ARE body text (the reference's PDFBox surface prints
    // them): AcroForm fields as `name: value` lines, then any XFA
    // packets' character data, after the content. The AcroForm dict
    // resolves ONCE and the XFA packets reuse pass 1's decoded streams
    // (last occurrence per objNum — the incremental-update convention)
    val acro = acroDict(pdf)
    val formText = formFieldsIn(pdf, acro).iterator
      .map { case (n, v) => s"$n: $v" }.mkString("\n")
    val decodedByNum = streams.iterator.map(d => d.objNum -> d.text).toMap
    Vector(contentText, formText, xfaTextIn(pdf, acro, Some(decodedByNum)))
      .filter(_.nonEmpty).mkString("\n")
  }

  /** The object number of the `N G obj` header whose `obj` keyword starts
    * at `objKeyword` (-1 when the framing is absent/malformed).
    */
  private def objNumBefore(pdf: String, objKeyword: Int): Int = {
    var i = objKeyword - 1
    while (i >= 0 && pdf.charAt(i).isWhitespace) i -= 1
    while (i >= 0 && pdf.charAt(i).isDigit) i -= 1 // generation
    while (i >= 0 && pdf.charAt(i).isWhitespace) i -= 1
    val e = i
    while (i >= 0 && pdf.charAt(i).isDigit) i -= 1
    if (e > i) pdf.substring(i + 1, e + 1).toIntOption.getOrElse(-1) else -1
  }

  private val FontResRe = """(?s)/Font\s*<<(.*?)>>""".r
  private val FontRefRe = """/([A-Za-z0-9._#-]+)\s+(\d+)\s+\d+\s+R""".r
  private val ToUniRe = """/ToUnicode\s+(\d+)\s+\d+\s+R""".r

  /** Resource font names -> their ToUnicode CMaps: `/Font << /F1 7 0 R >>`
    * resource dicts name font objects, whose bodies reference the CMap
    * stream. First mapping wins on (rare) cross-page name collisions.
    */
  private def fontMap(pdf: String,
                      cmaps: Map[Int, PdfCmap.CMap]): Map[String, PdfCmap.CMap] = {
    val out = scala.collection.mutable.HashMap.empty[String, PdfCmap.CMap]
    FontResRe.findAllMatchIn(pdf).foreach { m =>
      FontRefRe.findAllMatchIn(m.group(1)).foreach { fm =>
        val name = fm.group(1)
        if (!out.contains(name)) fm.group(2).toIntOption.foreach { objNum =>
          objBody(pdf, objNum).foreach { body =>
            ToUniRe.findFirstMatchIn(body).foreach(um =>
              um.group(1).toIntOption.flatMap(cmaps.get)
                .foreach(cm => out(name) = cm))
          }
        }
      }
    }
    out.toMap
  }

  /** Body of object `objNum` (header to endobj) — the LAST well-framed
    * occurrence wins, the incremental-update liveness rule (ISO 32000
    * 7.5.6): a re-saved form appends the updated field/catalog/font dict
    * after the original, and resolving the first would read the stale
    * revision (the same rule textFromLatin1 applies to content streams
    * and acroDict to /Root). Boundary-checked so object 12 never matches
    * inside object 112.
    */
  private def objBody(pdf: String, objNum: Int): Option[String] = {
    val key = s"$objNum 0 obj"
    var i = pdf.indexOf(key)
    var last = -1
    while (i >= 0) {
      if (i == 0 || !pdf.charAt(i - 1).isDigit) last = i
      i = pdf.indexOf(key, i + 1)
    }
    if (last < 0) None
    else {
      val e = pdf.indexOf("endobj", last)
      Some(if (e < 0) pdf.substring(last) else pdf.substring(last, e))
    }
  }

  // ------------------------------------------------------ object streams

  /** PDF 1.5+ object streams (`/Type /ObjStm`, ISO 32000 §7.5.7): the
    * compressed containers most post-2010 writers put the document's
    * non-stream objects in — catalog, AcroForm dict, form fields, font
    * dictionaries. Members are expanded TEXTUALLY: each re-framed as
    * `N 0 obj ... endobj` and appended to the document string, so
    * [[objBody]] (and everything above it — form fields, ToUnicode font
    * resolution) sees members exactly like top-level objects. Stream
    * objects can never live inside an ObjStm (spec rule), so content
    * extraction is untouched. Malformed headers skip that stream;
    * expansion is capped at [[MaxInflatedBytes]] total.
    */
  private[pdf] def expandObjStm(pdf: String): String = {
    if (!pdf.contains("/ObjStm")) return pdf
    // members SPLICE in right after their ObjStm's endstream rather than
    // appending at the document end: physical order encodes revision
    // order in incrementally-updated files (later occurrence = newer
    // object), and the liveness dedup in textFromLatin1 and the
    // last-/Root-wins rules depend on it — an end-append would place an
    // ORIGINAL revision's members after a newer direct update
    val splices = ArrayBuffer.empty[(Int, String)] // (insert offset, text)
    var budget = MaxInflatedBytes.toLong
    foreachStream(pdf) { (_, dict, payloadStart, e) =>
      if (dict.contains("/ObjStm")) {
        val sb = new StringBuilder
        val decoded = decodeFilters(filtersOf(dict),
          pdf.substring(payloadStart, e)
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        for {
          payload <- decoded.map(b =>
            new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
          n <- intAfter(dict, "/N")
          first <- intAfter(dict, "/First")
          if n > 0 && n <= 100000 && first >= 0 && first <= payload.length
        } {
          // header: N whitespace-separated (objNum, offset) int pairs
          val nums = payload.substring(0, first).trim
            .split("\\s+").toVector.flatMap(_.toIntOption)
          if (nums.length >= 2 * n) {
            val pairs = (0 until n).map(i => (nums(2 * i), nums(2 * i + 1)))
            pairs.zipWithIndex.foreach { case ((objNum, off), i) =>
              val a = first.toLong + off
              val b = if (i + 1 < n) first.toLong + pairs(i + 1)._2 else payload.length.toLong
              if (a >= first && a <= b && b <= payload.length && objNum > 0) {
                val body = payload.substring(a.toInt, b.toInt)
                budget -= body.length + 32
                if (budget > 0)
                  sb.append(s"\n$objNum 0 obj\n").append(body).append("\nendobj\n")
              }
            }
          }
        }
        // e is the payload end (where `endstream` starts): insert after
        // the keyword so the member objects land OUTSIDE the stream body
        if (sb.nonEmpty) splices += ((e + "endstream".length, sb.toString))
      }
    }
    if (splices.isEmpty) return pdf
    val out = new StringBuilder(pdf.length + splices.iterator.map(_._2.length).sum)
    var at = 0
    splices.sortBy(_._1).foreach { case (pos, text) =>
      out.append(pdf, at, pos).append(text)
      at = pos
    }
    out.append(pdf, at, pdf.length)
    out.toString
  }

  // ------------------------------------------------------ image XObjects

  private def intAfter(dict: String, key: String): Option[Int] = {
    val i = dict.indexOf(key)
    if (i < 0) None
    else {
      var p = i + key.length
      while (p < dict.length && dict.charAt(p).isWhitespace) p += 1
      val e0 = p
      var e = p
      while (e < dict.length && dict.charAt(e).isDigit) e += 1
      if (e > e0) dict.substring(e0, e).toIntOption else None
    }
  }

  private val DirectLength = """/Length\s+(\d+)(\s+\d+\s+R)?""".r

  /** Where a stream's data ends: the end-of-line marker ahead of
    * `endstream` (at `e`) is not data (ISO 32000 §7.3.8.1). The dict's
    * `/Length`, when a direct integer that lands on that marker, decides
    * (the data may itself end in a CR or LF); otherwise one trailing
    * CRLF, LF or CR is dropped.
    */
  private def streamDataEnd(pdf: String, dict: String, payloadStart: Int, e: Int): Int = {
    def eolAt(from: Int): Boolean = e - from match {
      case 0 => true
      case 1 => pdf.charAt(from) == '\n' || pdf.charAt(from) == '\r'
      case 2 => pdf.startsWith("\r\n", from)
      case _ => false
    }
    val trailing =
      if (e - 2 >= payloadStart && pdf.startsWith("\r\n", e - 2)) 2
      else if (e > payloadStart && (pdf.charAt(e - 1) == '\n' || pdf.charAt(e - 1) == '\r')) 1
      else 0
    DirectLength.findFirstMatchIn(dict).filter(_.group(2) == null)
      .flatMap(_.group(1).toIntOption)
      .filter(n => n <= e - payloadStart && eolAt(payloadStart + n))
      .fold(e - trailing)(payloadStart + _)
  }

  /** Embedded image XObjects (ISO 32000 §8.9.5) in document order, as
    * (fileName, fileBytes) the embed machinery spawns like any archive
    * entry — the reference's `embedded:imageN` children (Tika renders
    * each page image as `<img src="embedded:imageN.png">` in its HTML
    * output; PDFBox's ExtractImages naming). DCTDecode streams ARE JPEG
    * files and pass through; FlateDecode 8-bit gray/RGB rasters wrap as
    * PNG via ImageIO (component count inferred from the raster size, so
    * no ColorSpace object resolution is needed); other encodings
    * (CCITT/JBIG2/JPX, unusual depths) are skipped — image DECODE parity
    * ends where the north rule's no-OCR line starts.
    */
  def imageXObjects(pdf: String): Vector[(String, Array[Byte])] = {
    if (!pdf.contains("/Image")) return Vector.empty // hot-path quick reject
    // liveness pre-pass (ISO 32000 7.5.6, same rule as the text path): an
    // incrementally re-saved PDF appends a replacement image object; only
    // the LAST stream per objNum spawns a child, or an edited image would
    // emit both generations and shift every later imageN ordinal
    val lastByNum = scala.collection.mutable.HashMap.empty[Int, Int]
    foreachStream(pdf) { (dictStart, dict, payloadStart, _) =>
      if (dict.contains("/Subtype") && dict.contains("/Image")) {
        val n = objNumBefore(pdf, dictStart)
        if (n >= 0) lastByNum(n) = payloadStart
      }
    }
    val out = Vector.newBuilder[(String, Array[Byte])]
    var idx = 0
    foreachStream(pdf) { (dictStart, dict, payloadStart, e) =>
          if (dict.contains("/Subtype") && dict.contains("/Image") && {
            val n = objNumBefore(pdf, dictStart)
            n < 0 || lastByNum(n) == payloadStart
          }) {
            val raw = pdf.substring(payloadStart, streamDataEnd(pdf, dict, payloadStart, e))
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            val filters = filtersOf(dict)
            // abbreviated inline names (§7.4) accepted exactly like
            // decodeFilters does ("/DCT", "/Fl")
            if (filters == Vector("DCTDecode") || filters == Vector("DCT")) {
              out += ((s"image$idx.jpg", raw)); idx += 1
            } else if ((filters == Vector("FlateDecode") || filters == Vector("Fl")) &&
              intAfter(dict, "/BitsPerComponent").contains(8)) {
              val wOpt = intAfter(dict, "/Width")
              val hOpt = intAfter(dict, "/Height")
              val pixOpt =
                if (wOpt.exists(w => w > 0) && hOpt.exists(h => h > 0) &&
                  wOpt.get.toLong * hOpt.get <= (64L << 20)) inflate(raw)
                else None
              pixOpt.foreach { pix =>
                val w = wOpt.get
                val h = hOpt.get
                val ncomp = pix.length / (w * h)
                if (pix.length == ncomp * w * h && (ncomp == 1 || ncomp == 3)) {
                val img = new java.awt.image.BufferedImage(w, h,
                  if (ncomp == 1) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
                  else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
                val data = img.getRaster
                var p = 0
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    if (ncomp == 1) data.setSample(x, y, 0, pix(p) & 0xff)
                    else {
                      data.setSample(x, y, 0, pix(p) & 0xff)
                      data.setSample(x, y, 1, pix(p + 1) & 0xff)
                      data.setSample(x, y, 2, pix(p + 2) & 0xff)
                    }
                    p += ncomp
                    x += 1
                  }
                  y += 1
                }
                val bos = new java.io.ByteArrayOutputStream()
                if (javax.imageio.ImageIO.write(img, "png", bos)) {
                  out += ((s"image$idx.png", bos.toByteArray)); idx += 1
                }
                }
              }
            } // other filters/depths: skipped (no-OCR-line scope note above)
          }
    }
    out.result()
  }

  // ---------------------------------------------------------- AcroForm

  private val RootRe = """/Root\s+(\d+)\s+\d+\s+R""".r
  private val AcroRe = """/AcroForm\s+(\d+)\s+\d+\s+R""".r
  private val ArrRefRe = """(\d+)\s+\d+\s+R""".r

  /** One PDF direct value at/after `from` in `s`: literal string (escape-
    * and nesting-aware), hex string (UTF-16BE when BOM'd, else
    * PDFDocEncoding ~ latin1 for the printable range), or a name token.
    * None for anything else (arrays/dicts/numbers aren't field values the
    * text surface prints).
    */
  private def pdfValue(s: String, from: Int): Option[String] = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length) None
    else s.charAt(i) match {
      case '(' =>
        val sb = new StringBuilder
        var depth = 1
        i += 1
        while (i < s.length && depth > 0) {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < s.length) {
            s.charAt(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'b' => sb += '\b'; i += 2
              case 'f' => sb += '\f'; i += 2
              // octal escape \d, \dd, \ddd (§7.3.4.2) — how writers
              // encode non-ASCII PDFDocEncoding bytes
              case d if d >= '0' && d <= '7' =>
                var v = 0
                var k = i + 1
                while (k < s.length && k < i + 4 &&
                  s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                  v = v * 8 + (s.charAt(k) - '0'); k += 1
                }
                sb += (v & 0xff).toChar
                i = k
              // line continuation: backslash-EOL splices the line away
              case '\n' => i += 2
              case '\r' =>
                i += 2
                if (i < s.length && s.charAt(i) == '\n') i += 1
              case o => sb += o; i += 2 // \( \) \\ and unknown escapes: literal
            }
          } else if (c == '(') { depth += 1; sb += c; i += 1 }
          else if (c == ')') { depth -= 1; if (depth > 0) sb += c; i += 1 }
          else { sb += c; i += 1 }
        }
        Some(sb.toString)
      case '<' =>
        // '<<' is a dictionary (e.g. an inline /V signature dict), not a
        // hex string — out of the printed-value surface
        if (i + 1 < s.length && s.charAt(i + 1) == '<') None
        else {
          val e = s.indexOf('>', i)
          if (e < 0) None
          else {
            val hex = s.substring(i + 1, e).filterNot(_.isWhitespace)
            if (!hex.forall(c => (c >= '0' && c <= '9') ||
              (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))) None // junk, not a crash
            else {
              val padded = if (hex.length % 2 == 1) hex + "0" else hex
              val bytes = padded.grouped(2).map(p =>
                Integer.parseInt(p, 16).toByte).toArray
              if (bytes.length >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
                Some(new String(bytes, 2, bytes.length - 2,
                  java.nio.charset.StandardCharsets.UTF_16BE))
              else Some(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))
            }
          }
        }
      case '/' =>
        var e = i + 1
        while (e < s.length && !s.charAt(e).isWhitespace &&
          "()<>[]{}/%".indexOf(s.charAt(e).toInt) < 0) e += 1
        Some(s.substring(i + 1, e))
      case _ => None
    }
  }

  private val LeadingRefRe = """^\s*(\d+)\s+\d+\s+R""".r

  /** The direct value after `key` in `body`, following ONE level of
    * indirect reference (`/V 12 0 R` — common for long values and
    * near-universal for signature fields) into the document's objects.
    */
  private def keyedValue(pdf: String, body: String, key: String): Option[String] = {
    var i = body.indexOf(key)
    while (i >= 0) {
      val after = i + key.length
      // a real key ends the name token here ('/T' must not match '/TU')
      if (after >= body.length || body.charAt(after).isWhitespace ||
        "(<[/".indexOf(body.charAt(after).toInt) >= 0) {
        return pdfValue(body, after).orElse {
          for {
            m <- LeadingRefRe.findFirstMatchIn(body.substring(after))
            num <- m.group(1).toIntOption
            ref <- objBody(pdf, num)
            objAt = ref.indexOf("obj")
            if objAt >= 0
            v <- pdfValue(ref, objAt + 3)
          } yield v
        }
      }
      i = body.indexOf(key, i + 1)
    }
    None
  }

  /** AcroForm field values (ISO 32000-1 §12.7, the reference's PDFBox
    * form surface): trailer `/Root` -> catalog `/AcroForm` -> `/Fields`,
    * `/Kids` recursion with `/T` partial names dotted into fully-
    * qualified paths (§12.7.3.2), terminal `/V` values as strings
    * (literal or hex, UTF-16BE-aware) or names (checkbox/radio states).
    * Document order preserved; depth-capped and cycle-proof on crafted
    * files. The LAST `/Root` wins (incremental-update convention).
    */
  def formFields(pdf: String): Vector[(String, String)] = {
    val x = expandObjStm(pdf)
    formFieldsIn(x, acroDict(x))
  }

  /** The AcroForm dictionary text, via the trailer's (last) /Root —
    * referenced object or inline in the catalog. Computed ONCE per
    * document and threaded into both the field walk and the XFA packet
    * resolution.
    */
  private def acroDict(pdf: String): Option[String] = {
    if (!pdf.contains("/AcroForm")) return None // hot-path quick reject
    val rootNum = RootRe.findAllMatchIn(pdf).toSeq.lastOption
      .flatMap(_.group(1).toIntOption)
    val catalog = rootNum.flatMap(objBody(pdf, _)).getOrElse(return None)
    AcroRe.findFirstMatchIn(catalog)
      .flatMap(_.group(1).toIntOption).flatMap(objBody(pdf, _))
      .orElse {
        val i = catalog.indexOf("/AcroForm")
        if (i < 0) None else Some(catalog.substring(i))
      }
  }

  /** The `N 0 R` refs inside the array following `key` in `body` —
    * shared by the /Fields, /Kids, and /XFA array walks. The key must
    * end its name token (`/XFA` never matches `/XFAResources`).
    */
  private def arrayRefs(body: String, key: String): Seq[Int] = {
    var i = body.indexOf(key)
    while (i >= 0) {
      val after = i + key.length
      if (after >= body.length || body.charAt(after).isWhitespace ||
        "(<[/".indexOf(body.charAt(after).toInt) >= 0) {
        val a = body.indexOf('[', after)
        val e = if (a < 0) -1 else body.indexOf(']', a)
        return if (a < 0 || e < 0) Nil
        else ArrRefRe.findAllMatchIn(body.substring(a, e))
          .flatMap(_.group(1).toIntOption).toSeq
      }
      i = body.indexOf(key, i + 1)
    }
    Nil
  }

  /** [[formFields]] over an already-expanded document + its AcroForm dict. */
  private def formFieldsIn(pdf: String, acroOpt: Option[String]): Vector[(String, String)] = {
    val acro = acroOpt.getOrElse(return Vector.empty)
    val out = Vector.newBuilder[(String, String)]
    val seen = scala.collection.mutable.HashSet.empty[Int]
    def walk(num: Int, prefix: String, depth: Int): Unit = {
      if (depth > 8 || !seen.add(num)) return
      objBody(pdf, num).foreach { body =>
        val t = keyedValue(pdf, body, "/T").getOrElse("")
        val fq = if (prefix.isEmpty) t else if (t.isEmpty) prefix else s"$prefix.$t"
        // a field carrying its own /V is TERMINAL even with /Kids: radio
        // groups and multi-widget text fields keep the value on the field
        // dict while their kids are widget annotations (§12.7.3.1) —
        // recursing past the value would silently drop it
        keyedValue(pdf, body, "/V") match {
          case Some(v) => out += ((fq, v))
          case None => arrayRefs(body, "/Kids").foreach(walk(_, fq, depth + 1))
        }
      }
    }
    arrayRefs(acro, "/Fields").foreach(walk(_, "", 0))
    out.result()
  }

  /** XFA form text (XML Forms Architecture — the /AcroForm /XFA entry;
    * PDFBox surfaces the form's XML, and the DATASETS packet carries the
    * filled values): packet streams resolved in array order, decoded
    * through the filter chain, character data extracted through the
    * shared XML machinery. Appended to body text after any AcroForm
    * lines — a PDF may legally carry both.
    */
  def xfaText(pdf0: String): String = {
    val x = expandObjStm(pdf0)
    xfaTextIn(x, acroDict(x), None)
  }

  /** [[xfaText]] over an already-expanded document + its AcroForm dict.
    * `preDecoded` (objNum -> decoded latin1 text, LAST occurrence wins —
    * the incremental-update convention /Root resolution also uses) lets
    * textFromLatin1 reuse its pass-1 stream decode instead of inflating
    * the document twice.
    */
  private def xfaTextIn(pdf: String, acroOpt: Option[String],
                        preDecoded: Option[Map[Int, String]]): String = {
    if (!pdf.contains("/XFA")) return "" // hot-path quick reject
    val acro = acroOpt.getOrElse(return "")
    // value: an array of (packetName, streamRef) pairs, or one stream
    // ref — the key must end its name token (never /XFAResources)
    val refs: Seq[Int] = {
      val arr = arrayRefs(acro, "/XFA")
      if (arr.nonEmpty) arr
      else {
        var i = acro.indexOf("/XFA")
        var found: Seq[Int] = Nil
        while (i >= 0 && found.isEmpty) {
          val after = i + 4
          if (after >= acro.length || acro.charAt(after).isWhitespace)
            found = LeadingRefRe.findFirstMatchIn(acro.substring(after))
              .map(_.group(1)).flatMap(_.toIntOption).toSeq
          i = acro.indexOf("/XFA", i + 1)
        }
        found
      }
    }
    if (refs.isEmpty) return ""
    val decoded: Map[Int, String] = preDecoded.getOrElse {
      val want = refs.toSet
      val m = scala.collection.mutable.HashMap.empty[Int, String]
      foreachStream(pdf) { (dictStart, dict, payloadStart, e) =>
        val num = objNumBefore(pdf, dictStart)
        if (want.contains(num)) { // last occurrence wins (incremental update)
          decodeFilters(filtersOf(dict), pdf.substring(payloadStart, e)
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            .foreach(b => m(num) =
              new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
        }
      }
      m.toMap
    }
    refs.distinct.flatMap(decoded.get)
      // latin1 text -> bytes -> UTF-8 is lossless for the packet payload
      .map(t => new String(t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        java.nio.charset.StandardCharsets.UTF_8))
      .map(graft.core.text.Xml.text)
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  /** Deterministic XFA fixture: page content lines plus a datasets
    * packet (Flate stream) carrying the filled field values.
    */
  def buildXfa(lines: Seq[String], values: Seq[(String, String)]): String = {
    val content = "BT /F1 12 Tf " + lines.zipWithIndex.map { case (ln, r) =>
      s"1 0 0 1 10 ${700 - 20 * r} Tm ($ln) Tj"
    }.mkString(" ") + " ET"
    val datasets =
      "<xfa:datasets xmlns:xfa=\"http://www.xfa.org/schema/xfa-data/1.0/\">" +
        "<xfa:data><form1>" +
        values.map { case (k, v) => s"<$k>$v</$k>" }.mkString +
        "</form1></xfa:data></xfa:datasets>"
    val comp = new String(deflate(
      datasets.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // the compressed bytes are OPAQUE BINARY and must never pass through
    // stripMargin (a '\n' + blanks + '|' sequence inside them would be
    // eaten as a margin) — spliced AFTER the template renders
    s"""%PDF-1.6
       |1 0 obj << /Type /Catalog /Pages 2 0 R /AcroForm 6 0 R >> endobj
       |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
       |3 0 obj << /Type /Page /Contents 5 0 R >> endobj
       |5 0 obj << /Length ${content.length} >> stream
       |$content
       |endstream endobj
       |6 0 obj << /XFA [ (datasets) 7 0 R ] >> endobj
       |7 0 obj << /Filter /FlateDecode /Length ${comp.length} >> stream
       |""".stripMargin + comp + "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF"
  }

  /** Deterministic AcroForm fixture: page content lines plus a text
    * field, a checkbox with a NAME value, and a hierarchical parent whose
    * kid exercises the dotted fully-qualified naming.
    */
  def buildForm(lines: Seq[String], textField: (String, String),
                checkbox: (String, String), parentKid: (String, String, String)): String = {
    val content = "BT /F1 12 Tf " + lines.zipWithIndex.map { case (ln, r) =>
      s"1 0 0 1 10 ${700 - 20 * r} Tm ($ln) Tj"
    }.mkString(" ") + " ET"
    val (tn, tv) = textField
    val (cn, cv) = checkbox
    val (pn, kn, kv) = parentKid
    s"""%PDF-1.4
       |1 0 obj << /Type /Catalog /Pages 2 0 R /AcroForm 6 0 R >> endobj
       |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
       |3 0 obj << /Type /Page /Contents 5 0 R >> endobj
       |5 0 obj << /Length ${content.length} >> stream
       |$content
       |endstream endobj
       |6 0 obj << /Fields [7 0 R 8 0 R 9 0 R] >> endobj
       |7 0 obj << /FT /Tx /T ($tn) /V ($tv) >> endobj
       |8 0 obj << /FT /Btn /T ($cn) /V /$cv >> endobj
       |9 0 obj << /T ($pn) /Kids [10 0 R] >> endobj
       |10 0 obj << /FT /Tx /T ($kn) /V ($kv) >> endobj
       |trailer << /Root 1 0 R >>
       |%%EOF""".stripMargin
  }

  /** The [[buildForm]] fixture in the MODERN (PDF 1.5+) layout: the
    * AcroForm dict and every field object live inside a FlateDecode
    * object stream, and /Root rides an xref-STREAM dict (no `trailer`
    * keyword anywhere) — the file shape virtually all post-2010 writers
    * emit, which a top-level-objects-only scanner would see as formless.
    */
  def buildFormObjStm(lines: Seq[String], textField: (String, String),
                      checkbox: (String, String),
                      parentKid: (String, String, String)): String = {
    val content = "BT /F1 12 Tf " + lines.zipWithIndex.map { case (ln, r) =>
      s"1 0 0 1 10 ${700 - 20 * r} Tm ($ln) Tj"
    }.mkString(" ") + " ET"
    val (tn, tv) = textField
    val (cn, cv) = checkbox
    val (pn, kn, kv) = parentKid
    val bodies = Seq(
      6 -> s"<< /Fields [7 0 R 8 0 R 9 0 R] >>",
      7 -> s"<< /FT /Tx /T ($tn) /V ($tv) >>",
      8 -> s"<< /FT /Btn /T ($cn) /V /$cv >>",
      9 -> s"<< /T ($pn) /Kids [10 0 R] >>",
      10 -> s"<< /FT /Tx /T ($kn) /V ($kv) >>")
    val offs = bodies.scanLeft(0)(_ + _._2.length + 1).init
    val header = bodies.zip(offs).map { case ((num, _), o) => s"$num $o" }.mkString(" ") + " "
    val payload = header + bodies.map(_._2 + "\n").mkString
    val comp = new String(deflate(
      payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    s"""%PDF-1.5
       |1 0 obj << /Type /Catalog /Pages 2 0 R /AcroForm 6 0 R >> endobj
       |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
       |3 0 obj << /Type /Page /Contents 5 0 R >> endobj
       |5 0 obj << /Length ${content.length} >> stream
       |$content
       |endstream endobj
       |11 0 obj << /Type /ObjStm /N ${bodies.length} /First ${header.length} /Filter /FlateDecode /Length ${comp.length} >> stream
       |""".stripMargin + comp + // binary: never through stripMargin
      """
        |endstream endobj
        |12 0 obj << /Type /XRef /Size 13 /Root 1 0 R /W [1 2 1] /Length 2 >> stream
        |00
        |endstream endobj
        |startxref
        |0
        |%%EOF""".stripMargin
  }

  /** Deterministic CID-font fixture: line text as 2-byte glyph codes in
    * hex `Tj` operands, a Type0 font whose ToUnicode CMap maps the codes
    * back -- the modern subset-font PDF shape (codes are meaningless
    * without the CMap, exactly like real Word/LaTeX output).
    */
  def buildCid(lines: Seq[String]): String = {
    val chars = lines.flatMap(_.toSeq).distinct
    val code = chars.zipWithIndex.map { case (c, k) => c -> (k + 1) }.toMap
    val bf = chars.map(c => f"<${code(c)}%04X> <${c.toInt}%04X>").mkString("\n")
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
         |begincmap
         |1 begincodespacerange <0000> <FFFF> endcodespacerange
         |${chars.size} beginbfchar
         |$bf
         |endbfchar
         |endcmap end""".stripMargin
    val content = "BT /F9 12 Tf " + lines.zipWithIndex.map { case (ln, r) =>
      s"1 0 0 1 10 ${700 - 20 * r} Tm <${ln.map(c => f"${code(c)}%04X").mkString}> Tj"
    }.mkString(" ") + " ET"
    s"""%PDF-1.4
       |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
       |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
       |3 0 obj << /Type /Page /Resources << /Font << /F9 4 0 R >> >> /Contents 5 0 R >> endobj
       |4 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Subset-Fx /ToUnicode 6 0 R >> endobj
       |5 0 obj << /Length ${content.length} >> stream
       |$content
       |endstream endobj
       |6 0 obj << /Length ${cmap.length} >> stream
       |$cmap
       |endstream endobj
       |trailer << /Root 1 0 R >>
       |%%EOF""".stripMargin
  }

  /** The standard PDF document-information keys the reference's
    * MetadataCleaner strips (`cleaner/MetadataCleaner.java:49-66` nulls the
    * PDDocumentInformation fields and the XMP catalog metadata).
    */
  val InfoKeys: Seq[String] =
    Seq("Title", "Author", "Subject", "Keywords", "Creator", "Producer")

  /** MetadataCleaner analog on the BYTES: blanks every info-key literal
    * string value (`/Title (secret)` -> `/Title ()`) while leaving content
    * streams byte-identical — the reference's "clean the file, keep the
    * content" contract. Escape- and nesting-aware; idempotent.
    */
  def cleanInfo(pdf: String): String = {
    var s = pdf
    InfoKeys.foreach { key =>
      var from = 0
      var continue = true
      while (continue) {
        val k = s.indexOf("/" + key, from)
        if (k < 0) continue = false
        else {
          var j = k + key.length + 1
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          if (j < s.length && s.charAt(j) == '(') {
            // find the matching close paren (escapes + nesting)
            var depth = 1
            var e = j + 1
            while (e < s.length && depth > 0) {
              val c = s.charAt(e)
              // a truncated trailing escape ('...\' at end-of-input) must not
              // step past the string — clamp the 2-char skip to what's left
              if (c == '\\') e += math.min(2, s.length - e)
              else {
                if (c == '(') depth += 1
                else if (c == ')') depth -= 1
                e += 1
              }
            }
            if (s.substring(j, e) != "()") s = s.substring(0, j) + "()" + s.substring(e)
            from = j + 2
          } else from = k + key.length + 1
        }
      }
    }
    s
  }

  /** Parse one content stream's text operators. */
  private def extractStream(s: String, out: ArrayBuffer[Chunk],
                            fonts: Map[String, PdfCmap.CMap] = Map.empty): Unit = {
    var i = 0
    val n = s.length
    var x = 0.0; var y = 0.0          // current text position
    var lineX = 0.0                   // line start (Td/TD translate from here)
    var leading = 12.0
    var inText = false
    var pendingStr: String = null     // last parsed literal/array string
    var pendingName: String = null    // last name token (Tf font operand)
    var curCmap: Option[PdfCmap.CMap] = None // active font's ToUnicode
    val nums = ArrayBuffer.empty[Double] // numeric operand stack

    def emit(str: String): Unit =
      if (inText && str != null && str.nonEmpty) {
        val mapped = curCmap match {
          case Some(cm) => PdfCmap.mapString(str, cm)
          case None => str
        }
        if (mapped.nonEmpty) out += Chunk(y, x, mapped)
      }

    def parseString(start: Int): (String, Int) = {
      // literal string with escapes and balanced-paren nesting (PDF 7.3.4.2)
      val sb = new StringBuilder
      var j = start + 1
      var depth = 1
      while (j < n && depth > 0) {
        val c = s.charAt(j)
        if (c == '\\' && j + 1 < n) {
          val e = s.charAt(j + 1)
          e match {
            case 'n' => sb.append('\n'); j += 2
            case 'r' => sb.append('\r'); j += 2
            case 't' => sb.append('\t'); j += 2
            case 'b' => sb.append('\b'); j += 2
            case 'f' => sb.append('\f'); j += 2
            case '(' | ')' | '\\' => sb.append(e); j += 2
            case d if d >= '0' && d <= '7' =>
              var k = j + 1; var v = 0; var cnt = 0
              while (k < n && cnt < 3 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                v = v * 8 + (s.charAt(k) - '0'); k += 1; cnt += 1
              }
              sb.append(v.toChar); j = k
            case '\n' => j += 2 // line continuation
            case _ => sb.append(e); j += 2
          }
        } else {
          if (c == '(') { depth += 1; sb.append(c) }
          else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c) }
          else sb.append(c)
          j += 1
        }
      }
      (sb.toString, j)
    }

    def parseHexString(start: Int): (String, Int) = {
      // <hex pairs>, whitespace ignored, odd final digit padded with 0
      val sb = new StringBuilder
      var j = start + 1
      var hi = -1
      while (j < n && s.charAt(j) != '>') {
        val d = Character.digit(s.charAt(j), 16)
        if (d >= 0) {
          if (hi < 0) hi = d else { sb.append(((hi << 4) | d).toChar); hi = -1 }
        }
        j += 1
      }
      if (hi >= 0) sb.append((hi << 4).toChar)
      (sb.toString, if (j < n) j + 1 else j)
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') {
        val (str, j) = parseString(i)
        pendingStr = str; i = j
      } else if (c == '[') {
        // TJ array: concatenate its strings, ignore kerning numbers
        val sb = new StringBuilder
        var j = i + 1
        while (j < n && s.charAt(j) != ']') {
          if (s.charAt(j) == '(') {
            val (str, k) = parseString(j); sb.append(str); j = k
          } else if (s.charAt(j) == '<' && (j + 1 >= n || s.charAt(j + 1) != '<')) {
            val (str, k) = parseHexString(j); sb.append(str); j = k
          } else j += 1
        }
        pendingStr = sb.toString
        i = if (j < n) j + 1 else j
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) == '<') {
        i += 2 // dict open — skip
      } else if (c == '<') {
        // hex string operand `<4869> Tj` (PDF 7.3.4.3) — single-byte
        // font assumption, same as literal strings
        val (str, j) = parseHexString(i)
        pendingStr = str; i = j
      } else if (c == '/' ) {
        // name token: recorded (the Tf font operand), then skipped
        var j = i + 1
        while (j < n && !s.charAt(j).isWhitespace && "()<>[]{}/%".indexOf(s.charAt(j)) < 0) j += 1
        pendingName = s.substring(i + 1, j)
        i = j
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && (s.charAt(j) == '.' || (s.charAt(j) >= '0' && s.charAt(j) <= '9'))) j += 1
        // malformed numerics ('-', '1.2.3') in corrupt PDFs must not throw:
        // treat them like an unknown operator (clear the operand stack)
        s.substring(i, j).toDoubleOption match {
          case Some(d) => nums += d
          case None    => nums.clear()
        }
        i = j
      } else {
        // operator token
        var j = i + 1
        while (j < n && !s.charAt(j).isWhitespace && "()<>[]{}/%".indexOf(s.charAt(j)) < 0) j += 1
        val op = s.substring(i, j)
        var jumpTo = -1
        op match {
          case "BI" =>
            // inline image (§8.9.7): skip the dict and the raw sample
            // bytes to the closing EI — binary that happens to contain
            // '(' or text operators would otherwise parse as bogus
            // strings/chunks and could swallow the REAL text after it.
            // EI must be whitespace-delimited on both sides.
            val id = s.indexOf("ID", j)
            var k = if (id < 0) n else id + 3 // ID + one whitespace byte
            var found = -1
            while (found < 0 && k + 1 < n) {
              if (s.charAt(k) == 'E' && s.charAt(k + 1) == 'I' &&
                s.charAt(k - 1).isWhitespace &&
                (k + 2 >= n || s.charAt(k + 2).isWhitespace)) found = k
              else k += 1
            }
            jumpTo = if (found < 0) n else found + 2
          case "BT" => inText = true; x = 0; y = 0; lineX = 0
          case "ET" => inText = false
          case "Td" if nums.size >= 2 =>
            lineX += nums(nums.size - 2); y += nums.last; x = lineX
          case "TD" if nums.size >= 2 =>
            leading = -nums.last; lineX += nums(nums.size - 2); y += nums.last; x = lineX
          case "TL" if nums.nonEmpty => leading = nums.last
          case "Tm" if nums.size >= 6 =>
            lineX = nums(nums.size - 2); x = lineX; y = nums.last
          case "T*" => y -= leading; x = lineX
          case "Tf" => // font select: engage its ToUnicode map, if any
            curCmap = if (pendingName == null) None else fonts.get(pendingName)
          case "Tj" => emit(pendingStr); pendingStr = null
          case "TJ" => emit(pendingStr); pendingStr = null
          case "'" => y -= leading; x = lineX; emit(pendingStr); pendingStr = null
          case "\"" => y -= leading; x = lineX; emit(pendingStr); pendingStr = null
          case _ => ()
        }
        nums.clear()
        i = if (jumpTo >= 0) jumpTo else if (j > i) j else i + 1
      }
    }
  }
}
