package graft.core.media

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.core.ParseFailure
import graft.core.Bin.{be16, be32, be64, latin1, slice, u8, u16, u32}

/** Byte-level media metadata probing — the reference's Tika metadata
  * surface for images and audio/video containers (Tika's `ImageParser` /
  * `JpegParser` + metadata-extractor EXIF walk, `Mp4Parser`/`Mp3Parser`,
  * reached through `Extractor.java`'s AutoDetectParser dispatch): an image
  * or A/V document yields NO body text without OCR, but its container
  * headers carry typed metadata (dimensions, EXIF orientation/camera,
  * duration, sample rate) that the reference indexes alongside the text.
  *
  * All parsers here are from scratch against the PUBLIC specs — PNG
  * (RFC 2083 chunk layout), JPEG/JFIF (ITU T.81 marker segments), EXIF
  * (TIFF 6.0 IFD layout), GIF89a, ISO BMFF / MP4 (ISO 14496-12 box tree),
  * MPEG-1 Layer III frame headers (ISO 11172-3), and RIFF/WAVE — and obey
  * the repo-wide binary-parser contract: on malformed input they throw
  * [[ParseFailure]] (classified, never a task failure), every length field
  * is bounds-checked before use, and every walk is iteration-capped so a
  * crafted file can neither overrun the buffer nor spin the task.
  *
  * The fixture WRITERS ([[pngWithText]], [[jpegWithExif]], [[buildMp4]],
  * [[buildMp3]]) are the inverse surface, as with Cfb/Tnef: queries
  * synthesize real containers whose parameters are a pure function of
  * doc_id, so the DuckDB oracle recomputes the expected probe output
  * arithmetically while the engine must actually parse the bytes.
  */
object Probe {

  // ------------------------------------------------------------ helpers ----

  private def need(ok: Boolean, what: String): Unit =
    if (!ok) throw new ParseFailure(what)
  /** `[p, p + n)` lies inside `[lo, end)`. Compared in Long: offsets and
    * sizes read from the file reach Int.MaxValue, where `p + n` wraps.
    */
  private def within(p: Int, n: Int, lo: Int, end: Int): Boolean =
    p >= lo && n >= 0 && p.toLong + n <= end

  // ---------------------------------------------------------------- PNG ----

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && PngSig.indices.forall(i => b(i) == PngSig(i))

  final case class PngInfo(width: Int, height: Int, bitDepth: Int,
                           colorType: Int, texts: Vector[(String, String)])

  /** RFC 2083 chunk walk: IHDR first (dims, depth, color type), tEXt
    * keyword/value pairs, stop at IEND. A chunk whose declared length
    * extends past the buffer is malformed, not zero-fillable.
    */
  def probePng(b: Array[Byte]): PngInfo = {
    need(isPng(b), "not a PNG signature")
    var pos = 8
    var info: PngInfo = null
    val texts = Vector.newBuilder[(String, String)]
    var chunks = 0
    var done = false
    while (!done) {
      need(pos + 8 <= b.length, "PNG chunk header past end")
      chunks += 1
      need(chunks <= 10000, "PNG chunk count > 10000")
      val len = be32(b, pos).toInt
      need(len >= 0 && len <= b.length - pos - 12, "PNG chunk length out of bounds")
      val typ = latin1(b, pos + 4, 4)
      need(info != null || typ == "IHDR", "PNG first chunk is not IHDR")
      typ match {
        case "IHDR" =>
          need(len >= 13, "IHDR too small")
          val w = be32(b, pos + 8).toInt; val h = be32(b, pos + 12).toInt
          need(w > 0 && h > 0, "IHDR non-positive dimensions")
          info = PngInfo(w, h, u8(b, pos + 16), u8(b, pos + 17), Vector.empty)
        case "tEXt" =>
          val body = latin1(b, pos + 8, len)
          val i = body.indexOf('\u0000')
          need(i >= 0, "tEXt without keyword separator")
          texts += ((body.substring(0, i), body.substring(i + 1)))
        case "IEND" => done = true
        case _ => ()
      }
      pos += 12 + len
    }
    info.copy(texts = texts.result())
  }

  /** Insert tEXt chunks (correct CRC32 over type+data) before IEND of an
    * existing PNG — fixture writer keeping the image fully decodable.
    */
  def pngWithText(base: Array[Byte], texts: Seq[(String, String)]): Array[Byte] = {
    need(isPng(base), "pngWithText needs a PNG")
    // find IEND offset by the same bounded walk the prober uses
    var pos = 8
    var iend = -1
    while (iend < 0) {
      need(pos + 8 <= base.length, "PNG without IEND")
      val len = be32(base, pos).toInt
      need(len >= 0 && len <= base.length - pos - 12, "PNG chunk length out of bounds")
      if (latin1(base, pos + 4, 4) == "IEND") iend = pos else pos += 12 + len
    }
    val extra = texts.map { case (k, v) =>
      val data = (k + "\u0000" + v).getBytes(ISO_8859_1)
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put("tEXt".getBytes(ISO_8859_1)).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update("tEXt".getBytes(ISO_8859_1)); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    base.take(iend) ++ extra.flatten ++ base.drop(iend)
  }

  // --------------------------------------------------------------- JPEG ----

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8 && u8(b, 2) == 0xff

  final case class JpegInfo(width: Int, height: Int, precision: Int,
                            components: Int, orientation: Int,
                            make: String, model: String)

  /** ITU T.81 marker walk to SOS/EOI: SOFn gives dims, APP1 "Exif" gives
    * the TIFF IFD0 (orientation 0x0112, make 0x010F, model 0x0110). All
    * segment lengths and all EXIF value offsets are bounds-checked against
    * the segment, never the whole file.
    */
  def probeJpeg(b: Array[Byte]): JpegInfo = {
    need(isJpeg(b), "not a JPEG signature")
    var pos = 2
    var w = -1; var h = -1; var prec = 0; var comp = 0
    var orient = 0; var make = ""; var model = ""
    var segs = 0
    var done = false
    while (!done) {
      segs += 1
      need(segs <= 10000, "JPEG segment count > 10000")
      need(pos + 2 <= b.length, "JPEG marker past end")
      need(u8(b, pos) == 0xff, "JPEG marker without 0xFF prefix")
      var m = u8(b, pos + 1); pos += 2
      while (m == 0xff) { // fill bytes before a marker are legal
        need(pos < b.length, "JPEG fill bytes run past end")
        m = u8(b, pos); pos += 1
      }
      if (m == 0xd9) done = true // EOI
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) () // standalone
      else {
        need(pos + 2 <= b.length, "JPEG segment length past end")
        val len = be16(b, pos)
        need(len >= 2 && pos + len <= b.length, "JPEG segment length out of bounds")
        val sof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (sof) {
          need(len >= 8, "SOF segment too small")
          prec = u8(b, pos + 2); h = be16(b, pos + 3); w = be16(b, pos + 5)
          comp = u8(b, pos + 7)
          need(w > 0 && h > 0, "SOF non-positive dimensions")
        } else if (m == 0xe1 && len >= 8 && latin1(b, pos + 2, 6) == "Exif\u0000\u0000") {
          val (o, mk, md) = parseExifTiff(b, pos + 8, pos + len)
          orient = o; make = mk; model = md
        }
        if (m == 0xda) done = true // SOS: entropy-coded data follows
        else pos += len
      }
    }
    need(w > 0, "JPEG without SOF frame header")
    JpegInfo(w, h, prec, comp, orient, make, model)
  }

  /** TIFF 6.0 IFD0 walk inside an APP1 segment: [off,end) bounds, entry
    * count capped, string values fetched via offset only when they fit.
    */
  private def parseExifTiff(b: Array[Byte], off: Int, end: Int): (Int, String, String) = {
    need(end - off >= 8, "EXIF TIFF header too small")
    val head = latin1(b, off, 2)
    val le = head == "II"
    need(le || head == "MM", "EXIF TIFF byte order")
    def r16(p: Int): Int = { need(within(p, 2, off, end), "EXIF read past segment"); if (le) u16(b, p) else be16(b, p) }
    def r32(p: Int): Int = { need(within(p, 4, off, end), "EXIF read past segment"); if (le) u32(b, p).toInt else be32(b, p).toInt }
    need(r16(off + 2) == 42, "EXIF TIFF magic")
    val ifdOff = r32(off + 4)
    need(ifdOff >= 8 && ifdOff <= end - off - 2, "EXIF IFD0 offset out of segment")
    val ifd = off + ifdOff
    val n = r16(ifd)
    need(n <= 512, "EXIF IFD entry count > 512")
    var orient = 0; var make = ""; var model = ""
    def asciiValue(e: Int, cnt: Int): String = {
      val raw =
        if (cnt <= 4) { need(within(e + 8, cnt, off, end), "EXIF inline value past segment"); latin1(b, e + 8, cnt) }
        else {
          val vo = off + r32(e + 8)
          need(within(vo, cnt, off, end), "EXIF value offset out of segment")
          latin1(b, vo, cnt)
        }
      raw.takeWhile(_ != '\u0000') // ASCII values are NUL-terminated
    }
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      need(e + 12 <= end, "EXIF IFD entry past segment")
      val tag = r16(e); val typ = r16(e + 2); val cnt = r32(e + 4)
      need(cnt >= 0 && cnt <= end - off, "EXIF entry count out of bounds")
      tag match {
        case 0x0112 if typ == 3 => orient = r16(e + 8) // SHORT, inline
        case 0x010f if typ == 2 => make = asciiValue(e, cnt)
        case 0x0110 if typ == 2 => model = asciiValue(e, cnt)
        case _ => ()
      }
      i += 1
    }
    (orient, make, model)
  }

  /** Insert an EXIF APP1 segment (II-endian TIFF, IFD0 with make/model/
    * orientation) right after SOI of an existing JPEG — fixture writer;
    * the image stays fully decodable.
    */
  def jpegWithExif(base: Array[Byte], orientation: Int,
                   make: String, model: String): Array[Byte] = {
    need(isJpeg(base), "jpegWithExif needs a JPEG")
    val mk = (make + "\u0000").getBytes(ISO_8859_1)
    val md = (model + "\u0000").getBytes(ISO_8859_1)
    // TIFF 6.0: a value that FITS in the entry's 4 value bytes is stored
    // inline (zero-padded); only larger values go through an offset into
    // the string area after header(8)+count(2)+3 entries(36)+nextIFD(4)=50
    var strOff = 50
    val tail = new java.io.ByteArrayOutputStream()
    def asciiEntry(tiff: java.nio.ByteBuffer, tag: Int, v: Array[Byte]): Unit = {
      tiff.putShort(tag.toShort).putShort(2).putInt(v.length)
      if (v.length <= 4) { tiff.put(v); var p = v.length; while (p < 4) { tiff.put(0.toByte); p += 1 } }
      else { tiff.putInt(strOff); tail.write(v); strOff += v.length }
    }
    val tiff = java.nio.ByteBuffer.allocate(50 + math.max(0, (if (mk.length > 4) mk.length else 0) + (if (md.length > 4) md.length else 0)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put("II".getBytes(ISO_8859_1)).putShort(42).putInt(8)
    tiff.putShort(3) // entries sorted by tag: 0x010F, 0x0110, 0x0112
    asciiEntry(tiff, 0x010f, mk)
    asciiEntry(tiff, 0x0110, md)
    tiff.putShort(0x0112).putShort(3).putInt(1).putShort(orientation.toShort).putShort(0)
    tiff.putInt(0) // no next IFD
    tiff.put(tail.toByteArray)
    val body = "Exif\u0000\u0000".getBytes(ISO_8859_1) ++ tiff.array()
    val seg = java.nio.ByteBuffer.allocate(4 + body.length)
    seg.put(0xff.toByte).put(0xe1.toByte).putShort((body.length + 2).toShort).put(body)
    base.take(2) ++ seg.array() ++ base.drop(2)
  }

  // ---------------------------------------------------------------- GIF ----

  def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && (latin1(b, 0, 6) == "GIF87a" || latin1(b, 0, 6) == "GIF89a")

  final case class GifInfo(version: String, width: Int, height: Int, frames: Int)

  /** GIF89a block walk: logical screen descriptor, then image descriptors
    * (frame count) and extensions with sub-block skipping, to the 0x3B
    * trailer. Every sub-block length is checked before the skip.
    */
  def probeGif(b: Array[Byte]): GifInfo = {
    need(isGif(b), "not a GIF signature")
    need(b.length >= 13, "GIF header too small")
    val version = latin1(b, 3, 3)
    val w = u16(b, 6); val h = u16(b, 8)
    need(w > 0 && h > 0, "GIF non-positive dimensions")
    val packed = u8(b, 10)
    var pos = 13
    if ((packed & 0x80) != 0) pos += 3 * (1 << ((packed & 7) + 1)) // global color table
    def skipSubBlocks(p0: Int): Int = {
      var p = p0
      var blocks = 0
      while (true) {
        need(p < b.length, "GIF sub-block past end")
        blocks += 1; need(blocks <= 100000, "GIF sub-block count > 100000")
        val n = u8(b, p); p += 1
        if (n == 0) return p
        need(p + n <= b.length, "GIF sub-block length out of bounds")
        p += n
      }
      p
    }
    var frames = 0
    var blocks = 0
    var done = false
    while (!done) {
      need(pos < b.length, "GIF ends without trailer")
      blocks += 1; need(blocks <= 100000, "GIF block count > 100000")
      u8(b, pos) match {
        case 0x3b => done = true
        case 0x2c =>
          need(pos + 10 <= b.length, "GIF image descriptor past end")
          frames += 1
          val lp = u8(b, pos + 9); pos += 10
          if ((lp & 0x80) != 0) pos += 3 * (1 << ((lp & 7) + 1)) // local color table
          need(pos < b.length, "GIF image data past end")
          pos += 1 // LZW minimum code size
          pos = skipSubBlocks(pos)
        case 0x21 =>
          need(pos + 2 <= b.length, "GIF extension past end")
          pos += 2
          pos = skipSubBlocks(pos)
        case other => throw new ParseFailure(s"GIF unknown block 0x${other.toHexString}")
      }
    }
    GifInfo(version, w, h, frames)
  }

  // ------------------------------------------------------------ MP4/BMFF ----

  def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && latin1(b, 4, 4) == "ftyp"

  final case class Mp4Info(brand: String, timescale: Long,
                           durationMs: Long, nTracks: Int)

  /** ISO 14496-12 box walk: ftyp major brand, moov/mvhd (v0 and v1
    * layouts) timescale + duration, trak count. Box sizes 0 (to end) and
    * 1 (64-bit) handled; a size smaller than its own header throws.
    */
  def probeMp4(b: Array[Byte]): Mp4Info = {
    need(isMp4(b), "not an ISO-BMFF ftyp file")
    var brand = ""; var timescale = 0L; var duration = -1L; var tracks = 0
    var boxes = 0
    def walk(start: Int, end: Int, depth: Int): Unit = {
      need(depth <= 16, "MP4 box nesting > 16")
      var pos = start
      while (pos < end) {
        boxes += 1; need(boxes <= 10000, "MP4 box count > 10000")
        need(pos + 8 <= end, "MP4 box header past end")
        val size32 = be32(b, pos)
        val typ = latin1(b, pos + 4, 4)
        var hdr = 8
        val size =
          if (size32 == 0) (end - pos).toLong
          else if (size32 == 1) {
            need(pos + 16 <= end, "MP4 largesize header past end")
            hdr = 16; be64(b, pos + 8)
          } else size32
        need(size >= hdr && size <= end - pos, s"MP4 box '$typ' size out of bounds")
        typ match {
          case "ftyp" =>
            need(size >= hdr + 4, "ftyp too small")
            brand = latin1(b, pos + hdr, 4)
          case "moov" => walk(pos + hdr, pos + size.toInt, depth + 1)
          case "trak" => tracks += 1
          case "mvhd" =>
            val p = pos + hdr
            need(size >= hdr + 4, "mvhd too small")
            val ver = u8(b, p)
            if (ver == 1) {
              need(size >= hdr + 4 + 28, "mvhd v1 too small")
              timescale = be32(b, p + 20)
              duration = be64(b, p + 24)
            } else {
              need(size >= hdr + 4 + 16, "mvhd v0 too small")
              timescale = be32(b, p + 12)
              duration = be32(b, p + 16)
            }
          case _ => ()
        }
        pos += size.toInt
      }
    }
    walk(0, b.length, 0)
    need(duration >= 0, "MP4 without mvhd")
    need(timescale > 0, "mvhd timescale is zero")
    Mp4Info(brand, timescale, duration * 1000L / timescale, tracks)
  }

  /** Minimal spec-shaped MP4: ftyp + moov{ mvhd v0, trak{tkhd v0}×n } —
    * fixture writer for [[probeMp4]].
    */
  def buildMp4(brand: String, timescale: Int, durationUnits: Int,
               nTracks: Int): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(typ.getBytes(ISO_8859_1)).put(body)
      bb.array()
    }
    val ftyp = box("ftyp",
      (brand + "\u0000\u0000\u0000\u0000" + brand).getBytes(ISO_8859_1))
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100) // v0 mvhd body is 100 bytes
      bb.putInt(0) // version+flags
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(timescale).putInt(durationUnits)
      bb.putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, volume, reserved
      bb.putInt(0).putInt(0) // reserved
      // identity matrix
      bb.putInt(0x00010000).putInt(0).putInt(0)
      bb.putInt(0).putInt(0x00010000).putInt(0)
      bb.putInt(0).putInt(0).putInt(0x40000000)
      bb.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0) // pre_defined
      bb.putInt(nTracks + 1) // next_track_ID
      box("mvhd", bb.array())
    }
    val trak = box("trak", box("tkhd", new Array[Byte](84))) // v0 tkhd body
    val moov = box("moov", mvhd ++ Array.fill(nTracks)(trak).flatten)
    ftyp ++ moov
  }

  // ---------------------------------------------------------------- MP3 ----

  private val Mp3Bitrates = // MPEG-1 Layer III, kbit/s, index 1..14
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000) // MPEG-1, index 0..2

  /** MP3 head sniff: an ID3v2 tag, or a strict MPEG-1 Layer III frame sync
    * with valid bitrate/samplerate indexes (loose 0xFFEx matching would
    * misclassify arbitrary binary junk).
    */
  def isMp3(b: Array[Byte]): Boolean =
    (b.length >= 10 && latin1(b, 0, 3) == "ID3") ||
      (b.length >= 4 && u8(b, 0) == 0xff && (u8(b, 1) & 0xfe) == 0xfa &&
        (u8(b, 2) >> 4) != 0 && (u8(b, 2) >> 4) != 15 && ((u8(b, 2) >> 2) & 3) != 3)

  final case class Mp3Info(nFrames: Int, sampleRate: Int, bitrateKbps: Int,
                           channels: Int, durationMs: Long,
                           title: String = "", artist: String = "", album: String = "")

  /** ID3v2.3/2.4 text frames (the Tika `Mp3Parser` metadata surface):
    * TIT2/TPE1/TALB with latin1, UTF-8, or BOM'd UTF-16 encodings.
    * Returns (title, artist, album); malformed frames end the walk
    * (metadata is best-effort — the FRAME stream decides validity).
    */
  private def id3TextFrames(b: Array[Byte], tagEnd: Int): (String, String, String) = {
    val major = u8(b, 3)
    var title = ""; var artist = ""; var album = ""
    var pos = 10
    if ((u8(b, 5) & 0x40) != 0 && pos + 4 <= tagEnd) { // extended header
      val es =
        if (major >= 4) (u8(b, pos) << 21) | (u8(b, pos + 1) << 14) | (u8(b, pos + 2) << 7) | u8(b, pos + 3)
        else (u8(b, pos) << 24) | (u8(b, pos + 1) << 16) | (u8(b, pos + 2) << 8) | u8(b, pos + 3)
      pos += (if (major >= 4) es else es + 4)
    }
    var done = false
    while (!done && pos + 10 <= tagEnd) {
      if (u8(b, pos) == 0) done = true // padding
      else {
        val fid = latin1(b, pos, 4)
        val size =
          if (major >= 4) (u8(b, pos + 4) << 21) | (u8(b, pos + 5) << 14) | (u8(b, pos + 6) << 7) | u8(b, pos + 7)
          else (u8(b, pos + 4) << 24) | (u8(b, pos + 5) << 16) | (u8(b, pos + 6) << 8) | u8(b, pos + 7)
        if (size <= 0 || pos + 10 + size > tagEnd) done = true
        else {
          if ((fid == "TIT2" || fid == "TPE1" || fid == "TALB") && size >= 2) {
            val raw = slice(b, pos + 11, size - 1)
            val text = (u8(b, pos + 10) match {
              case 0 => new String(raw, ISO_8859_1)
              case 1 => new String(raw, java.nio.charset.StandardCharsets.UTF_16) // BOM'd
              case 2 => new String(raw, java.nio.charset.StandardCharsets.UTF_16BE)
              case _ => new String(raw, java.nio.charset.StandardCharsets.UTF_8)
            }).takeWhile(_ != ' ')
            fid match {
              case "TIT2" => title = text
              case "TPE1" => artist = text
              case _ => album = text
            }
          }
          pos += 10 + size
        }
      }
    }
    (title, artist, album)
  }

  /** ISO 11172-3 frame-header walk (MPEG-1 Layer III only — the corpus
    * shape): skips a leading ID3v2 tag (syncsafe size), counts frames by
    * computed frame length, tolerates trailing junk (ID3v1 tags) only
    * AFTER at least one valid frame.
    */
  def probeMp3(b: Array[Byte]): Mp3Info = {
    var pos = 0
    var tags = ("", "", "")
    if (b.length >= 10 && latin1(b, 0, 3) == "ID3") {
      val size = (u8(b, 6) << 21) | (u8(b, 7) << 14) | (u8(b, 8) << 7) | u8(b, 9)
      need((u8(b, 6) | u8(b, 7) | u8(b, 8) | u8(b, 9)) < 0x80, "ID3v2 size not syncsafe")
      pos = 10 + size
      need(pos <= b.length, "ID3v2 size past end")
      tags = id3TextFrames(b, pos)
    }
    var frames = 0; var sr = 0; var br = 0; var ch = 0
    var done = false
    while (!done && pos + 4 <= b.length) {
      val h0 = u8(b, pos); val h1 = u8(b, pos + 1)
      if (!(h0 == 0xff && (h1 & 0xe0) == 0xe0)) {
        need(frames > 0, "no MP3 frame sync")
        done = true // trailing junk after valid frames (e.g. ID3v1)
      } else {
        need((h1 & 0x18) == 0x18 && (h1 & 0x06) == 0x02,
          "only MPEG-1 Layer III supported")
        val h2 = u8(b, pos + 2)
        val brIdx = h2 >> 4; val srIdx = (h2 >> 2) & 3; val pad = (h2 >> 1) & 1
        need(brIdx >= 1 && brIdx <= 14 && srIdx <= 2,
          "MP3 invalid bitrate/samplerate index")
        sr = Mp3Rates(srIdx); br = Mp3Bitrates(brIdx)
        ch = if (((u8(b, pos + 3) >> 6) & 3) == 3) 1 else 2
        val flen = 144 * br * 1000 / sr + pad
        if (pos + flen > b.length) {
          need(frames > 0, "first MP3 frame truncated")
          done = true
        } else {
          frames += 1; need(frames <= 1000000, "MP3 frame count > 1e6")
          pos += flen
        }
      }
    }
    need(frames > 0, "no MP3 frames")
    Mp3Info(frames, sr, br, ch, frames.toLong * 1152L * 1000L / sr,
      tags._1, tags._2, tags._3)
  }

  /** Fixture writer: n MPEG-1 Layer III frames (silent payloads) at the
    * given bitrate/sample-rate indexes, optionally ID3v2-prefixed.
    */
  def buildMp3(nFrames: Int, bitrateKbps: Int = 128, sampleRate: Int = 32000,
               mono: Boolean = true, id3: Boolean = false,
               title: String = "", artist: String = "", album: String = ""): Array[Byte] = {
    val brIdx = Mp3Bitrates.indexOf(bitrateKbps)
    val srIdx = Mp3Rates.indexOf(sampleRate)
    need(brIdx >= 1 && srIdx >= 0, "buildMp3 unsupported bitrate/samplerate")
    val flen = 144 * bitrateKbps * 1000 / sampleRate
    val frame = new Array[Byte](flen)
    frame(0) = 0xff.toByte
    frame(1) = 0xfb.toByte // MPEG-1, Layer III, no CRC
    frame(2) = ((brIdx << 4) | (srIdx << 2)).toByte
    frame(3) = (if (mono) 0xc0 else 0x00).toByte
    val head = // ID3v2.4 header + UTF-8 text frames (syncsafe sizes)
      if (id3 || title.nonEmpty || artist.nonEmpty || album.nonEmpty) {
        def textFrame(fid: String, v: String): Array[Byte] =
          if (v.isEmpty) Array.empty[Byte]
          else {
            val payload = 3.toByte +: v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val sz = payload.length
            fid.getBytes(ISO_8859_1) ++ Array[Byte](
              ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
              ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte, 0, 0) ++ payload
          }
        val frames = textFrame("TIT2", title) ++ textFrame("TPE1", artist) ++
          textFrame("TALB", album)
        val ts = frames.length
        need(ts < (1 << 21), "buildMp3 id3 tag too large")
        "ID3".getBytes(ISO_8859_1) ++ Array[Byte](4, 0, 0,
          ((ts >> 21) & 0x7f).toByte, ((ts >> 14) & 0x7f).toByte,
          ((ts >> 7) & 0x7f).toByte, (ts & 0x7f).toByte) ++ frames
      } else Array.empty[Byte]
    head ++ Array.fill(nFrames)(frame).flatten
  }

  // ----------------------------------------------------------- RIFF/WAVE ----

  /** RIFF container carrying audio or video — WAVE or 'AVI ' form type. */
  def isRiffAv(b: Array[Byte]): Boolean =
    b.length >= 12 && latin1(b, 0, 4) == "RIFF" &&
      (latin1(b, 8, 4) == "WAVE" || latin1(b, 8, 4) == "AVI ")

  final case class WavInfo(audioFormat: Int, channels: Int, sampleRate: Int,
                           bits: Int, dataBytes: Int, durationUs: Long)

  /** RIFF/WAVE chunk walk (byte-level twin of the javax.sound decode in
    * [[graft.multimodal.Media.decodeAudio]]): fmt  fields + data size →
    * exact duration. Chunk sizes are bounds-checked and even-padded.
    */
  def probeWav(b: Array[Byte]): WavInfo = {
    need(b.length >= 12 && latin1(b, 0, 4) == "RIFF" && latin1(b, 8, 4) == "WAVE",
      "not a RIFF/WAVE file")
    var pos = 12
    var fmt: (Int, Int, Int, Int) = null // format, channels, rate, bits
    var dataBytes = -1
    var chunks = 0
    while (pos + 8 <= b.length) {
      chunks += 1; need(chunks <= 10000, "RIFF chunk count > 10000")
      val id = latin1(b, pos, 4)
      val size = u32(b, pos + 4).toInt
      need(size >= 0 && size <= b.length - pos - 8, s"RIFF chunk '$id' size out of bounds")
      if (id == "fmt ") {
        need(size >= 16, "fmt chunk too small")
        fmt = (u16(b, pos + 8), u16(b, pos + 10), u32(b, pos + 12).toInt, u16(b, pos + 22))
      } else if (id == "data") dataBytes = size
      pos += 8 + size + (size & 1)
    }
    need(fmt != null, "WAVE without fmt chunk")
    need(dataBytes >= 0, "WAVE without data chunk")
    val (af, ch, rate, bits) = fmt
    need(ch > 0 && rate > 0 && bits > 0, "fmt fields non-positive")
    val byteRate = rate.toLong * ch * (bits / 8)
    need(byteRate > 0, "fmt byte rate is zero")
    WavInfo(af, ch, rate, bits, dataBytes, dataBytes.toLong * 1000000L / byteRate)
  }

  // --------------------------------------------------------------- TIFF ----

  /** Netpbm raster (P1-P6 + whitespace + a dimension digit past optional
    * `#` comments): binary pixel data rides after an ASCII header, so the
    * printable-text probe would otherwise index megabytes of pixels as
    * prose -- the exact garbage Tika's image/x-portable-* detection avoids.
    */
  def isPnm(b: Array[Byte]): Boolean = {
    def ws(c: Byte): Boolean = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    b.length >= 8 && b(0) == 'P' && b(1) >= '1' && b(1) <= '6' && ws(b(2)) && {
      // structural validation past the magic so prose like "P4 500 errors"
      // never classifies: the header must read <width> <height> (digits,
      // comments allowed), and the body must LOOK like the variant --
      // binary for P4-P6 (a non-printable byte appears), digits-only for
      // the ASCII P1-P3 sample data
      val lim = math.min(b.length, 2048)
      var i = 3
      def skipWsComments(): Unit = {
        var going = true
        while (going && i < lim) {
          if (b(i) == '#') { while (i < lim && b(i) != '\n') i += 1 }
          else if (ws(b(i))) i += 1
          else going = false
        }
      }
      def dimension(): Boolean = {
        skipWsComments()
        val s0 = i
        while (i < lim && b(i) >= '0' && b(i) <= '9') i += 1
        i > s0 && i < lim && (ws(b(i)) || b(i) == '#')
      }
      if (!dimension() || !dimension()) false
      else if (b(1) >= '4') { // binary variants
        var j = i
        var bin = false
        while (!bin && j < lim) {
          val u = b(j) & 0xff
          if (u < 9 || (u > 13 && u < 32) || u > 126) bin = true
          j += 1
        }
        bin
      } else { // ASCII variants: only digits/whitespace/comments follow
        var j = i
        var ok = true
        while (ok && j < lim) {
          if (b(j) == '#') { while (j < lim && b(j) != '\n') j += 1 }
          else { ok = ws(b(j)) || (b(j) >= '0' && b(j) <= '9'); j += 1 }
        }
        ok
      }
    }
  }

  /** EMF metafile (MS-EMF): EMR_HEADER record type 1 at offset 0 plus the
    * " EMF" signature dword at offset 40.
    */
  def isEmf(b: Array[Byte]): Boolean =
    b.length >= 44 && b(0) == 1 && b(1) == 0 && b(2) == 0 && b(3) == 0 &&
      b(40) == ' ' && b(41) == 'E' && b(42) == 'M' && b(43) == 'F'

  /** WMF metafile: the placeable header magic 9AC6CDD7 (little-endian on
    * disk: D7 CD C6 9A), or a standard header (type 1/2, headerSize 9).
    */
  def isWmf(b: Array[Byte]): Boolean =
    b.length >= 6 && (
      ((b(0) & 0xff) == 0xd7 && (b(1) & 0xff) == 0xcd &&
        (b(2) & 0xff) == 0xc6 && (b(3) & 0xff) == 0x9a) ||
      ((b(0) == 1 || b(0) == 2) && b(1) == 0 && b(2) == 9 && b(3) == 0))

  /** JP2 signature box (ISO 15444-1): 00 00 00 0C 'jP  ' 0D 0A 87 0A. */
  def isJp2(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 0 && b(1) == 0 && b(2) == 0 && b(3) == 0x0c &&
      b(4) == 'j' && b(5) == 'P' && b(6) == ' ' && b(7) == ' ' &&
      b(8) == 0x0d && b(9) == 0x0a && (b(10) & 0xff) == 0x87 && b(11) == 0x0a

  def isTiff(b: Array[Byte]): Boolean =
    b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))

  final case class TiffInfo(width: Int, height: Int, bitsPerSample: Int,
                            orientation: Int, make: String, model: String)

  /** Standalone TIFF (Tika `TiffParser` surface): IFD0 walk over the whole
    * file — dimensions (SHORT or LONG), bits per sample, orientation, and
    * the camera strings. The same TIFF 6.0 structure `parseExifTiff` reads
    * inside a JPEG APP1, here with the file itself as the segment.
    */
  def probeTiff(b: Array[Byte]): TiffInfo = {
    need(isTiff(b), "not a TIFF")
    val le = b(0) == 'I'
    def r16(p: Int): Int = { need(within(p, 2, 0, b.length), "TIFF read past file"); if (le) u16(b, p) else be16(b, p) }
    def r32(p: Int): Int = { need(within(p, 4, 0, b.length), "TIFF read past file"); if (le) u32(b, p).toInt else be32(b, p).toInt }
    val ifd = r32(4)
    need(within(ifd, 2, 8, b.length), "TIFF IFD0 offset out of file")
    val n = r16(ifd)
    need(n > 0 && n <= 512, "TIFF IFD entry count out of range")
    var w = 0; var h = 0; var bps = 0; var orient = 0; var make = ""; var model = ""
    def shortOrLong(e: Int, typ: Int): Int =
      if (typ == 3) r16(e + 8) else r32(e + 8) // SHORT inline vs LONG inline
    def asciiValue(e: Int, cnt: Int): String = {
      val raw =
        if (cnt <= 4) { need(within(e + 8, cnt, 0, b.length), "TIFF inline value past file"); latin1(b, e + 8, cnt) }
        else {
          val vo = r32(e + 8)
          need(within(vo, cnt, 0, b.length), "TIFF value offset out of file")
          latin1(b, vo, cnt)
        }
      raw.takeWhile(_ != '\u0000')
    }
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      need(e + 12 <= b.length, "TIFF IFD entry past file")
      val tag = r16(e); val typ = r16(e + 2); val cnt = r32(e + 4)
      need(cnt >= 0 && cnt <= b.length, "TIFF entry count out of bounds")
      tag match {
        case 0x0100 if typ == 3 || typ == 4 => w = shortOrLong(e, typ)
        case 0x0101 if typ == 3 || typ == 4 => h = shortOrLong(e, typ)
        case 0x0102 if typ == 3 && cnt == 1 => bps = r16(e + 8)
        case 0x0112 if typ == 3 => orient = r16(e + 8)
        case 0x010f if typ == 2 => make = asciiValue(e, cnt)
        case 0x0110 if typ == 2 => model = asciiValue(e, cnt)
        case _ => ()
      }
      i += 1
    }
    need(w > 0 && h > 0, "TIFF without dimensions")
    TiffInfo(w, h, bps, orient, make, model)
  }

  /** Fixture writer: a real, ImageIO-decodable single-strip grayscale
    * baseline TIFF (sorted IFD, uncompressed pixel strip) carrying
    * orientation + camera strings.
    */
  def buildTiff(width: Int, height: Int, orientation: Int,
                make: String, model: String): Array[Byte] = {
    val mk = (make + "\u0000").getBytes(ISO_8859_1)
    val md = (model + "\u0000").getBytes(ISO_8859_1)
    val nEntries = 12
    val ifdStart = 8
    val afterIfd = ifdStart + 2 + nEntries * 12 + 4
    val mkOff = afterIfd
    val mdOff = mkOff + (if (mk.length > 4) mk.length else 0)
    val pixOff = mdOff + (if (md.length > 4) md.length else 0)
    val buf = java.nio.ByteBuffer.allocate(pixOff + width * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdStart)
    buf.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, cnt: Int, value: Int): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      if (typ == 3) buf.putShort(value.toShort).putShort(0) else buf.putInt(value)
    }
    def asciiEntry(tag: Int, v: Array[Byte], off: Int): Unit = {
      buf.putShort(tag.toShort).putShort(2).putInt(v.length)
      if (v.length <= 4) { buf.put(v); var p = v.length; while (p < 4) { buf.put(0.toByte); p += 1 } }
      else buf.putInt(off)
    }
    // entries in ascending tag order (TIFF 6.0 requirement)
    entry(0x0100, 4, 1, width)           // ImageWidth
    entry(0x0101, 4, 1, height)          // ImageLength
    entry(0x0102, 3, 1, 8)               // BitsPerSample
    entry(0x0103, 3, 1, 1)               // Compression: none
    entry(0x0106, 3, 1, 1)               // Photometric: BlackIsZero
    asciiEntry(0x010f, mk, mkOff)        // Make
    asciiEntry(0x0110, md, mdOff)        // Model
    entry(0x0111, 4, 1, pixOff)          // StripOffsets
    entry(0x0112, 3, 1, orientation)     // Orientation
    entry(0x0115, 3, 1, 1)               // SamplesPerPixel
    entry(0x0116, 4, 1, height)          // RowsPerStrip
    entry(0x0117, 4, 1, width * height)  // StripByteCounts
    buf.putInt(0) // no next IFD
    if (mk.length > 4) buf.put(mk)
    if (md.length > 4) buf.put(md)
    var i = 0
    while (i < width * height) { buf.put((i % 251).toByte); i += 1 }
    buf.array()
  }

  // ---------------------------------------------------------------- BMP ----

  def isBmp(b: Array[Byte]): Boolean =
    b.length >= 26 && b(0) == 'B' && b(1) == 'M' && {
      val dib = u32(b, 14).toInt
      // plausible DIB header sizes (CORE/INFO/V2..V5): the two magic
      // letters alone are too weak a signature for text corpora
      dib == 12 || dib == 40 || dib == 52 || dib == 56 || dib == 108 || dib == 124
    }

  final case class BmpInfo(width: Int, height: Int, bitsPerPixel: Int,
                           topDown: Boolean)

  /** Windows bitmap: BITMAPCOREHEADER (12) reads 16-bit dims, every later
    * DIB revision 32-bit signed (negative height = top-down row order).
    */
  def probeBmp(b: Array[Byte]): BmpInfo = {
    need(isBmp(b), "not a BMP")
    val dib = u32(b, 14).toInt
    if (dib == 12) {
      need(b.length >= 26, "BMP core header truncated")
      BmpInfo(u16(b, 18), u16(b, 20), u16(b, 24), topDown = false)
    } else {
      need(b.length >= 34, "BMP info header truncated")
      val w = u32(b, 18).toInt; val h = u32(b, 22).toInt
      need(w > 0 && h != 0, "BMP dimensions")
      BmpInfo(w, math.abs(h), u16(b, 28), topDown = h < 0)
    }
  }

  /** Fixture writer: a real, ImageIO-decodable 24-bit BITMAPINFOHEADER
    * bitmap (4-byte-aligned rows); negative biHeight encodes top-down
    * row order, the form `probeBmp` must flag.
    */
  def buildBmp(width: Int, height: Int, topDown: Boolean): Array[Byte] = {
    require(width >= 1 && height >= 1 && width <= 4096 && height <= 4096)
    val rowBytes = (width * 3 + 3) & ~3
    val dataSize = rowBytes * height
    val buf = java.nio.ByteBuffer.allocate(14 + 40 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(14 + 40 + dataSize)
      .putShort(0).putShort(0).putInt(14 + 40)
    buf.putInt(40).putInt(width).putInt(if (topDown) -height else height)
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        buf.put(((x + y) % 251).toByte).put((x % 251).toByte).put((y % 251).toByte)
        x += 1
      }
      var pad = width * 3
      while (pad < rowBytes) { buf.put(0.toByte); pad += 1 }
      y += 1
    }
    buf.array()
  }

  // --------------------------------------------------------------- WebP ----

  def isWebp(b: Array[Byte]): Boolean =
    b.length >= 16 && latin1(b, 0, 4) == "RIFF" && latin1(b, 8, 4) == "WEBP"

  final case class WebpInfo(format: String, width: Int, height: Int)

  /** WebP container: the first VP8 (lossy), VP8L (lossless), or VP8X
    * (extended canvas) chunk carries the dimensions, each in its own
    * packing per the public container/bitstream specs.
    */
  def probeWebp(b: Array[Byte]): WebpInfo = {
    need(isWebp(b), "not a WebP")
    var pos = 12
    var guard = 0
    while (pos + 8 <= b.length) {
      guard += 1; need(guard <= 1024, "WebP chunk cap")
      val id = latin1(b, pos, 4)
      val size = u32(b, pos + 4).toInt
      need(within(pos + 8, size, 0, b.length), "WebP chunk past file")
      val p = pos + 8
      id match {
        case "VP8X" =>
          need(size >= 10, "VP8X chunk too small")
          // 32-bit flags+reserved, then 24-bit canvas width-1 / height-1
          val w = 1 + (u8(b, p + 4) | (u8(b, p + 5) << 8) | (u8(b, p + 6) << 16))
          val h = 1 + (u8(b, p + 7) | (u8(b, p + 8) << 8) | (u8(b, p + 9) << 16))
          return WebpInfo("VP8X", w, h)
        case "VP8L" =>
          need(size >= 5 && u8(b, p) == 0x2f, "VP8L signature")
          val bits = u32(b, p + 1).toInt
          return WebpInfo("VP8L", 1 + (bits & 0x3fff), 1 + ((bits >>> 14) & 0x3fff))
        case "VP8 " =>
          need(size >= 10, "VP8 frame header too small")
          need(u8(b, p + 3) == 0x9d && u8(b, p + 4) == 0x01 && u8(b, p + 5) == 0x2a,
            "VP8 start code")
          return WebpInfo("VP8", u16(b, p + 6) & 0x3fff, u16(b, p + 8) & 0x3fff)
        case _ => ()
      }
      pos += 8 + size + (size & 1)
    }
    throw new graft.core.ParseFailure("WebP without an image chunk")
  }

  /** Fixture writers: a VP8L-bearing container (the lossless dimension
    * packing) and a VP8X extended container.
    */
  def buildWebpLossless(width: Int, height: Int): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384)
    val bits = (width - 1) | ((height - 1) << 14)
    val body = java.nio.ByteBuffer.allocate(5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0x2f.toByte).putInt(bits).array()
    riffWebp(Seq(("VP8L", body)))
  }
  def buildWebpExtended(width: Int, height: Int): Array[Byte] = {
    require(width >= 1 && height >= 1)
    val body = new Array[Byte](10)
    body(4) = ((width - 1) & 0xff).toByte
    body(5) = (((width - 1) >> 8) & 0xff).toByte
    body(6) = (((width - 1) >> 16) & 0xff).toByte
    body(7) = ((height - 1) & 0xff).toByte
    body(8) = (((height - 1) >> 8) & 0xff).toByte
    body(9) = (((height - 1) >> 16) & 0xff).toByte
    riffWebp(Seq(("VP8X", body)))
  }
  private def riffWebp(chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val payload = chunks.flatMap { case (id, body) =>
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes(ISO_8859_1) ++
        java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(body.length).array() ++ body ++ pad
    }.toArray
    "RIFF".getBytes(ISO_8859_1) ++
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4 + payload.length).array() ++
      "WEBP".getBytes(ISO_8859_1) ++ payload
  }

  // ---------------------------------------------------------------- ICO ----

  def isIco(b: Array[Byte]): Boolean =
    b.length >= 22 && b(0) == 0 && b(1) == 0 && b(2) == 1 && b(3) == 0 && {
      val count = u16(b, 4)
      // weak magic: require a sane entry count and the first entry's
      // payload to land inside the file
      count >= 1 && count <= 1024 &&
        b.length >= 6 + 16L * count &&
        u32(b, 6 + 12) + u32(b, 6 + 8) <= b.length
    }

  final case class IcoInfo(nImages: Int, width: Int, height: Int, pngPayload: Boolean)

  /** Windows icon directory: image count and the FIRST entry's dimensions
    * (the 0-means-256 byte encoding); payload sniffed for the modern
    * embedded-PNG form.
    */
  def probeIco(b: Array[Byte]): IcoInfo = {
    need(isIco(b), "not an ICO")
    val count = u16(b, 4)
    val w0 = u8(b, 6); val h0 = u8(b, 7)
    val off = u32(b, 6 + 12).toInt
    val size = u32(b, 6 + 8).toInt
    need(off >= 6 + 16 * count && size >= 0 && off.toLong + size <= b.length, "ICO entry out of file")
    val png = size >= 8 && isPng(slice(b, off, 8))
    IcoInfo(count, if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0, png)
  }

  /** Fixture writer: a single-entry icon embedding a real PNG payload. */
  def buildIco(png: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(6 + 16 + png.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0).putShort(1).putShort(1)
    buf.put((if (width >= 256) 0 else width).toByte)
    buf.put((if (height >= 256) 0 else height).toByte)
    buf.put(0.toByte).put(0.toByte) // palette, reserved
    buf.putShort(1).putShort(32)    // planes, bpp
    buf.putInt(png.length).putInt(6 + 16)
    buf.put(png)
    buf.array()
  }
}
