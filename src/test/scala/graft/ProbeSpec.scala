package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.ParseFailure
import graft.core.media.Probe
import graft.multimodal.Media

/** Byte-level media metadata probes (the reference's Tika image/AV
  * metadata surface): real-container round trips through the fixture
  * writers, EXIF/tEXt injection keeping the image decodable, and the
  * malformed-input-throws-ParseFailure contract on lying lengths,
  * truncations, and walk-spinning inputs.
  */
class ProbeSpec extends AnyFunSuite {

  // ----------------------------------------------------------------- PNG ----

  test("PNG probe reads IHDR dims/depth/color type from a real ImageIO PNG") {
    val png = Media.encodePng(33, 21, 0x123456)
    val info = Probe.probePng(png)
    assert(info.width == 33 && info.height == 21)
    assert(info.bitDepth == 8 && info.colorType == 2) // TYPE_INT_RGB truecolor
    assert(info.texts.isEmpty)
  }

  test("injected tEXt chunks probe back in order and the PNG still decodes") {
    val base = Media.encodePng(5, 4, 0xff0000)
    val withText = Probe.pngWithText(base, Seq(("Title", "t one"), ("Author", "a two")))
    val info = Probe.probePng(withText)
    assert(info.texts == Vector(("Title", "t one"), ("Author", "a two")))
    assert(info.width == 5 && info.height == 4)
    // ImageIO must still decode the stuffed file byte-for-byte
    assert(Media.decodeImage(withText) == ((5, 4, 0xff0000)))
  }

  test("PNG with a lying chunk length classifies, never overruns") {
    val png = Media.encodePng(4, 4, 0)
    val evil = png.clone()
    evil(8) = 0x7f.toByte // IHDR length 0x7fxxxxx — far past the buffer
    val e = intercept[ParseFailure](Probe.probePng(evil))
    assert(e.getMessage.contains("out of bounds"))
    intercept[ParseFailure](Probe.probePng(png.take(20))) // truncated mid-IHDR
    intercept[ParseFailure](Probe.probePng(Array[Byte](1, 2, 3)))
  }

  // ---------------------------------------------------------------- JPEG ----

  test("JPEG probe reads SOF dims from a real ImageIO JPEG") {
    val jpg = Media.encodeSolid(40, 30, 0x336699, "jpg")
    val info = Probe.probeJpeg(jpg)
    assert(info.width == 40 && info.height == 30)
    assert(info.precision == 8 && info.components == 3)
    assert(info.orientation == 0 && info.make == "") // no EXIF in JFIF output
  }

  test("injected EXIF APP1 probes back and the JPEG still decodes") {
    val base = Media.encodeSolid(16, 12, 0x804020, "jpg")
    val withExif = Probe.jpegWithExif(base, orientation = 6, make = "CamCo", model = "X100")
    val info = Probe.probeJpeg(withExif)
    assert(info.orientation == 6 && info.make == "CamCo" && info.model == "X100")
    assert(info.width == 16 && info.height == 12)
    val (w, h, _) = Media.decodeImage(withExif)
    assert(w == 16 && h == 12)
  }

  test("EXIF ASCII values at or under 4 bytes are stored and read INLINE") {
    // TIFF 6.0: a value fitting the entry's 4 value bytes must be inline,
    // not behind an offset — "M1\0" (3 bytes) exercises that path while
    // "CamCorp\0" (8 bytes) exercises the offset path in the same IFD
    val jpg = Probe.jpegWithExif(Media.encodeSolid(4, 4, 0, "jpg"), 3, "CamCorp", "M1")
    val info = Probe.probeJpeg(jpg)
    assert(info.make == "CamCorp" && info.model == "M1" && info.orientation == 3)
  }

  test("JPEG with lying segment length / EXIF offsets classifies") {
    val jpg = Probe.jpegWithExif(Media.encodeSolid(8, 8, 0, "jpg"), 1, "m", "n")
    // APP1 starts at offset 2: corrupt its declared length upward
    val evil = jpg.clone()
    evil(4) = 0x7f.toByte
    intercept[ParseFailure](Probe.probeJpeg(evil))
    // EXIF IFD offset pointing outside the segment
    val evil2 = jpg.clone()
    // TIFF header starts at 2(SOI)+2(marker)+2(len)+6(Exif\0\0) = 12; IFD
    // offset field is at TIFF+4, little-endian
    evil2(12 + 4) = 0xff.toByte; evil2(12 + 5) = 0xff.toByte
    intercept[ParseFailure](Probe.probeJpeg(evil2))
    // a value offset near Int.MaxValue, where offset + count wraps: the
    // 8-byte make value is stored behind an offset
    val cam = Probe.jpegWithExif(Media.encodeSolid(4, 4, 0, "jpg"), 1, "CamCorp", "M1")
    def le(p: Int, n: Int): Int = (0 until n).map(i => (cam(p + i) & 0xff) << (8 * i)).sum
    val ifd = 12 + le(12 + 4, 4)
    val make = (0 until le(ifd, 2)).map(ifd + 2 + 12 * _).find(le(_, 2) == 0x010f).get
    val evil3 = cam.clone()
    Array(0xf0, 0xff, 0xff, 0x7f).map(_.toByte).copyToArray(evil3, make + 8)
    intercept[ParseFailure](Probe.probeJpeg(evil3))
    intercept[ParseFailure](Probe.probeJpeg(Array[Byte](0xff.toByte, 0xd8.toByte)))
  }

  // ----------------------------------------------------------------- GIF ----

  test("GIF probe reads screen dims and counts frames") {
    val gif = Media.encodeSolid(17, 9, 0x00ff00, "gif")
    val info = Probe.probeGif(gif)
    assert(info.version == "89a" || info.version == "87a")
    assert(info.width == 17 && info.height == 9)
    assert(info.frames == 1)
  }

  test("GIF truncated mid-block or with an unknown block classifies") {
    val gif = Media.encodeSolid(6, 6, 0, "gif")
    intercept[ParseFailure](Probe.probeGif(gif.dropRight(2))) // trailer gone
    val evil = gif.clone()
    // first block introducer after the 13-byte header + global color table
    val packed = evil(10) & 0xff
    val pos = 13 + (if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0)
    evil(pos) = 0x42
    intercept[ParseFailure](Probe.probeGif(evil))
  }

  // ----------------------------------------------------------------- MP4 ----

  test("MP4 probe reads brand, duration, and track count from built boxes") {
    val mp4 = Probe.buildMp4("isom", timescale = 600, durationUnits = 3000, nTracks = 2)
    assert(Probe.isMp4(mp4))
    val info = Probe.probeMp4(mp4)
    assert(info.brand == "isom")
    assert(info.timescale == 600 && info.durationMs == 5000)
    assert(info.nTracks == 2)
  }

  test("MP4 box-size lies classify: undersized, oversized, zero timescale") {
    val mp4 = Probe.buildMp4("mp42", 1000, 1500, 1)
    val evil = mp4.clone()
    evil(3) = 2 // ftyp size 2 < its own 8-byte header
    intercept[ParseFailure](Probe.probeMp4(evil))
    val evil2 = mp4.clone()
    evil2(0) = 0x7f.toByte // ftyp size far past end
    intercept[ParseFailure](Probe.probeMp4(evil2))
    intercept[ParseFailure](Probe.probeMp4(Probe.buildMp4("mp42", 0, 10, 1)))
    intercept[ParseFailure](Probe.probeMp4("        ".getBytes)) // no ftyp
  }

  // ----------------------------------------------------------------- MP3 ----

  test("MP3 probe counts frames and computes exact duration at 32 kHz") {
    val mp3 = Probe.buildMp3(nFrames = 7) // 128 kbps, 32000 Hz, mono
    assert(Probe.isMp3(mp3))
    val info = Probe.probeMp3(mp3)
    assert(info.nFrames == 7 && info.sampleRate == 32000)
    assert(info.bitrateKbps == 128 && info.channels == 1)
    assert(info.durationMs == 7L * 1152 * 1000 / 32000) // 252 ms
  }

  test("MP3 ID3v2 skip, trailing junk tolerance, junk-only refusal") {
    val tagged = Probe.buildMp3(3, id3 = true)
    assert(Probe.isMp3(tagged))
    assert(Probe.probeMp3(tagged).nFrames == 3)
    // an ID3v1 tag (or any junk) AFTER valid frames is tolerated
    val trailing = Probe.buildMp3(2) ++ "TAG junk".getBytes
    assert(Probe.probeMp3(trailing).nFrames == 2)
    // junk with no sync anywhere refuses
    intercept[ParseFailure](Probe.probeMp3("no sync here at all".getBytes))
    // valid sync but reserved bitrate index 15
    val evil = Probe.buildMp3(1)
    evil(2) = 0xf0.toByte
    intercept[ParseFailure](Probe.probeMp3(evil))
  }

  test("ID3v2 text frames decode: UTF-8, latin1, UTF-16 BOM, padding, v2.3") {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    // builder path: v2.4 UTF-8 frames
    val m = Probe.probeMp3(Probe.buildMp3(2,
      title = "Café Song", artist = "Ärtist", album = "LP 1"))
    assert(m.title == "Café Song" && m.artist == "Ärtist" && m.album == "LP 1")
    assert(m.nFrames == 2)
    // hand-built v2.3 tag: plain (non-syncsafe) frame sizes, latin1 and
    // UTF-16-with-BOM encodings, NUL-terminated, trailing padding
    def frame23(fid: String, payload: Array[Byte]): Array[Byte] =
      fid.getBytes(ISO_8859_1) ++ Array[Byte](
        ((payload.length >> 24) & 0xff).toByte, ((payload.length >> 16) & 0xff).toByte,
        ((payload.length >> 8) & 0xff).toByte, (payload.length & 0xff).toByte, 0, 0) ++ payload
    val t = frame23("TIT2", 0.toByte +: ("Latin títle".getBytes(ISO_8859_1) :+ 0.toByte))
    val a = frame23("TPE1", 1.toByte +: (Array[Byte](0xfe.toByte, 0xff.toByte) ++
      "Wide".getBytes(java.nio.charset.StandardCharsets.UTF_16BE)))
    val body = t ++ a ++ new Array[Byte](16) // padding
    val sz = body.length
    val tag = "ID3".getBytes(ISO_8859_1) ++ Array[Byte](3, 0, 0,
      ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
      ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ body
    val mp3 = tag ++ Probe.buildMp3(1)
    val m2 = Probe.probeMp3(mp3)
    assert(m2.title == "Latin títle" && m2.artist == "Wide" && m2.album == "")
    assert(m2.nFrames == 1)
    // a corrupt frame size ends the tag walk without failing the probe
    val bad = tag.clone(); bad(14) = 0x7f.toByte // explode TIT2's size
    assert(Probe.probeMp3(bad ++ Probe.buildMp3(1)).nFrames == 1)
  }

  // ----------------------------------------------------------- RIFF/WAVE ----

  test("WAV byte probe agrees with the javax.sound decode") {
    val wav = Media.encodeWav(16000, 320, 123)
    val info = Probe.probeWav(wav)
    assert(info.audioFormat == 1 && info.channels == 1)
    assert(info.sampleRate == 16000 && info.bits == 16)
    assert(info.dataBytes == 640)
    assert(info.durationUs == 20000) // 320 samples @ 16 kHz
    val (rate, ch, bits, frames, _) = Media.decodeAudio(wav)
    assert(rate == info.sampleRate && ch == info.channels && bits == info.bits)
    assert(frames == 320)
  }

  test("WAV with an out-of-bounds chunk size classifies") {
    val wav = Media.encodeWav(8000, 10, 0)
    val evil = wav.clone()
    evil(16) = 0x7f.toByte // fmt size low byte — way past the buffer
    evil(17) = 0x7f.toByte
    intercept[ParseFailure](Probe.probeWav(evil))
    intercept[ParseFailure](Probe.probeWav(wav.take(30))) // no data chunk
    intercept[ParseFailure](Probe.probeWav("RIFFxxxxNOPE".getBytes))
  }

  // ---------------------------------------------------------------- TIFF ----

  test("TIFF probe walks IFD0 of a real strip TIFF that ImageIO decodes") {
    val tif = Probe.buildTiff(19, 11, orientation = 6, make = "Mk2", model = "ModelLongerThan4")
    val info = Probe.probeTiff(tif)
    assert(info.width == 19 && info.height == 11 && info.bitsPerSample == 8)
    assert(info.orientation == 6 && info.make == "Mk2" && info.model == "ModelLongerThan4")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tif))
    assert(img != null && img.getWidth == 19 && img.getHeight == 11)
  }

  test("TIFF with a lying IFD offset or entry count classifies") {
    val tif = Probe.buildTiff(4, 4, 1, "a", "b")
    val evil = tif.clone()
    evil(4) = 0x7f.toByte; evil(5) = 0x7f.toByte // IFD0 offset past the file
    intercept[ParseFailure](Probe.probeTiff(evil))
    val evil2 = tif.clone()
    evil2(8) = 0xff.toByte; evil2(9) = 0x7f.toByte // 32k entries → past file
    intercept[ParseFailure](Probe.probeTiff(evil2))
    // IFD0 offset 0x7fffffff, where offset + 2 wraps: big- and little-endian
    intercept[ParseFailure](Probe.probeTiff(
      Array(0x4d, 0x4d, 0x00, 0x2a, 0x7f, 0xff, 0xff, 0xff).map(_.toByte)))
    intercept[ParseFailure](Probe.probeTiff(
      Array(0x49, 0x49, 0x2a, 0x00, 0xff, 0xff, 0xff, 0x7f).map(_.toByte)))
    intercept[ParseFailure](Probe.probeTiff(tif.take(10)))
  }

  // ----------------------------------------------------------------- BMP ----

  test("BMP probe reads INFO-header dims/bpp and ImageIO agrees") {
    val bmp = Probe.buildBmp(17, 9, topDown = false)
    val info = Probe.probeBmp(bmp)
    assert(info.width == 17 && info.height == 9 && info.bitsPerPixel == 24)
    assert(!info.topDown)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    assert(img != null && img.getWidth == 17 && img.getHeight == 9)
  }

  test("negative biHeight flags top-down row order") {
    val info = Probe.probeBmp(Probe.buildBmp(5, 3, topDown = true))
    assert(info.width == 5 && info.height == 3 && info.topDown)
  }

  test("BMP with zero dims or a truncated header classifies") {
    val bmp = Probe.buildBmp(4, 4, topDown = false)
    val evil = bmp.clone()
    evil(18) = 0; evil(19) = 0; evil(20) = 0; evil(21) = 0 // width 0
    intercept[ParseFailure](Probe.probeBmp(evil))
    intercept[ParseFailure](Probe.probeBmp(Array[Byte]('B', 'M', 1, 2)))
  }

  // ---------------------------------------------------------------- WebP ----

  test("WebP VP8L bitstream packing round-trips 14-bit dims") {
    val info = Probe.probeWebp(Probe.buildWebpLossless(300, 177))
    assert(info.format == "VP8L" && info.width == 300 && info.height == 177)
    val max = Probe.probeWebp(Probe.buildWebpLossless(16384, 16384))
    assert(max.width == 16384 && max.height == 16384)
  }

  test("WebP VP8X canvas packing round-trips 24-bit dims") {
    val info = Probe.probeWebp(Probe.buildWebpExtended(70000, 333))
    assert(info.format == "VP8X" && info.width == 70000 && info.height == 333)
  }

  test("WebP with a lying chunk size or no image chunk classifies") {
    val wp = Probe.buildWebpLossless(8, 8)
    val evil = wp.clone()
    evil(16) = 0x7f.toByte; evil(17) = 0x7f.toByte // VP8L size past file
    intercept[ParseFailure](Probe.probeWebp(evil))
    // VP8X size 0x7ffffff8, where position + size wraps
    intercept[ParseFailure](Probe.probeWebp("RIFFxxxxWEBPVP8X".getBytes("ISO-8859-1") ++
      Array(0xf8, 0xff, 0xff, 0x7f).map(_.toByte)))
    intercept[ParseFailure](Probe.probeWebp("RIFF   WEBP".getBytes("ISO-8859-1")))
  }

  // ----------------------------------------------------------------- ICO ----

  test("ICO directory reads entry count, 0-means-256 dims, and PNG payload") {
    val ico = Probe.buildIco(Media.encodePng(256, 256, 0x010203), 256, 256)
    val info = Probe.probeIco(ico)
    assert(info.nImages == 1 && info.width == 256 && info.height == 256 && info.pngPayload)
    val small = Probe.probeIco(Probe.buildIco(Media.encodePng(16, 16, 0), 16, 16))
    assert(small.width == 16 && small.height == 16 && small.pngPayload)
  }

  test("ICO with an out-of-file payload never passes the signature") {
    val ico = Probe.buildIco(Media.encodePng(16, 16, 0), 16, 16)
    val evil = ico.clone()
    evil(6 + 12) = 0x7f.toByte; evil(6 + 13) = 0x7f.toByte // offset past file
    assert(!Probe.isIco(evil))
    intercept[ParseFailure](Probe.probeIco(evil))
  }

  // -------------------------------------------------------- sniff routing ----

  test("image and AV magics sniff to their kinds; bin junk does not") {
    import graft.sources.Ingest.sniffKind
    assert(sniffKind(Media.encodePng(3, 3, 0)) == "image")
    assert(sniffKind(Media.encodeSolid(3, 3, 0, "jpg")) == "image")
    assert(sniffKind(Media.encodeSolid(3, 3, 0, "gif")) == "image")
    assert(sniffKind(Probe.buildTiff(3, 3, 1, "m", "n")) == "image")
    assert(sniffKind(Probe.buildBmp(3, 3, topDown = false)) == "image")
    assert(sniffKind(Probe.buildWebpLossless(3, 3)) == "image")
    assert(sniffKind(Probe.buildWebpExtended(3, 3)) == "image")
    assert(sniffKind(Probe.buildIco(Media.encodePng(16, 16, 0), 16, 16)) == "image")
    assert(sniffKind(Probe.buildMp4("isom", 600, 600, 1)) == "av")
    assert(sniffKind(Probe.buildMp3(2)) == "av")
    assert(sniffKind(Probe.buildMp3(2, id3 = true)) == "av")
    assert(sniffKind(Media.encodeWav(8000, 4, 0)) == "av")
    assert(sniffKind(Media.encodeAviMjpeg(8, 8, Seq(1))) == "av")
    // a 0xFF byte followed by junk must NOT sniff as mp3 (strict indexes)
    assert(sniffKind(Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x00, 0x00)) == "bin")
  }
}
