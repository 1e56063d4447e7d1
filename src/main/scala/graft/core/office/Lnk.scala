package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.ParseFailure
import graft.core.Bin.{latin1, slice, u8, u16, u32}

/** Windows shell links (`.lnk`, [MS-SHLLINK] — the published shortcut
  * format; a first-class forensic artifact: every document a user opens
  * leaves one in Recent Items, so investigative corpora are full of
  * them). Tika parses these for the target path and string data; the
  * same fields render here as key:value text lines.
  *
  * Wire facts used: 76-byte ShellLinkHeader (`HeaderSize=0x4C`, the fixed
  * LinkCLSID 00021401-0000-0000-C000-000000000046, LinkFlags at +20,
  * FileSize at +52); an optional LinkTargetIDList (u16 size, skipped); an
  * optional LinkInfo whose VolumeIDAndLocalBasePath flag points at the
  * NUL-terminated ANSI LocalBasePath + CommonPathSuffix (their concat is
  * the target path); then StringData sections in fixed order (NAME,
  * RELATIVE_PATH, WORKING_DIR, ARGUMENTS, ICON_LOCATION), each a u16
  * char count followed by UTF-16LE (IsUnicode) or ANSI chars, never
  * NUL-terminated. Offsets are validated before every read; malformed
  * framing throws [[ParseFailure]].
  */
object Lnk {

  private val Clsid: Array[Byte] = Array(
    0x01, 0x14, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00,
    0xc0.toByte, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x46).map(_.toByte)

  def isLnk(bytes: Array[Byte]): Boolean =
    bytes.length >= 76 && bytes(0) == 0x4c && bytes(1) == 0 && bytes(2) == 0 &&
      bytes(3) == 0 && (4 until 20).forall(i => bytes(i) == Clsid(i - 4))

  /** NUL-terminated ANSI string at `off`, ending before `limit`. */
  private def cstr(b: Array[Byte], off: Long, limit: Int): String = {
    var end = off
    while (end < limit && u8(b, end) != 0) end += 1
    if (end >= limit) throw new ParseFailure("lnk: unterminated path string")
    latin1(b, off, end - off)
  }

  final case class Link(target: String, name: String, relativePath: String,
                        workingDir: String, arguments: String, fileSize: Long)

  def parse(bytes: Array[Byte]): Link = {
    if (!isLnk(bytes)) throw new ParseFailure("not a shell link")
    val flags = u32(bytes, 20)
    val fileSize = u32(bytes, 52)
    var p = 76
    if ((flags & 0x01) != 0) { // HasLinkTargetIDList
      val sz = u16(bytes, p)
      p += 2 + sz
      if (p > bytes.length) throw new ParseFailure("lnk: idlist past end")
    }
    var target = ""
    if ((flags & 0x02) != 0) { // HasLinkInfo
      val liStart = p
      val liSize = u32(bytes, liStart)
      if (liSize < 0x1c || liStart + liSize > bytes.length)
        throw new ParseFailure("lnk: linkinfo size out of range")
      val liFlags = u32(bytes, liStart + 8)
      if ((liFlags & 0x01) != 0) { // VolumeIDAndLocalBasePath
        val baseOff = u32(bytes, liStart + 16)
        val suffixOff = u32(bytes, liStart + 24)
        val limit = liStart + liSize.toInt
        val base = cstr(bytes, liStart + baseOff, limit)
        val suffix = cstr(bytes, liStart + suffixOff, limit)
        target = base + suffix
      }
      p = liStart + liSize.toInt
    }
    val unicode = (flags & 0x80) != 0
    def stringData(): String = {
      val n = u16(bytes, p)
      p += 2
      val byteLen = if (unicode) n * 2 else n
      val s = new String(slice(bytes, p, byteLen),
        if (unicode) StandardCharsets.UTF_16LE else StandardCharsets.ISO_8859_1)
      p += byteLen
      s
    }
    val name = if ((flags & 0x04) != 0) stringData() else ""
    val rel = if ((flags & 0x08) != 0) stringData() else ""
    val wd = if ((flags & 0x10) != 0) stringData() else ""
    val args = if ((flags & 0x20) != 0) stringData() else ""
    Link(target, name, rel, wd, args, fileSize)
  }

  /** Metadata-text rendering: only present fields emit, `key: value`
    * lines — the flat convention plist/probe routes share.
    */
  def text(bytes: Array[Byte]): String = {
    val l = parse(bytes)
    Seq(
      "target" -> l.target, "name" -> l.name, "relative" -> l.relativePath,
      "workdir" -> l.workingDir, "args" -> l.arguments,
      "size" -> (if (l.fileSize > 0) l.fileSize.toString else ""))
      .collect { case (k, v) if v.nonEmpty => s"$k: $v" }
      .mkString("\n")
  }

  /** Deterministic fixture writer: LinkInfo with a local base path, plus
    * unicode string data for the present fields.
    */
  def build(target: String, name: String = "", relativePath: String = "",
            workingDir: String = "", arguments: String = "",
            fileSize: Long = 0L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    var flags = 0x02L | 0x80L // HasLinkInfo | IsUnicode
    if (name.nonEmpty) flags |= 0x04
    if (relativePath.nonEmpty) flags |= 0x08
    if (workingDir.nonEmpty) flags |= 0x10
    if (arguments.nonEmpty) flags |= 0x20
    // header
    w32(0x4c); out.write(Clsid)
    w32(flags); w32(0x20 /* FILE_ATTRIBUTE_ARCHIVE */)
    (0 until 24).foreach(_ => out.write(0)) // timestamps
    w32(fileSize); w32(0); w32(0) // size, icon index, show command
    w16(0); w16(0); w32(0); w32(0) // hotkey + reserved
    // LinkInfo: header(28) + VolumeID(17) + base path + suffix NUL
    val baseBytes = target.getBytes(StandardCharsets.ISO_8859_1)
    val volId = 17 // size(4) type(4) serial(4) labelOffset(4) label NUL(1)
    val liHeader = 28
    val baseOff = liHeader + volId
    val suffixOff = baseOff + baseBytes.length + 1
    val liSize = suffixOff + 1
    w32(liSize); w32(liHeader); w32(0x01) // VolumeIDAndLocalBasePath
    w32(liHeader) // VolumeIDOffset
    w32(baseOff); w32(0) // LocalBasePathOffset, CommonNetworkRelativeLinkOffset
    w32(suffixOff) // CommonPathSuffixOffset
    w32(volId); w32(3 /* DRIVE_FIXED */); w32(0x12345678L); w32(16)
    out.write(0) // empty volume label
    out.write(baseBytes); out.write(0)
    out.write(0) // empty common path suffix
    // string data, unicode
    def sd(s: String): Unit =
      if (s.nonEmpty) { w16(s.length); out.write(s.getBytes(StandardCharsets.UTF_16LE)) }
    sd(name); sd(relativePath); sd(workingDir); sd(arguments)
    out.toByteArray
  }
}
