package graft.core.office

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import graft.core.{DecryptFailure, ParseFailure}

/** BIFF8 workbook-stream encryption — the FilePass record ([MS-XLS]
  * 2.4.117) and the two RC4 schemes it selects ([MS-OFFCRYPTO] 2.3.6
  * "Office Binary Document RC4 Encryption" and 2.3.5 "RC4 CryptoAPI
  * Encryption"). This is the POI silent-open path the reference rides
  * through Tika (`Extractor.java` uses the stock AutoDetectParser, whose
  * POI HSSF decryptor transparently tries Excel's hardcoded default
  * password): a workbook encrypted with the EMPTY password or with
  * `VelvetSweatshop` (the default Excel applies when a sheet is
  * "protected" without a password) extracts normally; a real password
  * classifies `encrypted` (FAILURE_NOT_DECRYPTED), parity with
  * [[graft.core.pdf.PdfCrypt]].
  *
  * Wire facts used (all from the published specs):
  *  - the FilePass record immediately follows the stream's first BOF;
  *    `wEncryptionType` 0x0000 = XOR obfuscation (refused — the legacy
  *    Method-1 scheme, vanishingly rare in post-97 files), 0x0001 = RC4;
  *  - RC4 standard (vMajor=1): H0 = MD5(UTF-16LE password), intermediate
  *    = MD5 of (H0[0..4] ++ salt) repeated 16×, per-block key =
  *    MD5(intermediate[0..4] ++ LE32(block)) — all 16 bytes;
  *  - RC4 CryptoAPI (vMajor 2..4, vMinor=2): H0 = SHA1(salt ++ UTF-16LE
  *    password), per-block key = SHA1(H0 ++ LE32(block)) truncated to the
  *    header's KeySize bits; a 40-bit key is padded with 11 zero bytes to
  *    a 16-byte RC4 key per [MS-OFFCRYPTO] 2.3.5.2;
  *  - the password verifies by decrypting EncryptedVerifier +
  *    EncryptedVerifierHash with the block-0 cipher and hashing;
  *  - the STREAM cipher rekeys at every 1024-byte boundary of the
  *    workbook stream; record headers (4 bytes) and the payloads of the
  *    exempt record types ([MS-XLS] 2.2.10: BOF, FilePass, UsrExcl,
  *    FileLock, InterfaceHdr, RRDInfo, RRDHeadCond) plus BoundSheet8's
  *    leading lbPlyPos field are stored as PLAINTEXT but still consume
  *    keystream positions.
  *
  * The deterministic [[encrypt]] inverse exists for fixtures only, like
  * every other binary writer in this package. Malformed framing throws
  * [[ParseFailure]]; a password we may not silently use throws
  * [[DecryptFailure]] — never a task failure.
  */
object XlsCrypt {
  import graft.core.Bin.{slice, u16, u32}

  final val RecFilePass = 0x002f
  private final val RecBof = 0x0809
  private final val RecBoundSheet = 0x0085
  // payload-exempt record types per [MS-XLS] 2.2.10
  private val Exempt: Set[Int] =
    Set(RecBof, RecFilePass, 0x0194, 0x0195, 0x00e1, 0x0196, 0x0138)
  // the silent-open set POI tries: Excel's hardcoded default, then empty
  private val DefaultPasswords: Seq[String] = Seq("VelvetSweatshop", "")
  private final val BlockSize = 1024

  /** Minimal RC4 keystream (the 1987 stream cipher — tiny, published,
    * and needed byte-at-a-time to model the skip-but-consume positions
    * JCE's Cipher API can't express).
    */
  private final class Rc4(key: Array[Byte]) {
    private val s = Array.tabulate(256)(_.toByte)
    private var i = 0
    private var j = 0
    locally {
      var jj = 0
      var ii = 0
      while (ii < 256) {
        jj = (jj + (s(ii) & 0xff) + (key(ii % key.length) & 0xff)) & 0xff
        val t = s(ii); s(ii) = s(jj); s(jj) = t
        ii += 1
      }
    }
    def next(): Int = {
      i = (i + 1) & 0xff
      j = (j + (s(i) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      s(((s(i) & 0xff) + (s(j) & 0xff)) & 0xff) & 0xff
    }
    def xor(b: Array[Byte]): Array[Byte] = b.map(x => (x ^ next()).toByte)
  }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }
  private def sha1(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("SHA-1")
    parts.foreach(d.update)
    d.digest()
  }
  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def utf16le(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)

  /** One scheme = a per-block RC4 key factory; both schemes share the
    * record walk and the verifier shape.
    */
  private sealed trait Scheme {
    def blockKey(block: Int): Array[Byte]
    def hash(verifier: Array[Byte]): Array[Byte]
  }

  /** [MS-OFFCRYPTO] 2.3.6.2 key derivation. */
  private final class StdRc4(password: String, salt: Array[Byte]) extends Scheme {
    private val trunc5 = md5(utf16le(password)).take(5)
    private val intermediate = {
      val d = MessageDigest.getInstance("MD5")
      var k = 0
      while (k < 16) { d.update(trunc5); d.update(salt); k += 1 }
      d.digest().take(5)
    }
    def blockKey(block: Int): Array[Byte] = md5(intermediate, le32(block))
    def hash(verifier: Array[Byte]): Array[Byte] = md5(verifier)
  }

  /** [MS-OFFCRYPTO] 2.3.5.2 key derivation (keyBits 40 pads to 128). */
  private final class CryptoApiRc4(password: String, salt: Array[Byte], keyBits: Int)
      extends Scheme {
    if (keyBits != 40 && keyBits != 128)
      throw new ParseFailure(s"xls: unsupported CryptoAPI key size $keyBits")
    private val h0 = sha1(salt, utf16le(password))
    def blockKey(block: Int): Array[Byte] = {
      val h = sha1(h0, le32(block))
      if (keyBits == 40) h.take(5) ++ new Array[Byte](11) else h.take(16)
    }
    def hash(verifier: Array[Byte]): Array[Byte] = sha1(verifier)
  }

  /** Parsed FilePass payload: the scheme factory (per candidate password)
    * plus the stored verifier pair.
    */
  private final case class FilePass(
      mk: String => Scheme,
      encVerifier: Array[Byte],
      encVerifierHash: Array[Byte])

  private def parseFilePass(p: Array[Byte]): FilePass = {
    if (p.length < 2) throw new ParseFailure("xls: filepass record too short")
    val wType = u16(p, 0)
    if (wType == 0x0000)
      throw new DecryptFailure("xls: XOR-obfuscated workbook")
    if (wType != 0x0001)
      throw new ParseFailure(f"xls: unknown encryption type 0x$wType%04x")
    if (p.length < 6) throw new ParseFailure("xls: filepass record too short")
    val vMajor = u16(p, 2)
    val vMinor = u16(p, 4)
    if (vMajor == 1 && vMinor == 1) {
      // standard RC4: salt(16) verifier(16) verifierHash(16)
      if (p.length < 6 + 48) throw new ParseFailure("xls: rc4 filepass truncated")
      val salt = p.slice(6, 22)
      FilePass(pw => new StdRc4(pw, salt), p.slice(22, 38), p.slice(38, 54))
    } else if (vMinor == 2 && vMajor >= 2 && vMajor <= 4) {
      // CryptoAPI: flags(4) headerSize(4) header(headerSize) verifier
      if (p.length < 14) throw new ParseFailure("xls: cryptoapi filepass truncated")
      val headerSize = u32(p, 10)
      if (headerSize < 32 || headerSize > p.length)
        throw new ParseFailure("xls: cryptoapi header size implausible")
      val h = 14
      val algId = u32(p, h + 8)
      if (algId != 0x6801L && algId != 0L)
        throw new DecryptFailure(f"xls: cryptoapi algorithm 0x$algId%x is not RC4")
      val keyBits0 = u32(p, h + 16).toInt
      val keyBits = if (keyBits0 == 0) 40 else keyBits0
      var q = h + headerSize.toInt
      val saltSize = u32(p, q).toInt
      if (saltSize != 16) throw new ParseFailure(s"xls: cryptoapi salt size $saltSize")
      val salt = p.slice(q + 4, q + 20)
      val encVerifier = p.slice(q + 20, q + 36)
      q += 36
      val vhSize = u32(p, q).toInt
      if (vhSize != 20) throw new ParseFailure(s"xls: cryptoapi verifier hash size $vhSize")
      val encHash = p.slice(q + 4, q + 24)
      if (encHash.length < 20) throw new ParseFailure("xls: cryptoapi verifier truncated")
      FilePass(pw => new CryptoApiRc4(pw, salt, keyBits), encVerifier, encHash)
    } else
      throw new DecryptFailure(f"xls: unsupported encryption version $vMajor%d.$vMinor%d")
  }

  private def verifies(s: Scheme, fp: FilePass): Boolean = {
    val rc4 = new Rc4(s.blockKey(0))
    val verifier = rc4.xor(fp.encVerifier)
    val expect = rc4.xor(fp.encVerifierHash)
    java.util.Arrays.equals(s.hash(verifier), expect)
  }

  /** Walk the record stream applying `f(absolutePos, cipherByte | plain)`.
    * Shared by decrypt and the fixture encryptor: RC4 is an XOR stream,
    * so the two directions are the same traversal. `out` receives the
    * transformed stream; plaintext-exempt positions copy through but
    * still consume keystream.
    */
  private def transform(book: Array[Byte], scheme: Scheme): Array[Byte] = {
    val out = new Array[Byte](book.length)
    var rc4: Rc4 = null
    var block = -1
    var pos = 0
    @inline def step(encrypted: Boolean): Unit = {
      if (pos / BlockSize != block) {
        block = pos / BlockSize
        rc4 = new Rc4(scheme.blockKey(block))
        // align the keystream to the offset within this block
        var k = pos % BlockSize
        while (k > 0) { rc4.next(); k -= 1 }
      }
      val ks = rc4.next()
      out(pos) = if (encrypted) (book(pos) ^ ks).toByte else book(pos)
      pos += 1
    }
    while (pos + 4 <= book.length) {
      val rt = u16(book, pos)
      val len = u16(book, pos + 2)
      if (pos + 4 + len > book.length)
        throw new ParseFailure(f"xls: record 0x$rt%04x past stream end")
      var k = 0
      while (k < 4) { step(encrypted = false); k += 1 } // header plaintext
      val exemptLead =
        if (Exempt.contains(rt)) len
        else if (rt == RecBoundSheet) math.min(4, len) // lbPlyPos
        else 0
      k = 0
      while (k < len) { step(encrypted = k >= exemptLead); k += 1 }
    }
    if (pos != book.length)
      throw new ParseFailure("xls: trailing bytes after final record")
    out
  }

  /** If the stream's first records carry a FilePass, decrypt with the
    * silent-open passwords; return the plaintext stream (FilePass left in
    * place — downstream record readers ignore it). A password outside the
    * silent set throws [[DecryptFailure]].
    */
  def decryptIfNeeded(book: Array[Byte]): Array[Byte] = {
    // FilePass must directly follow the first BOF; scan the first few
    // records only so plaintext workbooks pay two header reads
    var off = 0
    var seen = 0
    var fpPayload: Array[Byte] = null
    while (fpPayload == null && seen < 4 && off + 4 <= book.length) {
      val rt = u16(book, off)
      val len = u16(book, off + 2)
      if (off + 4 + len > book.length)
        throw new ParseFailure(f"xls: record 0x$rt%04x past stream end")
      if (rt == RecFilePass) fpPayload = slice(book, off + 4, len)
      off += 4 + len
      seen += 1
    }
    if (fpPayload == null) return book
    val fp = parseFilePass(fpPayload)
    DefaultPasswords.view
      .map(fp.mk)
      .find(verifies(_, fp))
      .map(transform(book, _))
      .getOrElse(throw new DecryptFailure("xls: password-protected workbook"))
  }

  /** Fixture encryptor: wrap a plaintext Workbook stream with a FilePass
    * record and encrypt it under `password`. `cryptoApi=false` writes the
    * standard-RC4 (MD5) shape, `true` the CryptoAPI (SHA1) shape at
    * `keyBits`. Salts and verifiers derive deterministically from the
    * password + seed so fixtures are stable.
    */
  def encrypt(book: Array[Byte], password: String, seed: String,
              cryptoApi: Boolean, keyBits: Int = 128): Array[Byte] = {
    if (book.length < 4 || u16(book, 0) != RecBof)
      throw new ParseFailure("xls: encrypt needs a BOF-led stream")
    val bofLen = u16(book, 2)
    val salt = md5(utf16le(s"salt:$seed"))
    val verifier = md5(utf16le(s"verify:$seed"))
    val scheme: Scheme =
      if (cryptoApi) new CryptoApiRc4(password, salt, keyBits)
      else new StdRc4(password, salt)
    val rc4 = new Rc4(scheme.blockKey(0))
    val encVerifier = rc4.xor(verifier)
    val encHash = rc4.xor(scheme.hash(verifier))
    val payload = new java.io.ByteArrayOutputStream()
    if (cryptoApi) {
      val b = ByteBuffer.allocate(2 + 2 + 2 + 4 + 4).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0x0001.toShort)       // wEncryptionType = RC4
      b.putShort(2.toShort)            // vMajor
      b.putShort(2.toShort)            // vMinor
      b.putInt(0)                      // header flags
      val header = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      header.putInt(0)                 // Flags
      header.putInt(0)                 // SizeExtra
      header.putInt(0x6801)            // AlgID = RC4
      header.putInt(0x8004)            // AlgIDHash = SHA1
      header.putInt(keyBits)           // KeySize (bits)
      header.putInt(1)                 // ProviderType
      header.putInt(0); header.putInt(0) // Reserved
      b.putInt(header.array().length)
      payload.write(b.array()); payload.write(header.array())
      payload.write(le32(16)); payload.write(salt)
      payload.write(encVerifier)
      payload.write(le32(20)); payload.write(encHash)
    } else {
      val b = ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(0x0001.toShort); b.putShort(1.toShort); b.putShort(1.toShort)
      payload.write(b.array())
      payload.write(salt); payload.write(encVerifier); payload.write(encHash)
    }
    val fpBody = payload.toByteArray
    val fpRec = ByteBuffer.allocate(4 + fpBody.length).order(ByteOrder.LITTLE_ENDIAN)
    fpRec.putShort(RecFilePass.toShort); fpRec.putShort(fpBody.length.toShort)
    fpRec.put(fpBody)
    // splice FilePass directly after BOF, then encrypt the whole stream
    val bofEnd = 4 + bofLen
    val plain = book.slice(0, bofEnd) ++ fpRec.array() ++ book.drop(bofEnd)
    transform(plain, scheme)
  }
}
