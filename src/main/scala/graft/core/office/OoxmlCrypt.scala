package graft.core.office

import java.nio.charset.StandardCharsets
import graft.core.{DecryptFailure, ParseFailure}
import graft.core.Bin.{slice, u16, u32, u64}

/** ECMA-376 password-protected OOXML: an encrypted .docx/.xlsx/.pptx is
  * saved as a compound file holding `EncryptionInfo` (cipher parameters +
  * password verifier) and `EncryptedPackage` (the ciphertext ZIP).
  *
  * STANDARD encryption ([MS-OFFCRYPTO] 2.3.4: version 2-4/minor 2,
  * AES-ECB, SHA-1 key derivation with 50 000 spins) opens silently when
  * one of the DEFAULT passwords verifies — `VelvetSweatshop` is the
  * well-known key Excel applies to "encrypted" workbooks whose author
  * never set a password, and POI/Tika (the reference's parser stack) try
  * it before giving up, so real-password files classify encrypted while
  * default-password ones extract like any package. AGILE encryption
  * (version 4.4, XML descriptor) and non-AES ciphers refuse with precise
  * reasons.
  */
object OoxmlCrypt {

  /** Same silent-open order as XlsCrypt: the Excel sentinel, then empty. */
  private val DefaultPasswords: Seq[String] = Seq("VelvetSweatshop", "")

  private val SpinCount = 50000

  /** The spun password hash depends only on (algorithm, spins, salt,
    * password) — and extraction derives it TWICE per document (the
    * own-text route and the container-spawn route both open the
    * package). A small bounded per-JVM cache collapses the second
    * 50 000-hash derivation; different files have different salts, so
    * entries never collide across documents.
    */
  private val spunCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Byte]](32, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
        size() > 64
    })

  private def spunCached(alg: String, spins: Int, salt: Array[Byte], password: String)
                        (compute: => Array[Byte]): Array[Byte] = {
    val key = alg + ":" + spins + ":" +
      java.util.Base64.getEncoder.encodeToString(salt) + ":" + password
    val hit = spunCache.get(key)
    if (hit != null) hit
    else { val v = compute; spunCache.put(key, v); v }
  }

  private def le32(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private final case class StandardInfo(keyBytes: Int, salt: Array[Byte],
                                        encVerifier: Array[Byte], encVerifierHash: Array[Byte])

  private def parseStandard(info: Array[Byte]): StandardInfo = {
    val vMajor = u16(info, 0)
    val vMinor = u16(info, 2)
    if (vMinor != 2 || vMajor < 2 || vMajor > 4)
      throw new DecryptFailure(s"unsupported Office encryption version $vMajor.$vMinor")
    val headerSize = u32(info, 8)
    if (headerSize < 32 || headerSize > info.length - 12)
      throw new ParseFailure("offcrypto: EncryptionHeader size lies")
    val h = 12
    val algId = u32(info, h + 8)
    val algIdHash = u32(info, h + 12)
    val keyBits = u32(info, h + 16).toInt
    val keyBytes = algId match {
      case 0x660e => 16 // AES-128
      case 0x660f => 24 // AES-192
      case 0x6610 => 32 // AES-256
      case other => throw new DecryptFailure(f"unsupported Office cipher 0x$other%04x")
    }
    if (algIdHash != 0x8004)
      throw new DecryptFailure(f"unsupported Office hash 0x$algIdHash%04x")
    if (keyBits != keyBytes * 8)
      throw new ParseFailure(s"offcrypto: key size $keyBits disagrees with cipher")
    val v = h + headerSize.toInt // EncryptionVerifier
    val saltSize = u32(info, v).toInt
    if (saltSize != 16) throw new ParseFailure(s"offcrypto: salt size $saltSize")
    val salt = slice(info, v + 4, 16)
    val encVerifier = slice(info, v + 20, 16)
    val verifierHashSize = u32(info, v + 36).toInt
    if (verifierHashSize != 20) throw new ParseFailure(s"offcrypto: verifier hash size $verifierHashSize")
    val encVerifierHash = slice(info, v + 40, 32)
    StandardInfo(keyBytes, salt, encVerifier, encVerifierHash)
  }

  /** [MS-OFFCRYPTO] 2.3.4.7: SHA1(salt ‖ UTF-16LE password), spun 50 000
    * times with the iterator prefixed, block 0 appended, then the
    * 0x36/0x5C ipad/opad-style expansion to the cipher's key length.
    */
  private def deriveKey(password: String, salt: Array[Byte], keyBytes: Int): Array[Byte] = {
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    var h = sha1.digest(salt ++ password.getBytes(StandardCharsets.UTF_16LE))
    var i = 0
    while (i < SpinCount) {
      sha1.reset(); sha1.update(le32(i)); sha1.update(h)
      h = sha1.digest()
      i += 1
    }
    sha1.reset(); sha1.update(h); sha1.update(le32(0))
    val hFinal = sha1.digest()
    def expand(pad: Byte): Array[Byte] = {
      val buf = Array.fill[Byte](64)(pad)
      hFinal.indices.foreach(j => buf(j) = (buf(j) ^ hFinal(j)).toByte)
      sha1.reset(); sha1.digest(buf)
    }
    val x1 = expand(0x36)
    val key = if (keyBytes <= 20) x1 else x1 ++ expand(0x5c)
    java.util.Arrays.copyOf(key, keyBytes)
  }

  private def aesEcb(mode: Int, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"))
    c.doFinal(data)
  }

  private def verifies(key: Array[Byte], si: StandardInfo): Boolean = {
    val verifier = aesEcb(javax.crypto.Cipher.DECRYPT_MODE, key, si.encVerifier)
    val vh = aesEcb(javax.crypto.Cipher.DECRYPT_MODE, key, si.encVerifierHash)
    val expect = java.security.MessageDigest.getInstance("SHA-1").digest(verifier)
    java.util.Arrays.equals(expect, java.util.Arrays.copyOf(vh, 20))
  }

  /** Decrypt the package with whichever default password verifies.
    * Returns the plaintext ZIP (OOXML package) bytes; throws
    * [[DecryptFailure]] when only a real password would open it.
    */
  def decryptDefault(entries: Seq[(String, Option[Array[Byte]])]): Array[Byte] = {
    def stream(name: String): Array[Byte] =
      entries.collectFirst { case (n, Some(b)) if n == name => b }
        .getOrElse(throw new DecryptFailure(s"password-protected Office document ($name refused)"))
    val info = stream("EncryptionInfo")
    val pkg = stream("EncryptedPackage")
    if (pkg.length < 8) throw new ParseFailure("offcrypto: EncryptedPackage too short")
    if (u16(info, 0) == 4 && u16(info, 2) == 4) return agileDecrypt(info, pkg)
    val si = parseStandard(info)
    val plainLen = u64(pkg, 0)
    val cipher = java.util.Arrays.copyOfRange(pkg, 8, pkg.length - (pkg.length - 8) % 16)
    if (plainLen < 0 || plainLen > cipher.length)
      throw new ParseFailure("offcrypto: declared package size past ciphertext")
    val key = DefaultPasswords.iterator
      .map(p => spunCached("standard-SHA1-" + si.keyBytes, SpinCount, si.salt, p)(
        deriveKey(p, si.salt, si.keyBytes)))
      .find(verifies(_, si))
      .getOrElse(throw new DecryptFailure("password-protected Office document"))
    java.util.Arrays.copyOf(aesEcb(javax.crypto.Cipher.DECRYPT_MODE, key, cipher), plainLen.toInt)
  }

  // ------------------------------------------------- AGILE (version 4.4)

  // [MS-OFFCRYPTO] 2.3.4.10-13: the fixed 8-byte block keys that bind
  // each derived key to its purpose
  private val BkVerifierInput = Array(0xfe, 0xa7, 0xd2, 0x76, 0x3b, 0x4b, 0x9e, 0x79).map(_.toByte)
  private val BkVerifierValue = Array(0xd7, 0xaa, 0x0f, 0x6d, 0x30, 0x61, 0x34, 0x4e).map(_.toByte)
  private val BkKeyValue = Array(0x14, 0x6e, 0x0b, 0xe7, 0xab, 0xac, 0xd0, 0xd6).map(_.toByte)
  private val BkHmacKey = Array(0x5f, 0xb2, 0xad, 0x01, 0x0c, 0xb9, 0xe1, 0xf6).map(_.toByte)
  private val BkHmacValue = Array(0xa0, 0x67, 0x7f, 0x02, 0xb2, 0x2c, 0x84, 0x33).map(_.toByte)

  private def digestName(alg: String): String = alg match {
    case "SHA1" | "SHA-1" => "SHA-1"
    case "SHA256" => "SHA-256"
    case "SHA384" => "SHA-384"
    case "SHA512" => "SHA-512"
    case other => throw new DecryptFailure(s"unsupported agile hash $other")
  }

  /** One XML attribute out of the agile descriptor's element `el` —
    * quote-style-tolerant, first occurrence wins (keyData precedes the
    * password encryptedKey in every real descriptor, so callers scope
    * with `from`).
    */
  private def attr(xml: String, el: String, name: String): String = {
    val e = xml.indexOf("<" + el)
    val e2 = xml.indexOf("<p:" + el)
    val start = if (e >= 0) e else e2
    if (start < 0) throw new ParseFailure(s"offcrypto: agile descriptor missing <$el>")
    val end = xml.indexOf('>', start)
    if (end < 0) throw new ParseFailure("offcrypto: agile descriptor truncated")
    val tag = xml.substring(start, end)
    val m = java.util.regex.Pattern.compile(name + "\\s*=\\s*[\"']([^\"']*)[\"']").matcher(tag)
    if (!m.find()) throw new ParseFailure(s"offcrypto: agile <$el> missing $name")
    m.group(1)
  }

  private def intAttr(xml: String, el: String, name: String): Int =
    attr(xml, el, name).toIntOption
      .getOrElse(throw new ParseFailure(s"offcrypto: agile <$el> $name is not a number"))

  private def b64(s: String): Array[Byte] =
    try java.util.Base64.getDecoder.decode(s)
    catch { case _: IllegalArgumentException => throw new ParseFailure("offcrypto: bad base64 in agile descriptor") }

  /** Fit a hash to `n` bytes: truncate, or extend with 0x36 (2.3.4.11). */
  private def fit(h: Array[Byte], n: Int): Array[Byte] =
    if (h.length >= n) java.util.Arrays.copyOf(h, n)
    else h ++ Array.fill[Byte](n - h.length)(0x36)

  private def aesCbc(mode: Int, key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Agile decryption: XML descriptor, spun password hash with per-purpose
    * block keys (AES-CBC), intermediate key unwrapped from
    * `encryptedKeyValue`, package decrypted in 4096-byte segments whose
    * IVs chain off the keyData salt, HMAC integrity verified when present.
    */
  private def agileDecrypt(info: Array[Byte], pkg: Array[Byte]): Array[Byte] = {
    val xml = new String(slice(info, 8, info.length - 8), StandardCharsets.UTF_8)
    // keyData: the package cipher parameters
    val kdSalt = b64(attr(xml, "keyData", "saltValue"))
    val kdKeyBytes = intAttr(xml, "keyData", "keyBits") / 8
    val kdBlock = intAttr(xml, "keyData", "blockSize")
    val kdHash = digestName(attr(xml, "keyData", "hashAlgorithm"))
    if (attr(xml, "keyData", "cipherAlgorithm") != "AES" ||
        attr(xml, "keyData", "cipherChaining") != "ChainingModeCBC")
      throw new DecryptFailure("unsupported agile package cipher")
    if (kdBlock != 16 || kdKeyBytes < 16 || kdKeyBytes > 32)
      throw new ParseFailure("offcrypto: agile keyData geometry out of range")
    // password key encryptor
    val ek = xml.indexOf("encryptedKey")
    if (ek < 0) throw new ParseFailure("offcrypto: agile descriptor missing encryptedKey")
    val exml = xml.substring(math.max(0, ek - 3))
    val salt = b64(attr(exml, "encryptedKey", "saltValue"))
    val spins = intAttr(exml, "encryptedKey", "spinCount")
    val keyBytes = intAttr(exml, "encryptedKey", "keyBits") / 8
    val hashAlg = digestName(attr(exml, "encryptedKey", "hashAlgorithm"))
    val hashSize = intAttr(exml, "encryptedKey", "hashSize")
    val encVhi = b64(attr(exml, "encryptedKey", "encryptedVerifierHashInput"))
    val encVhv = b64(attr(exml, "encryptedKey", "encryptedVerifierHashValue"))
    val encKv = b64(attr(exml, "encryptedKey", "encryptedKeyValue"))
    if (spins < 0 || spins > 10000000) throw new ParseFailure("offcrypto: agile spin count implausible")
    if (keyBytes < 16 || keyBytes > 32) throw new ParseFailure("offcrypto: agile key size out of range")

    val md = java.security.MessageDigest.getInstance(hashAlg)
    def spun(password: String): Array[Byte] = {
      var h = md.digest(salt ++ password.getBytes(StandardCharsets.UTF_16LE))
      var i = 0
      while (i < spins) {
        md.reset(); md.update(le32(i)); md.update(h)
        h = md.digest()
        i += 1
      }
      h
    }
    def purposeKey(h: Array[Byte], bk: Array[Byte]): Array[Byte] = {
      md.reset(); md.update(h); md.update(bk)
      fit(md.digest(), keyBytes)
    }
    val iv = fit(salt, 16) // encryptor decryptions use the raw salt as IV
    val hFinal = DefaultPasswords.iterator
      .map(p => spunCached(hashAlg, spins, salt, p)(spun(p))).find { h =>
      val vhi = aesCbc(javax.crypto.Cipher.DECRYPT_MODE, purposeKey(h, BkVerifierInput), iv, encVhi)
      val vhv = aesCbc(javax.crypto.Cipher.DECRYPT_MODE, purposeKey(h, BkVerifierValue), iv, encVhv)
      md.reset()
      java.util.Arrays.equals(fit(md.digest(java.util.Arrays.copyOf(vhi, salt.length)), hashSize),
        java.util.Arrays.copyOf(vhv, hashSize))
    }.getOrElse(throw new DecryptFailure("password-protected Office document (agile)"))
    val secret = java.util.Arrays.copyOf(
      aesCbc(javax.crypto.Cipher.DECRYPT_MODE, purposeKey(hFinal, BkKeyValue), iv, encKv), kdKeyBytes)

    // optional integrity check over the full EncryptedPackage stream
    val pmd = java.security.MessageDigest.getInstance(kdHash)
    if (xml.contains("encryptedHmacKey")) {
      def kdIv(bk: Array[Byte]): Array[Byte] = { pmd.reset(); pmd.update(kdSalt); pmd.update(bk); fit(pmd.digest(), kdBlock) }
      val hmacKey = aesCbc(javax.crypto.Cipher.DECRYPT_MODE, secret, kdIv(BkHmacKey),
        b64(attr(xml, "dataIntegrity", "encryptedHmacKey")))
      val hmacVal = aesCbc(javax.crypto.Cipher.DECRYPT_MODE, secret, kdIv(BkHmacValue),
        b64(attr(xml, "dataIntegrity", "encryptedHmacValue")))
      val mac = javax.crypto.Mac.getInstance("Hmac" + kdHash.replace("-", ""))
      mac.init(new javax.crypto.spec.SecretKeySpec(java.util.Arrays.copyOf(hmacKey, pmd.getDigestLength), mac.getAlgorithm))
      val expect = mac.doFinal(pkg)
      if (!java.util.Arrays.equals(expect, java.util.Arrays.copyOf(hmacVal, expect.length)))
        throw new ParseFailure("offcrypto: agile package failed integrity check")
    }

    val plainLen = u64(pkg, 0)
    if (plainLen < 0 || plainLen > pkg.length - 8L)
      throw new ParseFailure("offcrypto: declared package size past ciphertext")
    val out = new java.io.ByteArrayOutputStream()
    var off = 8
    var seg = 0
    while (off < pkg.length && out.size() < plainLen) {
      // 4096-byte segments; the final one is padded to a block multiple
      val clen = math.min(4096, pkg.length - off)
      if (clen % 16 != 0) throw new ParseFailure("offcrypto: agile segment not block-aligned")
      pmd.reset(); pmd.update(kdSalt); pmd.update(le32(seg))
      val segIv = fit(pmd.digest(), kdBlock)
      out.write(aesCbc(javax.crypto.Cipher.DECRYPT_MODE, secret, segIv,
        java.util.Arrays.copyOfRange(pkg, off, off + clen)))
      off += clen
      seg += 1
    }
    if (out.size() < plainLen) throw new ParseFailure("offcrypto: agile package truncated")
    java.util.Arrays.copyOf(out.toByteArray, plainLen.toInt)
  }

  // ------------------------------------------------------ fixture writer

  /** Deterministic AGILE-encrypted compound file around a package ZIP
    * (SHA-512 + AES-128-CBC, 10 000 spins, dataIntegrity HMAC emitted;
    * all salts/keys derived from the content so identical inputs master
    * identical bytes).
    */
  def buildAgileEncrypted(packageZip: Array[Byte], password: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-512")
    def d(tag: String): Array[Byte] = { md.reset(); md.digest(tag.getBytes(StandardCharsets.UTF_8) ++ packageZip) }
    val kdSalt = fit(d("kdsalt"), 16)
    val salt = fit(d("pwsalt"), 16)
    val secret = fit(d("secret"), 16)
    val spins = 10000

    // package segments under the secret key
    val padded = java.util.Arrays.copyOf(packageZip, (packageZip.length + 15) & ~15)
    val pkg = new java.io.ByteArrayOutputStream()
    (0 until 8).foreach(k => pkg.write(((packageZip.length.toLong >> (8 * k)) & 0xff).toInt))
    var off = 0
    var seg = 0
    while (off < padded.length) {
      val clen = math.min(4096, padded.length - off)
      md.reset(); md.update(kdSalt); md.update(le32(seg))
      val segIv = fit(md.digest(), 16)
      pkg.write(aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, secret, segIv,
        java.util.Arrays.copyOfRange(padded, off, off + clen)))
      off += clen; seg += 1
    }
    val pkgBytes = pkg.toByteArray

    // integrity: HMAC-SHA512 over the whole stream
    val hmacKey = d("hmackey") // 64 bytes = hash size
    val mac = javax.crypto.Mac.getInstance("HmacSHA512")
    mac.init(new javax.crypto.spec.SecretKeySpec(hmacKey, "HmacSHA512"))
    val hmacVal = mac.doFinal(pkgBytes)
    def kdIv(bk: Array[Byte]): Array[Byte] = { md.reset(); md.update(kdSalt); md.update(bk); fit(md.digest(), 16) }
    val encHmacKey = aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, secret, kdIv(BkHmacKey), hmacKey)
    val encHmacVal = aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, secret, kdIv(BkHmacValue), hmacVal)

    // password encryptor
    var h = md.digest(salt ++ password.getBytes(StandardCharsets.UTF_16LE))
    var i = 0
    while (i < spins) { md.reset(); md.update(le32(i)); md.update(h); h = md.digest(); i += 1 }
    def pk(bk: Array[Byte]): Array[Byte] = { md.reset(); md.update(h); md.update(bk); fit(md.digest(), 16) }
    val iv = fit(salt, 16)
    val vhi = fit(d("verifier"), 16)
    md.reset()
    val vhv = md.digest(vhi) // 64 bytes, already a block multiple
    val encVhi = aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, pk(BkVerifierInput), iv, vhi)
    val encVhv = aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, pk(BkVerifierValue), iv, vhv)
    val encKv = aesCbc(javax.crypto.Cipher.ENCRYPT_MODE, pk(BkKeyValue), iv, secret)

    def b64e(b: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(b)
    val xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<encryption xmlns="http://schemas.microsoft.com/office/2006/encryption" xmlns:p="http://schemas.microsoft.com/office/2006/keyEncryptor/password">""" +
        s"""<keyData saltSize="16" blockSize="16" keyBits="128" hashSize="64" cipherAlgorithm="AES" cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512" saltValue="${b64e(kdSalt)}"/>""" +
        s"""<dataIntegrity encryptedHmacKey="${b64e(encHmacKey)}" encryptedHmacValue="${b64e(encHmacVal)}"/>""" +
        """<keyEncryptors><keyEncryptor uri="http://schemas.microsoft.com/office/2006/keyEncryptor/password">""" +
        s"""<p:encryptedKey spinCount="$spins" saltSize="16" blockSize="16" keyBits="128" hashSize="64" cipherAlgorithm="AES" cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512" saltValue="${b64e(salt)}" encryptedVerifierHashInput="${b64e(encVhi)}" encryptedVerifierHashValue="${b64e(encVhv)}" encryptedKeyValue="${b64e(encKv)}"/>""" +
        """</keyEncryptor></keyEncryptors></encryption>"""
    val info = new java.io.ByteArrayOutputStream()
    Seq(4, 0, 4, 0, 0x40, 0, 0, 0).foreach(info.write) // version 4.4, reserved 0x40
    info.write(xml.getBytes(StandardCharsets.UTF_8))

    Cfb.build(Seq(
      ("EncryptionInfo", info.toByteArray),
      ("EncryptedPackage", pkgBytes)))
  }

  /** Deterministic STANDARD-encrypted compound file around a package ZIP
    * (AES-128, fixed salt derived from the content so identical inputs
    * master identical bytes).
    */
  def buildEncrypted(packageZip: Array[Byte], password: String): Array[Byte] = {
    val salt = java.util.Arrays.copyOf(
      java.security.MessageDigest.getInstance("SHA-1").digest(packageZip), 16)
    val key = deriveKey(password, salt, 16)
    val verifier = java.util.Arrays.copyOf(
      java.security.MessageDigest.getInstance("SHA-1").digest(salt), 16)
    val verifierHash = java.security.MessageDigest.getInstance("SHA-1").digest(verifier)
    val encVerifier = aesEcb(javax.crypto.Cipher.ENCRYPT_MODE, key, verifier)
    val encVerifierHash = aesEcb(javax.crypto.Cipher.ENCRYPT_MODE, key,
      java.util.Arrays.copyOf(verifierHash, 32)) // zero-padded to a block

    val info = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { info.write(v & 0xff); info.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 until 4).foreach(k => info.write(((v >> (8 * k)) & 0xff).toInt))
    val csp = "Microsoft Enhanced RSA and AES Cryptographic Provider "
      .getBytes(StandardCharsets.UTF_16LE)
    w16(3); w16(2)              // version 3.2 (standard)
    w32(0x24)                   // flags: fCryptoAPI | fAES
    w32(32L + csp.length)       // header size
    w32(0x24); w32(0)           // header flags, sizeExtra
    w32(0x660e); w32(0x8004)    // AES-128, SHA-1
    w32(128); w32(0x18)         // key bits, provider type
    w32(0); w32(0)              // reserved
    info.write(csp)
    w32(16); info.write(salt)
    info.write(encVerifier)
    w32(20); info.write(encVerifierHash)

    val padded = java.util.Arrays.copyOf(packageZip, (packageZip.length + 15) & ~15)
    val pkg = new java.io.ByteArrayOutputStream()
    (0 until 8).foreach(k => pkg.write(((packageZip.length.toLong >> (8 * k)) & 0xff).toInt))
    pkg.write(aesEcb(javax.crypto.Cipher.ENCRYPT_MODE, key, padded))

    Cfb.build(Seq(
      ("EncryptionInfo", info.toByteArray),
      ("EncryptedPackage", pkg.toByteArray)))
  }
}
