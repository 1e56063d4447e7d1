package graft.core

import java.security.MessageDigest
import java.nio.charset.StandardCharsets

/** Deterministic hashing used across the engine.
  *
  * Everything here is a pure function of content — never of execution order —
  * preserving the reference's parallel==serial determinism invariant
  * (SURVEY §4; `ParallelOcrDeterminismTest.java`). All hex output is
  * lowercase, matching both Spark's `sha2`/`md5` and DuckDB's
  * `sha256`/`md5`, so every formula below is reproducible in the SQL oracle.
  */
object Ids {
  private val HexChars = "0123456789abcdef".toCharArray

  // MessageDigest.getInstance is allocation+lookup heavy; digests are
  // reusable after digest() resets them. One pair per thread.
  private val sha256Md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))
  private val md5Md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private def toHex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(2 * i) = HexChars(v >>> 4)
      out(2 * i + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  def sha256(s: String): String =
    toHex(sha256Md.get().digest(s.getBytes(StandardCharsets.UTF_8)))
  def md5(s: String): String =
    toHex(md5Md.get().digest(s.getBytes(StandardCharsets.UTF_8)))

  /** 32-bit unsigned word code: first 4 md5 bytes as Long in [0, 2^32) —
    * identical to parsing the first 8 lowercase-hex md5 chars.
    * SQL-reproducible: `conv(substr(md5(x),1,8),16,10)`.
    */
  def code32(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    code32(b, 0, b.length)
  }

  /** [[code32]] of the UTF-8 text in `bytes(off until off + len)`. */
  def code32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5Md.get()
    md.update(bytes, off, len)
    val b = md.digest()
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  /** Root id: content hash of the document identity (DigestIdentifier
    * semantics, `document/DigestIdentifier.java:21-23`).
    */
  def rootId(docId: Long): String = sha256(docId.toString)

  /** Length-prefixed field for the embed-id preimage: `<utf8ByteLen>:<s>`.
    * Concatenating length-prefixed fields in fixed arity is injective — no
    * two distinct component tuples share a preimage (a bare ':'-join is
    * ambiguous when a field itself contains ':'). UTF-8 BYTE length, not
    * chars, so the SQL oracle's `octet_length(encode(x))` matches exactly
    * for any input.
    */
  private def lenc(s: String): String =
    s"${s.getBytes(StandardCharsets.UTF_8).length}:$s"

  /** Recursive embed id — the SAME COMPONENTS as the reference's
    * `DigestIdentifier.java:26-68` (content hash, parent id, optional
    * embedded-relationship id, optional resource name, plus a graft-local
    * sibling ordinal), in a GRAFT-LOCAL ENCODING: the reference concatenates
    * raw fields with no separators into the digest; graft length-prefixes
    * each field ([[lenc]]) in fixed arity so the composition is injective
    * ((rel="", res="a:b") and (rel="a", res="b") hash differently).
    * Semantics preserved from the reference:
    *  - a content-less embed drops only the hash component (`:45-52` —
    *    contentPart is the empty field, all other fields still contribute);
    *  - `salt` is the optional per-project digest salt
    *    (`UpdatableDigester.java:6-19`: the digest is primed with the
    *    project key before the content bytes), so two projects ingesting
    *    the same bytes get distinct ids.
    */
  def embedId(content: String, parentId: String, ordinal: Int,
              relationshipId: String = "", resourceName: String = "",
              salt: String = ""): String = {
    val contentPart = if (content.isEmpty) "" else sha256(salt + content)
    sha256(lenc(contentPart) + lenc(parentId) + lenc(ordinal.toString) +
      lenc(relationshipId) + lenc(resourceName))
  }

  /** Canonical content key of a CONTAINER embed (archive-in-archive): the
    * length-prefixed (name, content) entry sequence, in archive order —
    * graft-local semantics on top of the reference's content addressing.
    * Hashing the logical entries instead of the on-disk bytes means the
    * same archive re-zipped at a different compression level keeps its id,
    * and the SQL oracle can recompute container ids without a deflate
    * implementation. Injective by the same length-prefix argument as
    * [[embedId]].
    */
  def canonicalEntries(entries: Seq[(String, String)]): String =
    entries.iterator.map { case (n, c) => lenc(n) + lenc(c) }.mkString

  /** Embed display name (`EmbedSpawner.java:79-81,264-281`): the resource
    * name when present, else `untitled_<ordinal>` — per-parent ordinal by
    * default, or the document-GLOBAL spawn counter in legacy mode (the
    * reference's pre-9.x naming kept one counter per root document).
    */
  def embedName(resourceName: String, perParentOrdinal: Int,
                globalOrdinal: Int, legacy: Boolean = false): String =
    if (resourceName.nonEmpty) resourceName
    else s"untitled_${if (legacy) globalOrdinal else perParentOrdinal}"

  /** Content-addressed artifact ref, after the reference's xx/yy/<id>/raw
    * layout (`ArtifactUtils.java:6-8`), shortened to one level.
    */
  def artifactRef(docId: Long): String = {
    val h = rootId(docId)
    s"art/${h.substring(0, 2)}/$h"
  }
}

/** MinHash / SimHash / polynomial fingerprint parameters shared with the
  * SQL oracle (see graft.Oracle). Prime P fits in int32 so all modular
  * arithmetic stays exact in int64 on both engines.
  */
object HashParams {
  val P: Long = 2038074743L // prime < 2^31
  val NumMinHash = 12
  val BandSize = 3 // -> 4 bands
  def a(i: Int): Long = 2L * i + 3
  def b(i: Int): Long = 7L * i + 1
  def minhash(i: Int, x: Long): Long = (a(i) * x + b(i)) % P

  /** Powers of 31 for the polynomial fingerprint, cycled mod 8 so the max
    * term (1e6 * 31^7 ~ 2.8e16) times 100 words stays < 2^63.
    */
  val Pow31: Array[Long] = Array.iterate(1L, 8)(_ * 31L)
}
