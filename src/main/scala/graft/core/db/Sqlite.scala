package graft.core.db

import graft.core.ParseFailure
import graft.core.Bin.{be16, be32, slice, u8}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8, UTF_16LE, UTF_16BE}
import scala.collection.mutable.ArrayBuffer

/** From-scratch SQLite database file reader + fixture writer, per the
  * published file-format spec (sqlite.org/fileformat2.html). The reference
  * stack parses SQLite databases through Tika's `SQLite3Parser`
  * (`Extractor.java`'s AutoDetectParser surface): every user table becomes
  * an embedded tabular document and BLOB cells become nested embedded
  * documents — the same shape this reader feeds `Extract.explode`.
  *
  * Structure (nothing shared with the C implementation): 100-byte header →
  * page array; the `sqlite_schema` table b-tree is rooted at page 1; each
  * user table is a rowid table b-tree (leaf 0x0D / interior 0x05) or, for
  * WITHOUT ROWID tables, an index b-tree (leaf 0x0A / interior 0x02) whose
  * records carry the row columns. Records use the serial-type header
  * encoding; oversized payloads spill to overflow-page chains. All walks
  * are iteration-capped and bounds-checked: malformed input throws
  * [[ParseFailure]], never returns partial silent data.
  */
object Sqlite {

  private val Magic: Array[Byte] =
    "SQLite format 3".getBytes(ISO_8859_1) :+ 0.toByte

  def isSqlite(bytes: Array[Byte]): Boolean =
    bytes.length >= 100 && Magic.indices.forall(i => bytes(i) == Magic(i))

  /** One decoded cell value. Rendering keeps oracle-checkable text out of
    * float-formatting territory unless a fixture opts into reals.
    */
  sealed trait Cell
  case object NullCell extends Cell
  final case class IntCell(v: Long) extends Cell
  final case class RealCell(v: Double) extends Cell
  final case class TextCell(s: String) extends Cell
  final case class BlobCell(b: Array[Byte]) extends Cell

  final case class Row(rowid: Long, cells: Vector[Cell])
  final case class Table(name: String, columns: Vector[String], rows: Vector[Row],
                         withoutRowid: Boolean)

  /** Caps protecting the walk against crafted input: pages visited per
    * b-tree (covers interior fan-out bombs and overflow-chain loops) and
    * total decoded cells per database.
    */
  private val MaxPagesPerTree = 1 << 16
  private val MaxDepth = 32

  // ---------------------------------------------------------------- read

  private final class Db(val bytes: Array[Byte]) {
    if (!isSqlite(bytes)) throw new ParseFailure("not a sqlite database")
    val pageSize: Int = {
      val raw = be16(bytes, 16)
      val ps = if (raw == 1) 65536 else raw
      if (ps < 512 || ps > 65536 || (ps & (ps - 1)) != 0)
        throw new ParseFailure(s"invalid page size $raw")
      ps
    }
    val reserved: Int = u8(bytes, 20)
    val usable: Int = pageSize - reserved
    if (usable < 480) throw new ParseFailure("reserved bytes leave unusable page")
    val encoding: Int = be32(bytes, 56).toInt match {
      case 0 | 1 => 1 // 0: legacy empty-schema files predate the field
      case e @ (2 | 3) => e
      case e => throw new ParseFailure(s"unknown text encoding $e")
    }
    val nPages: Int = {
      val declared = be32(bytes, 28)
      val byLen = bytes.length / pageSize
      // header page count is authoritative when valid-for matches the
      // change counter (spec §1.3.7); older writers leave it stale — fall
      // back to the file length
      val n = if (declared > 0 && be32(bytes, 24) == be32(bytes, 92)) declared else byLen
      if (n < 1 || n > byLen) throw new ParseFailure("page count exceeds file")
      n.toInt
    }
    def page(no: Int): Int = {
      if (no < 1 || no > nPages) throw new ParseFailure(s"page $no out of range")
      (no - 1) * pageSize
    }
    def text(b: Array[Byte], off: Int, len: Int): String = encoding match {
      case 1 => new String(b, off, len, UTF_8)
      case 2 => new String(b, off, len, UTF_16LE)
      case _ => new String(b, off, len, UTF_16BE)
    }
    // payload-spill thresholds (spec §1.6: B-tree Pages)
    def maxLeafTable: Int = usable - 35
    def minLocal: Int = (usable - 12) * 32 / 255 - 23
    def maxLeafIndex: Int = (usable - 12) * 64 / 255 - 23
  }

  /** (value, bytesConsumed) — SQLite varint: 1–9 bytes, big-endian 7-bit
    * groups, the 9th byte contributing all 8 bits.
    */
  private def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val x = u8(b, off + i)
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | u8(b, off + 8), 9)
  }

  /** Assembles a cell's full payload, following the overflow chain when
    * the local threshold spilled it (visited-page cap breaks pointer
    * loops).
    */
  private def payload(db: Db, cellOff: Int, payloadLen: Long, maxLocalHint: Int): Array[Byte] = {
    if (payloadLen < 0 || payloadLen > Int.MaxValue) throw new ParseFailure("payload length")
    val total = payloadLen.toInt
    val local =
      if (total <= maxLocalHint) total
      else {
        val m = db.minLocal
        val k = m + (total - m) % (db.usable - 4)
        if (k > maxLocalHint) m else k
      }
    if (cellOff + local > db.bytes.length) throw new ParseFailure("truncated cell payload")
    if (local == total) slice(db.bytes, cellOff, total)
    else {
      val out = new Array[Byte](total)
      System.arraycopy(db.bytes, cellOff, out, 0, local)
      var next = be32(db.bytes, cellOff + local)
      var done = local
      var hops = 0
      while (done < total) {
        if (next == 0) throw new ParseFailure("overflow chain ends short")
        hops += 1
        if (hops > MaxPagesPerTree) throw new ParseFailure("overflow chain loop")
        val po = db.page(next.toInt)
        val take = math.min(db.usable - 4, total - done)
        if (po + 4 + take > db.bytes.length) throw new ParseFailure("truncated overflow page")
        System.arraycopy(db.bytes, po + 4, out, done, take)
        done += take
        next = be32(db.bytes, po)
      }
      out
    }
  }

  /** Decodes one record (serial-type header + body) into cells. */
  private def record(db: Db, p: Array[Byte]): Vector[Cell] = {
    val (hdrLen, n0) = varint(p, 0)
    if (hdrLen < n0 || hdrLen > p.length) throw new ParseFailure("record header length")
    val types = ArrayBuffer.empty[Long]
    var o = n0
    while (o < hdrLen) { val (t, n) = varint(p, o); types += t; o += n }
    var body = hdrLen.toInt
    val cells = types.map { t =>
      def take(n: Long): Int = {
        val s = body
        if (n < 0 || n > p.length - s) throw new ParseFailure("record body overrun")
        body += n.toInt; s
      }
      def intN(n: Int): Long = {
        var v = 0L; val s = take(n)
        var i = 0
        while (i < n) { v = (v << 8) | (p(s + i) & 0xff); i += 1 }
        // sign-extend from the top bit of the n-byte big-endian value
        val shift = 64 - 8 * n
        (v << shift) >> shift
      }
      t match {
        case 0 => NullCell
        case 1 => IntCell(intN(1))
        case 2 => IntCell(intN(2))
        case 3 => IntCell(intN(3))
        case 4 => IntCell(intN(4))
        case 5 => IntCell(intN(6))
        case 6 => IntCell(intN(8))
        case 7 => RealCell(java.lang.Double.longBitsToDouble(intN(8)))
        case 8 => IntCell(0L)
        case 9 => IntCell(1L)
        case 10 | 11 => throw new ParseFailure(s"reserved serial type $t")
        case n if n >= 13 && n % 2 == 1 =>
          val len = (n - 13) / 2; val s = take(len); TextCell(db.text(p, s, len.toInt))
        case n if n >= 12 =>
          val len = (n - 12) / 2; val s = take(len)
          BlobCell(slice(p, s, len))
        case n => throw new ParseFailure(s"invalid serial type $n")
      }
    }
    cells.toVector
  }

  /** In-order walk of a table or index b-tree rooted at `root`, emitting
    * (rowid, record payload) per row. Index b-trees (WITHOUT ROWID tables)
    * carry records on interior cells too; rowid is -1 there.
    */
  private def walkTree(db: Db, root: Int, index: Boolean,
                       emit: (Long, Array[Byte]) => Unit): Unit = {
    var visited = 0
    def walk(pageNo: Int, depth: Int): Unit = {
      visited += 1
      if (visited > MaxPagesPerTree) throw new ParseFailure("b-tree page cap")
      if (depth > MaxDepth) throw new ParseFailure("b-tree depth cap")
      val po = db.page(pageNo)
      val hdr = po + (if (pageNo == 1) 100 else 0)
      if (hdr + 8 > db.bytes.length) throw new ParseFailure("truncated page header")
      val typ = u8(db.bytes, hdr)
      val nCells = be16(db.bytes, hdr + 3)
      val interior = typ == 0x05 || typ == 0x02
      val leaf = typ == 0x0d || typ == 0x0a
      if (!interior && !leaf) throw new ParseFailure(f"unknown b-tree page type 0x$typ%02x")
      // a rowid tree is made of 0x05/0x0d pages only, an index tree of
      // 0x02/0x0a only — a cross-typed page is structural damage
      if ((typ == 0x0a || typ == 0x02) != index)
        throw new ParseFailure(f"page type 0x$typ%02x in ${if (index) "index" else "table"} tree")
      val ptrBase = hdr + (if (interior) 12 else 8)
      var i = 0
      while (i < nCells) {
        val cellOff = po + be16(db.bytes, ptrBase + 2 * i)
        if (cellOff < po || cellOff >= po + db.pageSize) throw new ParseFailure("cell pointer out of page")
        typ match {
          case 0x05 => // interior table: child page + rowid key, no record
            walk(be32(db.bytes, cellOff).toInt, depth + 1)
          case 0x0d => // leaf table: payloadLen, rowid, record
            val (plen, n1) = varint(db.bytes, cellOff)
            val (rowid, n2) = varint(db.bytes, cellOff + n1)
            emit(rowid, payload(db, cellOff + n1 + n2, plen, db.maxLeafTable))
          case 0x02 => // interior index: child page + record-bearing key
            walk(be32(db.bytes, cellOff).toInt, depth + 1)
            val (plen, n1) = varint(db.bytes, cellOff + 4)
            emit(-1L, payload(db, cellOff + 4 + n1, plen, db.maxLeafIndex))
          case _ => // leaf index: payloadLen, record
            val (plen, n1) = varint(db.bytes, cellOff)
            emit(-1L, payload(db, cellOff + n1, plen, db.maxLeafIndex))
        }
        i += 1
      }
      if (interior) walk(be32(db.bytes, hdr + 8).toInt, depth + 1)
    }
    walk(root, 0)
  }

  /** Column names from a CREATE TABLE statement: the parenthesized list,
    * split at top level, first token per segment (quote styles "c", [c],
    * `c`), table-level constraint segments dropped. Also reports the
    * INTEGER PRIMARY KEY column index (rowid alias) and WITHOUT ROWID.
    */
  private[graft] def parseCreate(sql: String): (Vector[String], Int, Boolean) = {
    val open = sql.indexOf('(')
    if (open < 0) return (Vector.empty, -1, false)
    var depth = 0; var i = open; var end = -1
    while (i < sql.length && end < 0) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    if (end < 0) end = sql.length
    val inner = sql.substring(open + 1, end)
    val segs = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    depth = 0
    inner.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => segs += cur.result(); cur.clear()
      case c => cur += c
    }
    segs += cur.result()
    val constraintHeads = Set("primary", "unique", "check", "foreign", "constraint")
    val cols = ArrayBuffer.empty[String]
    var ipk = -1
    segs.foreach { seg =>
      val t = seg.trim
      if (t.nonEmpty) {
        val head = t.takeWhile(c => !Character.isWhitespace(c) && c != '(')
        if (!constraintHeads(head.toLowerCase(java.util.Locale.ROOT))) {
          val name = head.stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("[").stripSuffix("]")
            .stripPrefix("`").stripSuffix("`")
            .stripPrefix("'").stripSuffix("'")
          val lower = t.toLowerCase(java.util.Locale.ROOT)
          if (lower.matches("""(?s).*\binteger\s+primary\s+key\b.*""")) ipk = cols.length
          cols += name
        }
      }
    }
    val tail = sql.substring(end min sql.length).toLowerCase(java.util.Locale.ROOT)
    (cols.toVector, ipk, tail.contains("without rowid"))
  }

  /** Every user table in schema order (sqlite_* internals skipped).
    * Throws [[ParseFailure]] on structural damage; `maxCells` caps the
    * total decoded cell count (corpus-facing bomb guard).
    */
  def tables(bytes: Array[Byte], maxCells: Int = 1 << 20): Vector[Table] = {
    val db = new Db(bytes)
    var cellBudget = maxCells.toLong
    // schema rows: (type, name, tbl_name, rootpage, sql) on page 1
    val schema = ArrayBuffer.empty[(String, Int, String)]
    walkTree(db, 1, index = false, (_, p) => {
      record(db, p) match {
        case Vector(TextCell("table"), TextCell(name), _, rp, sqlCell) if !name.startsWith("sqlite_") =>
          val root = rp match { case IntCell(v) => v.toInt; case _ => throw new ParseFailure("schema rootpage") }
          val sql = sqlCell match { case TextCell(s) => s; case _ => "" }
          schema += ((name, root, sql))
        case _ => () // indexes, views, triggers, internal tables
      }
    })
    schema.map { case (name, root, sql) =>
      val (cols, ipk, noRowid) = parseCreate(sql)
      val rows = ArrayBuffer.empty[Row]
      walkTree(db, root, index = noRowid, (rowid, p) => {
        var cells = record(db, p)
        cellBudget -= math.max(1, cells.length)
        if (cellBudget < 0) throw new ParseFailure("cell budget exceeded")
        // rowid alias: an INTEGER PRIMARY KEY column stores NULL in the
        // record; the value IS the rowid (spec §2.1)
        if (!noRowid && ipk >= 0 && ipk < cells.length && cells(ipk) == NullCell)
          cells = cells.updated(ipk, IntCell(rowid))
        // rows written before ALTER TABLE ADD COLUMN are short: pad
        if (cols.nonEmpty && cells.length < cols.length)
          cells = cells ++ Vector.fill(cols.length - cells.length)(NullCell)
        rows += Row(rowid, cells)
      })
      Table(name, cols, rows.toVector, noRowid)
    }.toVector
  }

  /** Deterministic text rendering: header line then tab-joined rows —
    * the tabular shape the csv/xls routes emit. Blob cells render as a
    * size marker; their bytes spawn as embedded children via the route.
    */
  def cellText(c: Cell): String = c match {
    case NullCell => ""
    case IntCell(v) => v.toString
    case RealCell(v) => v.toString
    case TextCell(s) => s
    case BlobCell(b) => s"[blob ${b.length}B]"
  }
  def tableText(t: Table): String =
    (t.columns.mkString("\t") +: t.rows.map(_.cells.map(cellText).mkString("\t")))
      .mkString("\n")

  // --------------------------------------------------------------- write

  /** Fixture writer: a real single-file database with one rowid-table
    * b-tree per table (two levels when rows overflow one leaf), overflow
    * chains for oversized records, and the schema table on page 1.
    * Big-enough-for-fixtures only: the schema must fit page 1.
    */
  def build(tabs: Seq[(String, Seq[String], Seq[Seq[Cell]])],
            pageSize: Int = 4096): Array[Byte] = {
    require(pageSize >= 512 && pageSize <= 65536 && (pageSize & (pageSize - 1)) == 0)
    val usable = pageSize
    val maxLeaf = usable - 35
    val minLoc = (usable - 12) * 32 / 255 - 23
    val pages = ArrayBuffer[Array[Byte]](null) // index 0 = page 1, filled last

    def vlen(v: Long): Int = {
      var n = 1; var x = v
      while ((x >>> 7) != 0 && n < 9) { n += 1; x >>>= 7 }
      n
    }
    def putVarint(out: ArrayBuffer[Byte], v: Long): Unit = {
      val n = vlen(v)
      if (n == 9) {
        var i = 8
        while (i >= 1) { out += (((v >>> (8 + 7 * (i - 1))) & 0x7f) | 0x80).toByte; i -= 1 }
        out += (v & 0xff).toByte
      } else {
        var i = n - 1
        while (i >= 0) {
          val g = ((v >>> (7 * i)) & 0x7f).toInt
          out += (if (i == 0) g else g | 0x80).toByte
          i -= 1
        }
      }
    }
    def serial(c: Cell): (Long, Array[Byte]) = c match {
      case NullCell => (0L, Array.empty)
      case IntCell(0) => (8L, Array.empty)
      case IntCell(1) => (9L, Array.empty)
      case IntCell(v) =>
        val n = if (v >= Byte.MinValue && v <= Byte.MaxValue) 1
        else if (v >= Short.MinValue && v <= Short.MaxValue) 2
        else if (v >= -(1L << 23) && v < (1L << 23)) 3
        else if (v >= Int.MinValue && v <= Int.MaxValue) 4
        else if (v >= -(1L << 47) && v < (1L << 47)) 6
        else 8
        val t = n match { case 1 => 1L; case 2 => 2L; case 3 => 3L; case 4 => 4L; case 6 => 5L; case _ => 6L }
        val b = new Array[Byte](n)
        var i = 0
        while (i < n) { b(i) = ((v >>> (8 * (n - 1 - i))) & 0xff).toByte; i += 1 }
        (t, b)
      case RealCell(v) =>
        val bits = java.lang.Double.doubleToLongBits(v)
        (7L, (0 until 8).map(i => ((bits >>> (8 * (7 - i))) & 0xff).toByte).toArray)
      case TextCell(s) => val b = s.getBytes(UTF_8); (13L + 2L * b.length, b)
      case BlobCell(b) => (12L + 2L * b.length, b)
    }
    def recordBytes(cells: Seq[Cell]): Array[Byte] = {
      val parts = cells.map(serial)
      val typesLen = parts.map(p => vlen(p._1)).sum
      val hdrLen = // header length varint includes itself (fixpoint)
        if (vlen((typesLen + 1).toLong) == 1) typesLen + 1
        else typesLen + vlen((typesLen + 2).toLong)
      val out = ArrayBuffer.empty[Byte]
      putVarint(out, hdrLen.toLong)
      parts.foreach(p => putVarint(out, p._1))
      parts.foreach(out ++= _._2)
      out.toArray
    }
    def leafCell(rowid: Long, rec: Array[Byte]): Array[Byte] = {
      val out = ArrayBuffer.empty[Byte]
      putVarint(out, rec.length.toLong)
      putVarint(out, rowid)
      if (rec.length <= maxLeaf) out ++= rec
      else { // spill: local share then a fresh overflow chain
        val k = minLoc + (rec.length - minLoc) % (usable - 4)
        val local = if (k > maxLeaf) minLoc else k
        out ++= rec.take(local)
        var off = local
        var firstPage = 0
        var prevPatch: (Int, Int) = null // (pageIdx, pointer offset within page)
        while (off < rec.length) {
          val pg = new Array[Byte](pageSize)
          val take = math.min(usable - 4, rec.length - off)
          System.arraycopy(rec, off, pg, 4, take)
          pages += pg
          val no = pages.length
          if (firstPage == 0) firstPage = no
          if (prevPatch != null) {
            val (pi, po) = prevPatch
            pages(pi)(po) = (no >>> 24).toByte; pages(pi)(po + 1) = (no >>> 16).toByte
            pages(pi)(po + 2) = (no >>> 8).toByte; pages(pi)(po + 3) = no.toByte
          }
          prevPatch = (pages.length - 1, 0)
          off += take
        }
        out += (firstPage >>> 24).toByte += (firstPage >>> 16).toByte +=
          (firstPage >>> 8).toByte += firstPage.toByte
      }
      out.toArray
    }
    /** Packs cells into b-tree pages content-end-first; returns root page no. */
    def packTree(cells: Seq[(Long, Array[Byte])], hdrReserve: Int): Int = {
      val leaves = ArrayBuffer.empty[(Int, Long)] // (pageNo, maxRowid)
      var batch = ArrayBuffer.empty[(Long, Array[Byte])]
      var batchLen = 0
      def flush(): Unit = if (batch.nonEmpty) {
        val pg = new Array[Byte](pageSize)
        pg(hdrReserve) = 0x0d
        pg(hdrReserve + 3) = (batch.length >>> 8).toByte
        pg(hdrReserve + 4) = batch.length.toByte
        var content = pageSize
        var pi = hdrReserve + 8
        batch.foreach { case (_, cb) =>
          content -= cb.length
          System.arraycopy(cb, 0, pg, content, cb.length)
          pg(pi) = (content >>> 8).toByte; pg(pi + 1) = content.toByte
          pi += 2
        }
        pg(hdrReserve + 5) = (content >>> 8).toByte
        pg(hdrReserve + 6) = content.toByte
        pages += pg
        leaves += ((pages.length, batch.last._1))
        batch = ArrayBuffer.empty; batchLen = 0
      }
      cells.foreach { case (rowid, cb) =>
        if (cb.length > usable - 35 + 4 + 18) // cell incl. pointers must fit one page
          throw new ParseFailure("fixture cell exceeds page")
        if (hdrReserve + 8 + 2 * (batch.length + 1) + batchLen + cb.length > pageSize) flush()
        batch += ((rowid, cb)); batchLen += cb.length
      }
      flush()
      if (leaves.isEmpty) { // empty table: one empty leaf
        val pg = new Array[Byte](pageSize)
        pg(hdrReserve) = 0x0d
        pg(hdrReserve + 5) = (pageSize >>> 8).toByte; pg(hdrReserve + 6) = pageSize.toByte
        pages += pg
        pages.length
      } else if (leaves.length == 1) leaves.head._1
      else {
        val pg = new Array[Byte](pageSize)
        pg(0) = 0x05
        val inner = leaves.dropRight(1)
        pg(3) = (inner.length >>> 8).toByte; pg(4) = inner.length.toByte
        val right = leaves.last._1
        pg(8) = (right >>> 24).toByte; pg(9) = (right >>> 16).toByte
        pg(10) = (right >>> 8).toByte; pg(11) = right.toByte
        var content = pageSize
        var pi = 12
        inner.foreach { case (no, maxRowid) =>
          val cell = ArrayBuffer[Byte]((no >>> 24).toByte, (no >>> 16).toByte,
            (no >>> 8).toByte, no.toByte)
          putVarint(cell, maxRowid)
          content -= cell.length
          cell.zipWithIndex.foreach { case (b, i) => pg(content + i) = b }
          pg(pi) = (content >>> 8).toByte; pg(pi + 1) = content.toByte
          pi += 2
        }
        pg(5) = (content >>> 8).toByte; pg(6) = content.toByte
        pages += pg
        pages.length
      }
    }

    val roots = tabs.map { case (name, cols, rows) =>
      val cells = rows.zipWithIndex.map { case (r, i) => (i + 1L, leafCell(i + 1L, recordBytes(r))) }
      (name, cols, packTree(cells, 0))
    }
    // schema table on page 1 (100-byte file header + leaf page header)
    val schemaCells = roots.zipWithIndex.map { case ((name, cols, root), i) =>
      val sql = s"CREATE TABLE $name (${cols.mkString(", ")})"
      (i + 1L, leafCell(i + 1L, recordBytes(Seq(
        TextCell("table"), TextCell(name), TextCell(name), IntCell(root.toLong), TextCell(sql)))))
    }
    val p1 = new Array[Byte](pageSize)
    p1(100) = 0x0d
    p1(103) = (schemaCells.length >>> 8).toByte
    p1(104) = schemaCells.length.toByte
    var content = pageSize
    var pi = 108
    schemaCells.foreach { case (_, cb) =>
      content -= cb.length
      if (content < 108 + 2 * schemaCells.length) throw new ParseFailure("fixture schema exceeds page 1")
      System.arraycopy(cb, 0, p1, content, cb.length)
      p1(pi) = (content >>> 8).toByte; p1(pi + 1) = content.toByte
      pi += 2
    }
    p1(105) = (content >>> 8).toByte
    p1(106) = content.toByte
    pages(0) = p1

    // 100-byte header over page 1
    System.arraycopy(Magic, 0, p1, 0, 16)
    val psField = if (pageSize == 65536) 1 else pageSize
    p1(16) = (psField >>> 8).toByte; p1(17) = psField.toByte
    p1(18) = 1; p1(19) = 1 // file format read/write version: legacy
    p1(21) = 64; p1(22) = 32; p1(23) = 32 // payload fractions (fixed by spec)
    def put32(off: Int, v: Long): Unit = {
      p1(off) = (v >>> 24).toByte; p1(off + 1) = (v >>> 16).toByte
      p1(off + 2) = (v >>> 8).toByte; p1(off + 3) = v.toByte
    }
    put32(24, 1) // change counter
    put32(28, pages.length.toLong)
    put32(40, 1) // schema cookie
    put32(44, 4) // schema format
    put32(56, 1) // UTF-8
    put32(92, 1) // version-valid-for == change counter
    put32(96, 3042000) // sqlite version number
    pages.flatMap(p => p: Iterable[Byte]).toArray
  }
}
