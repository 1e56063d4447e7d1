package graft.core.office

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import graft.core.ParseFailure

/** Compound File Binary (OLE2/POIFS) container — pure JDK, built from the
  * published MS-CFB specification (no POI).
  *
  * The reference routes every legacy Office / Outlook payload through
  * POIFS (`ResilientOutlookPSTParser` relatives; fixtures
  * `3rd-level-bug-732.msg`, the legacy .doc test-documents): a CFB file is a little
  * FAT filesystem — 512-byte sectors, a FAT chain table, a mini-FAT for
  * streams under 4 KiB packed into 64-byte mini sectors inside the root
  * entry's "mini stream", and a directory of red-black-tree nodes naming
  * storages (folders) and streams (files). This module gives
  * [[graft.core.route.Extract]] the same container surface the reference
  * gets from POIFS: enumerate `(path, bytes)` stream entries so each can
  * spawn as an embedded child document.
  *
  * Writer + reader pair: [[build]] produces deterministic version-3 bytes
  * (pinned zero timestamps, canonical name-sorted sibling trees), so test
  * fixtures are a pure function of the logical entries; [[entries]] walks
  * any spec-conforming file with cycle/bounds guards, throwing
  * [[ParseFailure]] on malformed input (classified by the job layer, never
  * a task failure).
  */
object Cfb {

  private val Signature: Array[Byte] =
    Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte)

  final val EndOfChain = 0xfffffffe
  final val FreeSect = 0xffffffff
  final val FatSect = 0xfffffffd
  final val DifSect = 0xfffffffc
  final val NoStream = 0xffffffff
  final val MiniCutoff = 4096
  final val SectorSize = 512
  final val MiniSectorSize = 64

  def isCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && Signature.indices.forall(i => bytes(i) == Signature(i))

  /** One directory node seen by the reader: slash-joined storage path (root
    * excluded), payload for streams (None = refused by the size guard),
    * isStorage for folder nodes.
    */
  final case class Entry(path: String, bytes: Option[Array[Byte]], isStorage: Boolean)

  // ---------------------------------------------------------------- reader

  private final case class DirEntry(name: String, objType: Int, left: Int,
                                    right: Int, child: Int, startSector: Int,
                                    size: Long)

  /** Enumerate the container's STREAM entries in canonical directory order
    * (in-order sibling-tree traversal = the CFB name sort), paths
    * slash-joined through their storage ancestry. Streams larger than
    * `maxEntryBytes` are listed with `bytes=None` (the declared-size guard,
    * same contract as [[graft.sources.Archive.unzip]]). Malformed input —
    * truncated sectors, FAT cycles, out-of-range ids — throws ParseFailure.
    */
  def entries(bytes: Array[Byte], maxEntryBytes: Int,
              maxEntries: Int = 10000): Vector[Entry] = {
    if (!isCfb(bytes)) throw new ParseFailure("not a compound file: bad signature")
    if (bytes.length < SectorSize) throw new ParseFailure("truncated compound file header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val majorVersion = bb.getShort(26) & 0xffff
    val sectorShift = bb.getShort(30) & 0xffff
    if (sectorShift != 9 && sectorShift != 12)
      throw new ParseFailure(s"unsupported sector shift $sectorShift")
    val sec = 1 << sectorShift
    val miniShift = bb.getShort(32) & 0xffff
    if (miniShift != 6) throw new ParseFailure(s"unsupported mini sector shift $miniShift")
    val numFat = bb.getInt(44)
    val firstDir = bb.getInt(48)
    val cutoff = bb.getInt(56)
    val firstMiniFat = bb.getInt(60)
    val numMiniFat = bb.getInt(64)
    val firstDifat = bb.getInt(68)
    val numDifat = bb.getInt(72)
    val totalSectors = (bytes.length - sec) / sec

    def sectorOff(s: Int): Int = {
      if (s < 0 || s >= totalSectors)
        throw new ParseFailure(s"sector $s out of range ($totalSectors sectors)")
      sec + s * sec
    }

    // DIFAT: 109 header slots + chained DIFAT sectors (each holds sec/4-1
    // FAT locations plus a next pointer in its last slot)
    val difat = Vector.newBuilder[Int]
    var i = 0
    while (i < 109) { difat += bb.getInt(76 + 4 * i); i += 1 }
    var dsec = firstDifat
    var dseen = 0
    while (dsec != EndOfChain && dsec != FreeSect) {
      if (dseen > numDifat + totalSectors) throw new ParseFailure("DIFAT chain cycle")
      val off = sectorOff(dsec)
      var j = 0
      while (j < sec / 4 - 1) { difat += bb.getInt(off + 4 * j); j += 1 }
      dsec = bb.getInt(off + sec - 4)
      dseen += 1
    }
    val fatSectors = difat.result().filter(s => s != FreeSect && s >= 0).take(numFat)
    if (fatSectors.length < numFat)
      throw new ParseFailure(s"DIFAT lists ${fatSectors.length} FAT sectors, header claims $numFat")

    val fat = new Array[Int](fatSectors.length * (sec / 4))
    fatSectors.zipWithIndex.foreach { case (s, k) =>
      val off = sectorOff(s)
      var j = 0
      while (j < sec / 4) { fat(k * (sec / 4) + j) = bb.getInt(off + 4 * j); j += 1 }
    }

    /** Follow a FAT chain, bounds- and cycle-guarded. */
    def chain(start: Int): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      var s = start
      var n = 0
      while (s != EndOfChain) {
        if (s < 0 || s >= fat.length) throw new ParseFailure(s"FAT chain sector $s out of table")
        if (n > fat.length) throw new ParseFailure("FAT chain cycle")
        out += s; s = fat(s); n += 1
      }
      out.result()
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      val sectors = chain(start)
      if (size > sectors.length.toLong * sec)
        throw new ParseFailure(s"stream size $size exceeds chain capacity")
      val out = new Array[Byte](size.toInt)
      var done = 0
      sectors.iterator.takeWhile(_ => done < size).foreach { s =>
        val n = math.min(sec, size.toInt - done)
        System.arraycopy(bytes, sectorOff(s), out, done, n)
        done += n
      }
      out
    }

    // directory entries
    val dirSectors = chain(firstDir)
    val perSec = sec / 128
    val dir = Vector.newBuilder[DirEntry]
    dirSectors.foreach { s =>
      val off = sectorOff(s)
      var k = 0
      while (k < perSec) {
        val o = off + 128 * k
        val nameLen = bb.getShort(o + 64) & 0xffff
        val objType = bytes(o + 66) & 0xff
        val name =
          if (nameLen < 2 || nameLen > 64) ""
          else new String(bytes, o, nameLen - 2, StandardCharsets.UTF_16LE)
        // version-3 readers must use only the LOW 32 bits of stream size —
        // real writers leave garbage in bytes 124-127 (MS-CFB §2.6.1)
        val rawSize = bb.getLong(o + 120)
        val size = if (majorVersion == 3) rawSize & 0xffffffffL else rawSize
        dir += DirEntry(name, objType, bb.getInt(o + 68), bb.getInt(o + 72),
          bb.getInt(o + 76), bb.getInt(o + 116), size)
        k += 1
      }
    }
    val entriesArr = dir.result()
    if (entriesArr.isEmpty || entriesArr(0).objType != 5)
      throw new ParseFailure("compound file missing root entry")
    val root = entriesArr(0)

    // mini FAT + mini stream (the root entry's own chain holds the packed
    // 64-byte mini sectors)
    val miniFat: Array[Int] =
      if (numMiniFat == 0 || firstMiniFat == EndOfChain) Array.empty
      else {
        val raw = readChain(firstMiniFat, numMiniFat.toLong * sec)
        val mb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        Array.tabulate(raw.length / 4)(j => mb.getInt(4 * j))
      }
    val miniStream: Array[Byte] =
      if (root.size == 0) Array.empty else readChain(root.startSector, root.size)

    def readMiniChain(start: Int, size: Long): Array[Byte] = {
      val out = new Array[Byte](size.toInt)
      var s = start
      var done = 0
      var n = 0
      while (done < size) {
        if (s == EndOfChain) throw new ParseFailure("mini chain ends before declared size")
        if (s < 0 || s >= miniFat.length) throw new ParseFailure(s"mini FAT sector $s out of table")
        if (n > miniFat.length) throw new ParseFailure("mini FAT chain cycle")
        val off = s * MiniSectorSize
        val take = math.min(MiniSectorSize, size.toInt - done)
        // the declared bytes must actually exist — a mini sector that
        // starts inside the mini stream but extends past its end is
        // malformed input (zero-filling here would feed silently-truncated
        // bytes into content-derived ids)
        if (off < 0 || off + take > miniStream.length)
          throw new ParseFailure("mini sector past mini stream end")
        System.arraycopy(miniStream, off, out, done, take)
        done += take
        s = miniFat(s); n += 1
      }
      out
    }

    // in-order sibling-tree walk (left, self, right) = CFB canonical name
    // order; storages recurse through their child pointer. ITERATIVE with
    // an explicit stack: a crafted file with a 100k-long left-linked
    // sibling chain must yield ParseFailure/refusals, never a
    // StackOverflowError task failure. Entries beyond `maxEntries` are
    // listed with bytes=None (the breadth guard as a counted refusal,
    // same contract as the zip entry cap), not silently dropped.
    val out = Vector.newBuilder[Entry]
    var count = 0
    val visited = new java.util.BitSet(entriesArr.length)
    // frame: (directory id, storage path prefix, expanded?) — an
    // unexpanded frame schedules its left subtree; an expanded frame
    // emits itself, then schedules its storage child subtree (between
    // self and right, matching the recursive order) and right subtree
    val stack = new java.util.ArrayDeque[(Int, String, Boolean)]
    stack.push((root.child, "", false))
    while (!stack.isEmpty) {
      val (id, prefix, expanded) = stack.pop()
      if (id != NoStream) {
        if (id < 0 || id >= entriesArr.length)
          throw new ParseFailure(s"directory id $id out of range")
        val e = entriesArr(id)
        if (!expanded) {
          if (visited.get(id)) throw new ParseFailure("directory sibling-tree cycle")
          visited.set(id)
          stack.push((id, prefix, true))
          stack.push((e.left, prefix, false))
        } else {
          val path = if (prefix.isEmpty) e.name else prefix + "/" + e.name
          stack.push((e.right, prefix, false))
          e.objType match {
            case 2 => // stream
              count += 1
              val payload =
                if (count > maxEntries) None        // breadth guard
                else if (e.size > maxEntryBytes) None // declared-size guard
                else if (e.size == 0) Some(Array.empty[Byte])
                else if (e.size < cutoff) Some(readMiniChain(e.startSector, e.size))
                else Some(readChain(e.startSector, e.size))
              out += Entry(path, payload, isStorage = false)
            case 1 => // storage
              count += 1
              out += Entry(path, None, isStorage = true)
              stack.push((e.child, path, false))
            case _ => ()
          }
        }
      }
    }
    out.result()
  }

  /** Stream entries only, as the (name, payload) shape the archive spawn
    * path consumes — storages appear implicitly via slash-joined paths.
    */
  def streamEntries(bytes: Array[Byte], maxEntryBytes: Int,
                    maxEntries: Int = 10000): Vector[(String, Option[Array[Byte]])] =
    entries(bytes, maxEntryBytes, maxEntries).filterNot(_.isStorage)
      .map(e => (e.path, e.bytes))

  // ---------------------------------------------------------------- writer

  private final case class Node(name: String, var data: Array[Byte],
                                children: scala.collection.mutable.LinkedHashMap[String, Node],
                                isStream: Boolean) {
    var id: Int = -1
    var left: Int = NoStream
    var right: Int = NoStream
    var child: Int = NoStream
    var startSector: Int = EndOfChain
    var size: Long = 0L
  }

  /** CFB name order: shorter names first, then case-insensitive-upper
    * comparison (the directory sort the spec mandates for sibling trees).
    */
  private def nameLt(a: String, b: String): Boolean = {
    if (a.length != b.length) a.length < b.length
    else a.toUpperCase(java.util.Locale.ROOT).compareTo(b.toUpperCase(java.util.Locale.ROOT)) < 0
  }

  /** Deterministic version-3 compound file from slash-joined stream paths.
    * Intermediate storages are created implicitly; timestamps pinned to
    * zero; sibling trees are balanced BSTs over the canonical name order,
    * so bytes are a pure function of the entries. Streams under 4 KiB go
    * to the mini stream (mini FAT), larger ones to regular sectors —
    * exactly the layout a spec reader expects.
    */
  def build(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val root = Node("Root Entry", Array.empty, scala.collection.mutable.LinkedHashMap.empty, isStream = false)
    streams.foreach { case (path, data) =>
      val parts = path.split("/")
      require(parts.nonEmpty && parts.forall(p => p.nonEmpty && p.length <= 31),
        s"stream path segments must be 1..31 chars: $path")
      var cur = root
      parts.dropRight(1).foreach { seg =>
        cur = cur.children.getOrElseUpdate(seg,
          Node(seg, Array.empty, scala.collection.mutable.LinkedHashMap.empty, isStream = false))
      }
      val leaf = cur.children.getOrElseUpdate(parts.last,
        Node(parts.last, Array.empty, scala.collection.mutable.LinkedHashMap.empty, isStream = true))
      leaf.data = data
      leaf.size = data.length.toLong
    }

    // assign directory ids: root = 0, then pre-order over name-sorted children
    val all = Vector.newBuilder[Node]
    var assignCounter = 0
    def assign(n: Node): Unit = {
      n.id = assignCounter; assignCounter += 1
      all += n
      n.children.values.toSeq.sortWith((x, y) => nameLt(x.name, y.name)).foreach(assign)
    }
    assign(root)
    val nodes = all.result()

    // balanced BST per storage over canonical order; child pointer = subroot
    def bst(sorted: IndexedSeq[Node]): Int =
      if (sorted.isEmpty) NoStream
      else {
        val mid = sorted.length / 2
        val n = sorted(mid)
        n.left = bst(sorted.slice(0, mid))
        n.right = bst(sorted.slice(mid + 1, sorted.length))
        n.id
      }
    nodes.foreach { n =>
      if (!n.isStream)
        n.child = bst(n.children.values.toIndexedSeq.sortWith((x, y) => nameLt(x.name, y.name)))
    }

    // allocation: minis (< cutoff) pack into the mini stream; bigs and the
    // mini stream itself use regular sectors
    val streamNodes = nodes.filter(_.isStream)
    val minis = streamNodes.filter(n => n.size > 0 && n.size < MiniCutoff)
    val bigs = streamNodes.filter(_.size >= MiniCutoff)
    streamNodes.filter(_.size == 0).foreach(_.startSector = EndOfChain)

    var miniSec = 0
    val miniFatB = Vector.newBuilder[Int]
    minis.foreach { n =>
      n.startSector = miniSec
      val cnt = ((n.size + MiniSectorSize - 1) / MiniSectorSize).toInt
      var k = 0
      while (k < cnt) { miniFatB += (if (k == cnt - 1) EndOfChain else miniSec + k + 1); k += 1 }
      miniSec += cnt
    }
    val miniFat = miniFatB.result()
    val miniBytes = miniSec * MiniSectorSize
    root.size = miniBytes.toLong

    val dirSecs = math.max(1, (nodes.length * 128 + SectorSize - 1) / SectorSize)
    val miniFatSecs = (miniFat.length * 4 + SectorSize - 1) / SectorSize
    val miniStreamSecs = (miniBytes + SectorSize - 1) / SectorSize
    val bigSecs = bigs.map(n => ((n.size + SectorSize - 1) / SectorSize).toInt)
    val payloadSecs = dirSecs + miniFatSecs + miniStreamSecs + bigSecs.sum
    // FAT and DIFAT sectors also occupy FAT slots: solve the fixed point.
    // The header DIFAT holds 109 FAT locations; beyond that, chained
    // DIFAT sectors carry 127 locations each (+ a next pointer).
    var numFat = 1
    var numDifat = 0
    var stable = false
    while (!stable) {
      val total = numDifat + numFat + payloadSecs
      val needFat = (total + (SectorSize / 4) - 1) / (SectorSize / 4)
      val needDifat = if (needFat <= 109) 0 else (needFat - 109 + 126) / 127
      stable = needFat == numFat && needDifat == numDifat
      numFat = needFat; numDifat = needDifat
    }
    val total = numDifat + numFat + payloadSecs

    val fat = Array.fill(numFat * (SectorSize / 4))(FreeSect)
    var next = 0
    def alloc(count: Int): Int = {
      val start = next
      var k = 0
      while (k < count) { fat(next) = if (k == count - 1) EndOfChain else next + 1; next += 1; k += 1 }
      start
    }
    // layout: [DIFAT][FAT][directory][miniFAT][mini stream][big streams]
    var k = 0
    while (k < numDifat) { fat(k) = DifSect; k += 1 }
    while (k < numDifat + numFat) { fat(k) = FatSect; k += 1 }
    next = numDifat + numFat
    val firstDir = alloc(dirSecs)
    val firstMiniFat = if (miniFatSecs > 0) alloc(miniFatSecs) else EndOfChain
    val firstMiniStream = if (miniStreamSecs > 0) alloc(miniStreamSecs) else EndOfChain
    root.startSector = firstMiniStream
    bigs.zip(bigSecs).foreach { case (n, cnt) => n.startSector = alloc(cnt) }

    val out = ByteBuffer.allocate(SectorSize + total * SectorSize).order(ByteOrder.LITTLE_ENDIAN)
    // header
    out.put(Signature)
    out.position(24)
    out.putShort(0x003e.toShort)     // minor version
    out.putShort(3.toShort)          // major version 3
    out.putShort(0xfffe.toShort)     // little-endian byte order mark
    out.putShort(9.toShort)          // 512-byte sectors
    out.putShort(6.toShort)          // 64-byte mini sectors
    out.position(44)
    out.putInt(numFat)
    out.putInt(firstDir)
    out.putInt(0)                    // transaction signature
    out.putInt(MiniCutoff)
    out.putInt(firstMiniFat)
    out.putInt(miniFatSecs)
    out.putInt(if (numDifat > 0) 0 else EndOfChain) // first DIFAT sector
    out.putInt(numDifat)
    // FAT sector ids: numDifat..numDifat+numFat-1 (header carries 109)
    var d = 0
    while (d < 109) { out.putInt(if (d < numFat) numDifat + d else FreeSect); d += 1 }

    def sectorPos(s: Int): Int = SectorSize + s * SectorSize
    // chained DIFAT sectors: 127 FAT locations each + next pointer
    var ds = 0
    while (ds < numDifat) {
      val base = sectorPos(ds)
      var j = 0
      while (j < 127) {
        val fatIdx = 109 + ds * 127 + j
        out.putInt(base + 4 * j, if (fatIdx < numFat) numDifat + fatIdx else FreeSect)
        j += 1
      }
      out.putInt(base + SectorSize - 4, if (ds == numDifat - 1) EndOfChain else ds + 1)
      ds += 1
    }
    // FAT
    var f = 0
    while (f < fat.length) { out.putInt(sectorPos(numDifat) + 4 * f, fat(f)); f += 1 }
    // directory
    nodes.foreach { n =>
      val o = sectorPos(firstDir) + n.id * 128
      val nm = n.name.getBytes(StandardCharsets.UTF_16LE)
      out.position(o)
      out.put(nm)
      out.putShort(o + 64, (nm.length + 2).toShort)
      out.put(o + 66, (if (n.id == 0) 5 else if (n.isStream) 2 else 1).toByte)
      out.put(o + 67, 1.toByte) // black
      out.putInt(o + 68, n.left)
      out.putInt(o + 72, n.right)
      out.putInt(o + 76, n.child)
      out.putInt(o + 116, n.startSector)
      out.putLong(o + 120, n.size)
    }
    // unallocated tail of the last directory sector
    var free = nodes.length
    while (free < dirSecs * (SectorSize / 128)) {
      val o = sectorPos(firstDir) + free * 128
      out.putInt(o + 68, NoStream); out.putInt(o + 72, NoStream); out.putInt(o + 76, NoStream)
      free += 1
    }
    // mini FAT
    miniFat.zipWithIndex.foreach { case (v, j) =>
      out.putInt(sectorPos(firstMiniFat) + 4 * j, v)
    }
    if (miniFatSecs > 0) {
      var j = miniFat.length
      while (j < miniFatSecs * (SectorSize / 4)) { out.putInt(sectorPos(firstMiniFat) + 4 * j, FreeSect); j += 1 }
    }
    // mini stream payloads
    minis.foreach { n =>
      out.position(sectorPos(firstMiniStream) + n.startSector * MiniSectorSize)
      out.put(n.data)
    }
    // big payloads
    bigs.foreach { n =>
      out.position(sectorPos(n.startSector))
      out.put(n.data)
    }
    out.array()
  }
}
