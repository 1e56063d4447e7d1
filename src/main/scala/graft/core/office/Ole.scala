package graft.core.office

import graft.core.ParseFailure
import graft.core.Bin.{latin1, slice, u16, u32}

/** OLE packager streams (`Ole10Native`) — how legacy OLE embedding
  * wraps an arbitrary file inside a compound object (the reference hits
  * these through POI's `Ole10Native` when Tika explodes
  * `recursive_embedded.docx`'s `word/embeddings/oleObject1.bin`). The
  * labeled layout, verified against that real fixture:
  *
  *   u32 totalSize (stream length - 4), u16 flags1 (2 = labeled),
  *   label ASCIIZ (the display file name, e.g. `embed1.zip`),
  *   fileName ASCIIZ (the source path), u16 flags2, u16 unknown,
  *   u32 commandLength + command bytes, u32 dataSize, data.
  *
  * The wrapper is pure transport: the payload spawns sniffed under the
  * LABEL, replacing the raw stream child. [[tryUnwrap]] returns None on
  * any inconsistency so callers fall back to the generic stream spawn —
  * a malformed packager stream must never fail its parent document.
  */
object Ole {

  def isOle10Name(name: String): Boolean = name.endsWith("Ole10Native")

  def tryUnwrap(b: Array[Byte]): Option[(String, Array[Byte])] = {
    def asciiz(off: Int): Option[(String, Int)] = {
      var i = off
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) None else Some((latin1(b, off, i - off), i + 1))
    }
    // totalSize must frame the stream, and only the labeled form carries
    // a payload here; a read past the end is one more inconsistency
    try {
      if (b.length < 12 || u32(b, 0) != b.length - 4L || u16(b, 4) != 2) None
      else for {
        (label, p1) <- asciiz(6)
        (_, p2) <- asciiz(p1) // source path
        p3 = p2 + 4 // flags2 + unknown
        p4 = p3 + 4 + u32(b, p3) // past the command
        dataSize = u32(b, p4)
        if dataSize > 0
      } yield (if (label.nonEmpty) label else "package.bin", slice(b, p4 + 4, dataSize))
    } catch { case _: ParseFailure => None }
  }
}
