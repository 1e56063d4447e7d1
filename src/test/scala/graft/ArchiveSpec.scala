package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.route.Extract
import graft.sources.Archive

/** REAL archive/container explosion (reference `EmbedSpawner.java:429-515`;
  * fixture `embedded_with_duplicate.tgz`): zip entries become embedded
  * children, nested zips recurse, guards refuse with counts, corruption
  * classifies, and the span-parallel path stays byte-identical.
  */
class ArchiveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("AppleSingle: data fork spawns under the real name at both routes") {
    import graft.sources.Apple
    val env = Apple.build("memo.txt", "mac data fork text".getBytes(UTF_8))
    assert(Apple.isAppleSingle(env))
    assert(graft.sources.Ingest.sniffKind(env) == "applesingle")
    val (n, f) = Apple.unwrap(env, 1 << 20)
    assert(n == "memo.txt" && f.get.sameElements("mac data fork text".getBytes(UTF_8)))
    // top-level: empty transport root + the fork child
    val nodes = Extract.explode(DocIn(81L,
      Array(SpanIn("applesingle", new String(env, ISO_8859_1), "", 0))))
    assert(nodes.length == 2)
    assert(nodes.find(_.level == 0).get.spans.map(_.text).mkString == "") // transport root
    assert(nodes.find(_.level == 1).get.spans.map(_.text).mkString == "mac data fork text")
    // nested (the Mac tarball shape): envelope unwraps, fork re-sniffs —
    // a wrapped zip keeps exploding below
    val inner = Archive.zipBytes(Seq(("z.txt", "zip under applesingle".getBytes(UTF_8))))
    val wrapped = Archive.zipBytes(Seq(("arch.as", Apple.build("arch.zip", inner))))
    val nested = Extract.explode(DocIn(82L,
      Array(SpanIn("zip", new String(wrapped, ISO_8859_1), "", 0))))
    assert(nested.exists(o => o.spans.map(_.text).mkString == "zip under applesingle"))
    // declared-size refusal before copy; malformed envelopes classify
    assert(Apple.unwrap(env, 4)._2.isEmpty)
    val bad = env.clone(); bad(46) = 0x7f // fork length past end
    intercept[ParseFailure](Apple.unwrap(bad, 1 << 20))
    intercept[ParseFailure](Apple.unwrap(env.take(30), 1 << 20))
  }

  private def zipDoc(id: Long, entries: Seq[(String, Array[Byte])]): DocIn =
    DocIn(id, Array(SpanIn("zip",
      new String(Archive.zipBytes(entries), ISO_8859_1), "", 0)))

  test("zip entries explode to children with resource-named recursive ids") {
    val d = zipDoc(10, Seq(
      ("a.txt", "alpha ten".getBytes(UTF_8)),
      ("b.txt", "beta ten".getBytes(UTF_8))))
    val out = Extract.explode(d)
    val rid = Ids.rootId(10)
    assert(out.map(_.doc_id) == Seq(rid,
      Ids.embedId("alpha ten", rid, 0, resourceName = "a.txt"),
      Ids.embedId("beta ten", rid, 1, resourceName = "b.txt")))
    assert(out(1).spans.toSeq == Seq(SpanOut("text", "alpha ten", "", 0)))
    assert(out.head.no_content_reason == Reason.Empty) // container has no own text
    assert(out.forall(_.root_id == rid))
    assert(out.drop(1).forall(_.level == 1))
  }

  test("duplicate-content entries keep DISTINCT ids via per-parent ordinal") {
    val d = zipDoc(11, Seq(
      ("a.txt", "same".getBytes(UTF_8)),
      ("copy.txt", "same".getBytes(UTF_8))))
    val out = Extract.explode(d)
    assert(out(1).doc_id != out(2).doc_id)
    assert(out(1).spans.map(_.text).toSeq == out(2).spans.map(_.text).toSeq)
  }

  test("zip-in-zip recurses depth-first; container id over canonical entries") {
    val inner = Archive.zipBytes(Seq(("c.txt", "gamma".getBytes(UTF_8))))
    val d = zipDoc(12, Seq(("a.txt", "alpha".getBytes(UTF_8)), ("nested.zip", inner)))
    val out = Extract.explode(d)
    val rid = Ids.rootId(12)
    val nzid = Ids.embedId(Ids.canonicalEntries(Seq(("c.txt", "gamma"))), rid, 1,
      resourceName = "nested.zip")
    assert(out.map(d => (d.doc_id, d.parent_id, d.level)) == Seq(
      (rid, "", 0),
      (Ids.embedId("alpha", rid, 0, resourceName = "a.txt"), rid, 1),
      (nzid, rid, 1),
      (Ids.embedId("gamma", nzid, 0, resourceName = "c.txt"), nzid, 2)))
    // container id is over logical entries, NOT on-disk bytes: re-zipping the
    // same entries (bytes differ only if compression did) keeps the id
    val d2 = zipDoc(12, Seq(("a.txt", "alpha".getBytes(UTF_8)),
      ("nested.zip", Archive.zipBytes(Seq(("c.txt", "gamma".getBytes(UTF_8)))))))
    assert(Extract.explode(d2).map(_.doc_id) == out.map(_.doc_id))
  }

  test("declared-size and depth guards refuse entries WITH counts, never silently") {
    val cfg = Extract.Config(maxSpanChars = 8)
    val d = zipDoc(13, Seq(
      ("small.txt", "tiny".getBytes(UTF_8)),
      ("big.txt", "way past the eight byte cap".getBytes(UTF_8))))
    val (outs, skipped) = Extract.explodeCounted(d, cfg)
    assert(outs.count(_.level == 1) == 1 && skipped == 1)
    // depth guard: zip nested beyond maxEmbedDepth is refused before recursion
    val deep = zipDoc(14, Seq(("n.zip",
      Archive.zipBytes(Seq(("x.txt", "x".getBytes(UTF_8)))))))
    val (outs2, skipped2) = Extract.explodeCounted(deep, Extract.Config(maxEmbedDepth = 1))
    assert(outs2.map(_.level).max == 1 && skipped2 == 1)
  }

  test("corrupt zip bytes classify to FAILURE_NOT_PARSED, never a task failure") {
    import spark.implicits._
    val junk = Array[Byte](0x50, 0x4b, 0x03, 0x04) ++ Array.fill[Byte](64)(7)
    val docs = spark.createDataset(Seq(
      DocIn(1, Array(SpanIn("zip", new String(junk, ISO_8859_1), "", 0))),
      zipDoc(2, Seq(("ok.txt", "fine".getBytes(UTF_8))))))
    val res = graft.pipeline.ExtractJob
      .extractPartitions(docs, graft.pipeline.ExtractJob.JobConfig()).collect()
    val lineage = res.flatMap(_._2).map(l => l.doc_id -> l.status).toMap
    assert(lineage(1L) == Status.NotParsed)
    assert(lineage(2L) == Status.Success)
  }

  test("gzip member explodes with FNAME as the resource name") {
    val gz = Archive.gzipBytes("hello gz".getBytes(UTF_8), "member.txt")
    assert(Archive.gzipName(gz) == "member.txt")
    val d = DocIn(15, Array(SpanIn("gzip", new String(gz, ISO_8859_1), "", 0)))
    val out = Extract.explode(d)
    val rid = Ids.rootId(15)
    assert(out.map(_.doc_id) == Seq(rid,
      Ids.embedId("hello gz", rid, 0, resourceName = "member.txt")))
    assert(out(1).spans.head.text == "hello gz")
    // nameless gzip falls back to empty resource name
    val gz2 = Archive.gzipBytes("anon".getBytes(UTF_8))
    assert(Archive.gzipName(gz2) == "")
  }

  test("tar round-trips entries; declared octal size is the guard input") {
    val tar = Archive.tarBytes(Seq(
      ("a.txt", "alpha".getBytes(UTF_8)),
      ("dir/b.txt", "beta content".getBytes(UTF_8))))
    assert(Archive.isTar(tar))
    val back = Archive.untar(tar, 1 << 20)
    assert(back.map(e => (e._1, e._2.map(new String(_, UTF_8)))) == Vector(
      ("a.txt", Some("alpha")), ("dir/b.txt", Some("beta content"))))
    // declared-size guard refuses without reading (cap between the sizes)
    assert(Archive.untar(tar, 8).map(_._2.isEmpty) == Vector(false, true))
    // corrupt header -> ParseFailure
    intercept[graft.core.ParseFailure] {
      Archive.untar("ustar junk".getBytes(UTF_8) ++ new Array[Byte](600), 1 << 20)
    }
  }

  test("tgz (gzip of tar) explodes two levels like the reference's .tgz fixture") {
    val tar = Archive.tarBytes(Seq(
      ("x.txt", "same".getBytes(UTF_8)),
      ("x_copy.txt", "same".getBytes(UTF_8)))) // the duplicate-entry case
    val tgz = Archive.gzipBytes(tar, "bundle.tar")
    val d = DocIn(16, Array(SpanIn("gzip", new String(tgz, ISO_8859_1), "", 0)))
    val out = Extract.explode(d)
    val rid = Ids.rootId(16)
    val tid = Ids.embedId(Ids.canonicalEntries(Seq(("x.txt", "same"), ("x_copy.txt", "same"))),
      rid, 0, resourceName = "bundle.tar")
    assert(out.map(o => (o.doc_id, o.parent_id, o.level)) == Seq(
      (rid, "", 0), (tid, rid, 1),
      (Ids.embedId("same", tid, 0, resourceName = "x.txt"), tid, 2),
      (Ids.embedId("same", tid, 1, resourceName = "x_copy.txt"), tid, 2)))
    // duplicate contents, distinct ids (per-parent ordinal)
    assert(out(2).doc_id != out(3).doc_id)
  }

  test("span-parallel reassembly is byte-identical to batch explode on archives") {
    import spark.implicits._
    val docs = Seq(
      zipDoc(20, Seq(("a.txt", "aa".getBytes(UTF_8)), ("n.zip",
        Archive.zipBytes(Seq(("c.txt", "cc".getBytes(UTF_8))))))),
      DocIn(21, Array(
        SpanIn("text", "plain", "", 0),
        SpanIn("zip", new String(Archive.zipBytes(Seq(("z.txt", "zz".getBytes(UTF_8)))), ISO_8859_1), "", 1),
        SpanIn("media", "ocr 21", "m", 2))))
    val cfg = graft.pipeline.ExtractJob.JobConfig(partitions = 4)
    def norm(d: DocOut) = (d.doc_id, d.parent_id, d.root_id, d.level,
      d.spans.toSeq, d.no_content_reason)
    val batch = docs.flatMap(d => Extract.explode(d)).map(norm).toSet
    val par = graft.pipeline.ExtractJob
      .extractSpanParallel(spark.createDataset(docs), cfg)
      .collect().flatMap(_._1).map(norm).toSet
    assert(par == batch)
  }

  test("zstd and bzip2 members round-trip and explode as children") {
    val payload = "zstandard payload text".getBytes(UTF_8)
    val zst = Archive.zstdBytes(payload)
    assert(Archive.isZstd(zst))
    assert(Archive.unzstd(zst, 1 << 20)._2.get.sameElements(payload))
    assert(graft.sources.Ingest.sniffKind(zst) == "zstd")
    val bz = Archive.bzip2Bytes(payload)
    assert(Archive.isBzip2(bz))
    assert(Archive.unbzip2(bz, 1 << 20)._2.get.sameElements(payload))
    assert(graft.sources.Ingest.sniffKind(bz) == "bzip2")
    // corrupt frames classify, never a task failure
    intercept[ParseFailure](Archive.unzstd(zst.take(6) ++ Array[Byte](1, 2, 3), 1 << 20))
    // a zstd-wrapped zip recurses: codec -> archive -> entry
    val nested = Archive.zstdBytes(Archive.zipBytes(Seq(("in.txt", "deep text".getBytes(UTF_8)))))
    val nodes = Extract.explode(
      DocIn(42L, Array(SpanIn("zstd", new String(nested, ISO_8859_1), "", 0))))
    assert(nodes.exists(n => n.level == 2 && n.spans.map(_.text).mkString == "deep text"))
    // determinism: codec output is a pure function of the payload
    assert(Archive.zstdBytes(payload).sameElements(zst))
    assert(Archive.bzip2Bytes(payload).sameElements(bz))
  }

  test("7z COPY archives round-trip, stay deterministic, and classify junk") {
    val entries = Seq(("a.txt", "seven zip one".getBytes(UTF_8)),
      ("dir/b.txt", "seven zip two".getBytes(UTF_8)))
    val sz = Archive.sevenZBytes(entries)
    assert(Archive.is7z(sz))
    val got = Archive.un7z(sz, 1 << 20)
    assert(got.map(_._1) == Vector("a.txt", "dir/b.txt"))
    assert(got.flatMap(_._2).map(b => new String(b, UTF_8)) ==
      Vector("seven zip one", "seven zip two"))
    // byte-determinism (no timestamps in the produced archive)
    assert(Archive.sevenZBytes(entries).sameElements(sz))
    // declared-size guard + malformed classification
    assert(Archive.un7z(sz, maxEntryBytes = 4).forall(_._2.isEmpty))
    intercept[ParseFailure](Archive.un7z(sz.take(20), 1 << 20))
  }

  test("WARC records parse by Content-Length with HTTP header stripping") {
    import graft.sources.Warc
    val warc = Warc.build(Seq(
      ("response", "http://a.example/x", "text/html",
        "<html><body>hello</body></html>".getBytes(UTF_8)),
      ("resource", "http://a.example/y", "text/plain", "raw text".getBytes(UTF_8)),
      ("request", "http://a.example/x", "application/http", "GET /x".getBytes(UTF_8))))
    assert(graft.sources.Ingest.sniffKind(warc) == "warc")
    val recs = Warc.records(new String(warc, ISO_8859_1), 1 << 20)
    // warcinfo and request records carry no document content
    assert(recs.length == 2)
    assert(new String(recs(0).body.get, UTF_8) == "<html><body>hello</body></html>")
    assert(recs(0).targetUri == "http://a.example/x")
    assert(new String(recs(1).body.get, UTF_8) == "raw text")
    intercept[ParseFailure](Warc.records("WARC/1.0\r\nno-length: x\r\n\r\n", 1 << 20))
    intercept[ParseFailure](
      Warc.records("WARC/1.0\r\nContent-Length: 99999\r\n\r\nshort", 1 << 20))
    // the record cap is LOUD, never a silent tail drop
    intercept[ParseFailure](
      Warc.records(new String(warc, ISO_8859_1), 1 << 20, maxRecords = 1))
    // prose that merely STARTS with 'WARC/' is not an archive
    val prose = "WARC/1.0 is the version string used by web archives".getBytes(UTF_8)
    assert(!Warc.isWarc(prose))
    assert(graft.sources.Ingest.sniffKind(prose) == "text")
    // WET shape: conversion records carry the pre-extracted text
    val wet = Warc.build(Seq(
      ("conversion", "http://a.example/x", "text/plain", "wet extract".getBytes(UTF_8))))
    val wrecs = Warc.records(new String(wet, ISO_8859_1), 1 << 20)
    assert(wrecs.length == 1 && new String(wrecs(0).body.get, UTF_8) == "wet extract")
  }

  test("a gzipped WARC (the .warc.gz shape) explodes records as children") {
    import graft.sources.Warc
    val warc = Warc.build(Seq(
      ("response", "http://b.example/p", "text/html",
        "<html><body><p>crawled page text</p></body></html>".getBytes(UTF_8))))
    val gz = Archive.gzipBytes(warc, "crawl.warc")
    val nodes = Extract.explode(
      DocIn(77L, Array(SpanIn("gzip", new String(gz, ISO_8859_1), "", 0))))
    // gzip member -> warc container node -> html record child
    assert(nodes.map(_.level).sorted == Seq(0, 1, 2))
    assert(nodes.exists(n => n.level == 2 &&
      n.spans.map(_.text).mkString.contains("crawled page text")))
  }

  test("xz, lz4, and snappy frames round-trip and cap refusals count") {
    import graft.sources.Archive
    val payload = "codec payload".getBytes("UTF-8")
    for ((enc, dec, is_) <- Seq[
        (Array[Byte] => Array[Byte], (Array[Byte], Int) => (String, Option[Array[Byte]]), Array[Byte] => Boolean)](
        (Archive.xzBytes _, Archive.unxz _, Archive.isXz _),
        (Archive.lz4Bytes _, Archive.unlz4 _, Archive.isLz4 _),
        (Archive.snappyBytes _, Archive.unsnappy _, Archive.isSnappy _))) {
      val framed = enc(payload)
      assert(is_(framed))
      val (name, data) = dec(framed, 1 << 20)
      assert(name == "" && data.exists(_.sameElements(payload)))
      // over-cap payload refuses as a COUNTED refusal (None), not a throw
      val (_, refused) = dec(enc(Array.fill[Byte](5000)('x')), 100)
      assert(refused.isEmpty)
      // junk after the magic classifies
      intercept[graft.core.ParseFailure](dec(framed.take(8) ++ Array.fill[Byte](40)(7), 1 << 20))
    }
  }

  test("tar GNU long names, PAX path overrides, ustar prefix, base-256 size") {
    import graft.sources.Archive
    def hdr(name: String, size: Long, typeflag: Char, prefix: String = "",
            base256: Boolean = false): Array[Byte] = {
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII"); System.arraycopy(nb, 0, h, 0, nb.length)
      if (base256) {
        h(124) = 0x80.toByte
        var v = size; var i = 135
        while (i > 124) { h(i) = (v & 0xff).toByte; v >>= 8; i -= 1 }
        h(124) = (h(124) | 0x80).toByte
      } else {
        val o = ("%011o".format(size) + " ").getBytes("US-ASCII")
        System.arraycopy(o, 0, h, 124, o.length)
      }
      h(156) = typeflag.toByte
      System.arraycopy("ustar 00".getBytes("US-ASCII"), 0, h, 257, 8)
      if (prefix.nonEmpty) {
        val pb = prefix.getBytes("US-ASCII"); System.arraycopy(pb, 0, h, 345, pb.length)
      }
      h
    }
    def padded(b: Array[Byte]): Array[Byte] =
      b ++ new Array[Byte](((b.length + 511) / 512) * 512 - b.length)
    val longName = "dir/" + ("x" * 120) + ".txt"
    // PAX record length counts the WHOLE record incl. its own digits:
    // "25 path=pax/override.txt\n" is exactly 25 bytes
    val paxRec = "25 path=pax/override.txt\n".getBytes("UTF-8")
    val tar =
      hdr("././@LongLink", longName.length + 1, 'L') ++
        padded(longName.getBytes("US-ASCII") :+ 0.toByte) ++
        hdr("ignored.txt", 8, '0') ++ padded("longdata".getBytes) ++
        hdr("pax-hdr", paxRec.length, 'x') ++ padded(paxRec) ++
        hdr("short.txt", 7, '0') ++ padded("paxdata".getBytes) ++
        hdr("leaf.txt", 10, '0', prefix = "deep/prefix") ++ padded("prefixdata".getBytes) ++
        hdr("big.bin", 6, '0', base256 = true) ++ padded("256sz!".getBytes) ++
        new Array[Byte](1024)
    val es = Archive.untar(tar, 1 << 20)
    assert(es.map(_._1) == Vector(longName, "pax/override.txt",
      "deep/prefix/leaf.txt", "big.bin"))
    assert(new String(es(0)._2.get) == "longdata")
    assert(new String(es(1)._2.get) == "paxdata")
    assert(new String(es(2)._2.get) == "prefixdata")
    assert(new String(es(3)._2.get) == "256sz!")
  }

  test("zip64 extra-field sizes read correctly (the >4GB archive layout)") {
    // hand-crafted local header with 0xFFFFFFFF size sentinels and the
    // ZIP64 extended-information extra field (APPNOTE 4.5.3: original
    // size first, then compressed) — the layout every large production
    // archive uses; the JDK stream must take sizes from the extra field
    import java.nio.{ByteBuffer, ByteOrder}
    val data = "zip64 payload text".getBytes("UTF-8")
    val name = "big.txt".getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32(); crc.update(data)
    val bb = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x04034b50)           // local file header
    bb.putShort(45)                 // version needed: 4.5 (zip64)
    bb.putShort(0); bb.putShort(0)  // flags, method=stored
    bb.putShort(0); bb.putShort(0)  // time, date
    bb.putInt(crc.getValue.toInt)
    bb.putInt(-1); bb.putInt(-1)    // csize/usize sentinels
    bb.putShort(name.length.toShort)
    bb.putShort(20)                 // extra: 4-byte header + two longs
    bb.put(name)
    bb.putShort(0x0001); bb.putShort(16)
    bb.putLong(data.length.toLong); bb.putLong(data.length.toLong)
    bb.put(data)
    bb.putInt(0x06054b50)           // EOCD so the stream ends cleanly
    bb.putShort(0); bb.putShort(0); bb.putShort(1); bb.putShort(1)
    bb.putInt(0); bb.putInt(0); bb.putShort(0)
    val zip = java.util.Arrays.copyOf(bb.array(), bb.position())
    val entries = graft.sources.Archive.unzip(zip, 1 << 20)
    assert(entries.map(_._1) == Vector("big.txt"))
    assert(entries.head._2.exists(_.sameElements(data)))
  }

  test("compress .Z round-trips incl. 9->10+ bit width growth and group pads") {
    import graft.sources.Archive
    // small payload stays at 9-bit codes
    val small = "unix compress payload".getBytes("UTF-8")
    val framed = Archive.compressZBytes(small)
    assert(Archive.isCompressZ(framed))
    val (name, data) = Archive.uncompressZ(framed, 1 << 20)
    assert(name == "" && data.exists(_.sameElements(small)))
    // >255 dictionary adds forces the width change + 8-code group padding
    val big = (0 until 900).map(i => s"tok$i").mkString(" ").getBytes("UTF-8")
    val (_, bigOut) = Archive.uncompressZ(Archive.compressZBytes(big), 1 << 20)
    assert(bigOut.exists(_.sameElements(big)))
    // highly repetitive data exercises long dictionary chains
    val rep = ("abcab" * 500).getBytes("UTF-8")
    val (_, repOut) = Archive.uncompressZ(Archive.compressZBytes(rep), 1 << 20)
    assert(repOut.exists(_.sameElements(rep)))
    // over-cap refuses as a counted refusal; junk classifies
    assert(Archive.uncompressZ(Archive.compressZBytes(Array.fill[Byte](5000)('x')), 100)._2.isEmpty)
    intercept[graft.core.ParseFailure](
      Archive.uncompressZ(Array[Byte](0x1f, 0x9d.toByte, 0x05), 1 << 20)) // maxBits 5: invalid
    // maxBits 30 would size 6 GB of decoder tables: refused, not allocated
    intercept[graft.core.ParseFailure](
      Archive.uncompressZ(Array[Byte](0x1f, 0x9d.toByte, 0x9e.toByte, 0x01, 0x02), 1 << 20))
  }

  test("codec kinds sniff and explode through the container machinery") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    import graft.sources.{Archive, Ingest}
    assert(Ingest.sniffKind(Archive.xzBytes("a".getBytes)) == "xz")
    assert(Ingest.sniffKind(Archive.lz4Bytes("a".getBytes)) == "lz4")
    assert(Ingest.sniffKind(Archive.snappyBytes("a".getBytes)) == "snappy")
    assert(Ingest.sniffKind(Archive.compressZBytes("a".getBytes)) == "compress")
    // nested: a .Z member inside a zip recurses (tar.Z era shape)
    val zipZ = Archive.zipBytes(Seq(("old.txt.Z", Archive.compressZBytes("deep Z text".getBytes("UTF-8")))))
    val nodesZ = Extract.explode(DocIn(32L, Array(SpanIn("zip", new String(zipZ, ISO_8859_1), "", 0))))
    assert(nodesZ.exists(n => n.level == 2 && n.spans.exists(_.text == "deep Z text")))
    // nested: an xz member inside a zip recurses
    val zip = Archive.zipBytes(Seq(("d.xz", Archive.xzBytes("deep xz text".getBytes("UTF-8")))))
    val nodes = Extract.explode(DocIn(31L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(nodes.exists(n => n.level == 2 && n.spans.exists(_.text == "deep xz text")))
  }

  test("encrypted SIBLING entries isolate: plaintext survives, tail counts") {
    import graft.sources.Archive
    val zip = Archive.zipBytes(Seq(
      ("open.txt", "readable".getBytes("UTF-8")),
      ("locked.txt", "secret".getBytes("UTF-8"))))
    // flip GPBF bit 0 on the SECOND local file header only
    val c = zip.clone()
    var idx = -1; var found = 0
    var i = 0
    while (i < c.length - 4 && idx < 0) {
      if (c(i) == 'P' && c(i + 1) == 'K' && c(i + 2) == 3 && c(i + 3) == 4) {
        found += 1
        if (found == 2) idx = i
      }
      i += 1
    }
    assert(idx > 0)
    c(idx + 6) = (c(idx + 6) | 1).toByte
    val entries = Archive.unzip(c, 1 << 20)
    assert(entries.exists { case (n, b) => n == "open.txt" && b.exists(_.sameElements("readable".getBytes("UTF-8"))) })
    assert(entries.exists { case (n, b) => n == "<encrypted-remainder>" && b.isEmpty })
  }

  test("password-protected zip entries classify as encrypted, not corrupt") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import graft.core.{DocIn, SpanIn}
    import graft.core.route.Extract
    import graft.sources.Archive
    val zip = Archive.zipBytes(Seq(("locked.txt", "secret".getBytes("UTF-8"))))
    // set GPBF bit 0 (encryption) in the first local file header
    assert(zip(0) == 'P' && zip(1) == 'K')
    val c = zip.clone(); c(6) = (c(6) | 1).toByte
    val e = intercept[graft.core.DecryptFailure](Archive.unzip(c, 1 << 20))
    assert(e.getMessage.contains("password-protected"))
    // top-level: the job layer classifies the whole doc NOT_DECRYPTED
    // (same contract as an encrypted pst/pdf)
    val top = intercept[graft.core.DecryptFailure](
      Extract.explode(DocIn(32L, Array(SpanIn("zip", new String(c, ISO_8859_1), "", 0)))))
    assert(graft.pipeline.ExtractJob.classify(top) == graft.core.Status.NotDecrypted)
    // nested: the child carries the encrypted reason, the parent survives
    val outer = Archive.zipBytes(Seq(("locked.zip", c)))
    val nodes = Extract.explode(DocIn(33L, Array(SpanIn("zip", new String(outer, ISO_8859_1), "", 0))))
    assert(nodes.exists(n => n.level == 1 && n.no_content_reason == "encrypted"))
  }

  test("ar members round-trip; GNU long names resolve; tables never spawn") {
    val ar = Archive.arBytes(Seq(
      ("hello.txt", "hi there".getBytes(UTF_8)),
      ("odd.txt", "xyz".getBytes(UTF_8)))) // odd size exercises the '\n' pad
    assert(Archive.isAr(ar))
    assert(Archive.unar(ar, 1 << 20).map { case (n, b) => (n, b.map(new String(_, UTF_8))) } ==
      Vector(("hello.txt", Some("hi there")), ("odd.txt", Some("xyz"))))
    // GNU long-name table: '//' member holds names, '/<off>' references it
    val longName = "a-very-long-member-name-past-sixteen.txt"
    val table = (longName + "/\n").getBytes(ISO_8859_1)
    def hdr(name: String, size: Int): Array[Byte] = {
      val sb = new StringBuilder
      def f(s: String, w: Int): Unit = { sb.append(s); (s.length until w).foreach(_ => sb.append(' ')) }
      f(name, 16); f("0", 12); f("0", 6); f("0", 6); f("100644", 8); f(size.toString, 10)
      sb.append("`\n"); sb.toString.getBytes(ISO_8859_1)
    }
    def pad(d: Array[Byte]): Array[Byte] = if (d.length % 2 == 1) d :+ '\n'.toByte else d
    val gnu = "!<arch>\n".getBytes(ISO_8859_1) ++
      hdr("//", table.length) ++ pad(table) ++
      hdr("/0", 4) ++ "data".getBytes(ISO_8859_1)
    val entries = Archive.unar(gnu, 1 << 20)
    assert(entries.map { case (n, b) => (n, b.map(new String(_, UTF_8))) } ==
      Vector((longName, Some("data"))))
    // BSD #1/<len>: the real name prefixes the member data
    val bsdName = "bsd-extended-name.txt"
    val bsd = "!<arch>\n".getBytes(ISO_8859_1) ++
      hdr(s"#1/${bsdName.length}", bsdName.length + 7) ++
      pad((bsdName + "payload").getBytes(ISO_8859_1))
    assert(Archive.unar(bsd, 1 << 20).map { case (n, b) => (n, b.map(new String(_, UTF_8))) } ==
      Vector((bsdName, Some("payload"))))
    // malformed: bad terminator, bad size
    val broken = ar.clone(); broken(8 + 58) = 'X'.toByte
    intercept[ParseFailure](Archive.unar(broken, 1 << 20))
    val badSize = ar.clone(); badSize(8 + 48) = 'q'.toByte
    intercept[ParseFailure](Archive.unar(badSize, 1 << 20))
  }

  test("cpio newc records round-trip; trailer stops; non-files skip") {
    val cp = Archive.cpioBytes(Seq(
      ("etc/a", "one".getBytes(UTF_8)),
      ("usr/bb", "twotwo".getBytes(UTF_8))))
    assert(Archive.isCpio(cp))
    assert(Archive.uncpio(cp, 1 << 20).map { case (n, b) => (n, b.map(new String(_, UTF_8))) } ==
      Vector(("etc/a", Some("one")), ("usr/bb", Some("twotwo"))))
    // a directory-mode record (S_IFDIR) must not spawn
    val withDir = {
      val hex = (v: Long) => f"$v%08x"
      val dirRec = ("070701" + hex(9) + hex(0x41edL) + hex(0) + hex(0) + hex(1) +
        hex(0) + hex(0) + hex(0) + hex(0) + hex(0) + hex(0) + hex(4) + hex(0)) +
        "dir" + " " + "  " // name pads 110+4 -> 116
      dirRec.getBytes(ISO_8859_1) ++ cp
    }
    assert(Archive.uncpio(withDir, 1 << 20).length == 2)
    // declared-size guard refuses WITH a counted None
    assert(Archive.uncpio(cp, 4).map { case (n, b) => (n, b.isDefined) } ==
      Vector(("etc/a", true), ("usr/bb", false)))
    intercept[ParseFailure](Archive.uncpio(cp.take(60), 1 << 20))
    val badHex = cp.clone(); badHex(14) = 'z'.toByte
    intercept[ParseFailure](Archive.uncpio(badHex, 1 << 20))
  }

  test("rpm payload walks lead + aligned headers; gzip/xz/raw cpio all route") {
    val cp = Archive.cpioBytes(Seq(("f.txt", "rpm file".getBytes(UTF_8))))
    for (wrap <- Seq[Array[Byte] => Array[Byte]](
      Archive.gzipBytes(_, ""), Archive.xzBytes(_), identity _)) {
      val rpm = Archive.rpmBytes(wrap(cp))
      assert(Archive.isRpm(rpm))
      assert(Archive.rpmEntries(rpm, 1 << 20)
        .map { case (n, b) => (n, b.map(new String(_, UTF_8))) } ==
        Vector(("f.txt", Some("rpm file"))))
    }
    // truncated header section classifies
    val rpm = Archive.rpmBytes(Archive.gzipBytes(cp, ""))
    intercept[ParseFailure](Archive.rpmPayload(rpm.take(100)))
    // junk payload compression classifies
    intercept[ParseFailure](Archive.rpmEntries(Archive.rpmBytes("nope".getBytes(UTF_8)), 1 << 20))
  }

  test("a .deb explodes its full ar -> codec -> tar -> file chain") {
    val controlTar = Archive.tarBytes(Seq(("control", "Package: demo".getBytes(UTF_8))))
    val dataTar = Archive.tarBytes(Seq(("usr/doc.txt", "deb payload doc".getBytes(UTF_8))))
    val deb = Archive.arBytes(Seq(
      ("debian-binary", "2.0\n".getBytes(UTF_8)),
      ("control.tar.gz", Archive.gzipBytes(controlTar, "control.tar")),
      ("data.tar.xz", Archive.xzBytes(dataTar))))
    val out = Extract.explode(DocIn(77L, Array(SpanIn("ar", new String(deb, ISO_8859_1), "", 0))))
    val rid = Ids.rootId(77)
    // version file is a direct text child
    assert(out.exists(o => o.parent_id == rid && o.level == 1 &&
      o.spans.map(_.text).mkString == "2.0\n"))
    // control chain: gz node (level 1) -> tar node (2) -> control text (3)
    assert(out.exists(o => o.level == 3 && o.spans.map(_.text).mkString == "Package: demo"))
    // data chain through xz reaches the same depth
    assert(out.exists(o => o.level == 3 && o.spans.map(_.text).mkString == "deb payload doc"))
    // every node chains to the root and ids are unique
    assert(out.map(_.doc_id).distinct.length == out.length)
    assert(out.forall(o => o.root_id == rid || (o.doc_id == rid && o.level == 0)))
  }

  test("ar, cpio, and rpm kinds sniff and explode through the machinery") {
    import graft.sources.Ingest.sniffKind
    val ar = Archive.arBytes(Seq(("m.txt", "m".getBytes(UTF_8))))
    val cp = Archive.cpioBytes(Seq(("c.txt", "c".getBytes(UTF_8))))
    val rpm = Archive.rpmBytes(Archive.gzipBytes(cp, ""))
    assert(sniffKind(ar) == "ar" && sniffKind(cp) == "cpio" && sniffKind(rpm) == "rpm")
    // nested ar-in-zip recurses like any container entry
    val zip = Archive.zipBytes(Seq(("lib.a", ar)))
    val out = Extract.explode(DocIn(5L, Array(SpanIn("zip", new String(zip, ISO_8859_1), "", 0))))
    assert(out.exists(o => o.level == 2 && o.spans.map(_.text).mkString == "m"))
  }

  test("7z LZMA2-compressed archives decode (not just COPY method)") {
    import org.apache.commons.compress.archivers.sevenz.{SevenZMethod, SevenZOutputFile}
    import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
    import graft.sources.Archive
    val ch = new SeekableInMemoryByteChannel()
    val w = new SevenZOutputFile(ch)
    w.setContentCompression(SevenZMethod.LZMA2)
    val e = new org.apache.commons.compress.archivers.sevenz.SevenZArchiveEntry()
    e.setName("deep.txt"); e.setDirectory(false)
    w.putArchiveEntry(e)
    w.write(("lzma2 payload " * 40).getBytes("UTF-8"))
    w.closeArchiveEntry(); w.close()
    val bytes = java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
    assert(Archive.is7z(bytes))
    val es = Archive.un7z(bytes, 1 << 20)
    assert(es.map(_._1) == Vector("deep.txt"))
    assert(new String(es.head._2.get, "UTF-8").startsWith("lzma2 payload "))
  }

  test("LZMA-alone streams round-trip, sniff structurally, and recurse") {
    import java.nio.charset.StandardCharsets.UTF_8
    val payload = "lzma alone member text".getBytes(UTF_8)
    val b = Archive.lzmaBytes(payload)
    assert(Archive.isLzma(b))
    assert(graft.sources.Ingest.sniffKind(b, "old.lzma") == "lzma")
    assert(Archive.unlzma(b, 1 << 20)._2.map(new String(_, UTF_8)) == Some("lzma alone member text"))
    // prose and zero-fill must not collide with the magic-less sniff
    assert(!Archive.isLzma("plain prose that is long enough to check the sniff".getBytes(UTF_8)))
    assert(!Archive.isLzma(new Array[Byte](64)))
    // corrupt body classifies
    val bad = b.clone(); bad(b.length - 1) = (bad(b.length - 1) ^ 0x7f).toByte
    intercept[graft.core.ParseFailure] { Archive.unlzma(bad, 1 << 20) }
    // nested: .tar.lzma chains codec -> tar -> file
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val tl = Archive.lzmaBytes(Archive.tarBytes(Seq(("t.txt", "tar in lzma".getBytes(UTF_8)))))
    val out = graft.core.route.Extract.explode(graft.core.DocIn(5L,
      Array(graft.core.SpanIn("lzma", new String(tl, ISO_8859_1), "", 0))))
    assert(out.filter(_.level == 2).flatMap(_.spans).map(_.text) == Seq("tar in lzma"))
  }
}
