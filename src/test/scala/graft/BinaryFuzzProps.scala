package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.core.ParseFailure

/** Fuzz net for every from-scratch binary parser added this round: on
  * ARBITRARY bytes (pure junk, and junk stamped with each format's magic
  * so the parse path actually engages) a parser may succeed or throw
  * [[ParseFailure]] — never any other exception. This is the
  * "classified, never a task failure" contract the job layer depends on:
  * an AIOOBE or NPE escaping one of these parsers fails a whole Spark
  * task instead of one document's lineage row.
  *
  * Junk after a magic rarely forms a header valid up to the field it
  * breaks, so the reads behind that field seldom run here; the
  * deterministic mutation sweep over each writer's well-formed output,
  * [[BinarySweepSpec]], covers those.
  */
object BinaryFuzzProps extends Properties("BinaryFuzz") {

  private val junk: Gen[Array[Byte]] =
    Gen.chooseNum(0, 2048).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte)))

  private def stamped(magic: Array[Byte]): Gen[Array[Byte]] =
    junk.map(b => magic ++ b)

  /** Succeeds or throws ONLY ParseFailure. */
  private def total[A](body: => A): Prop =
    try { body; Prop.passed }
    catch {
      case _: ParseFailure => Prop.passed
      case _: graft.core.DecryptFailure => Prop.passed // classified (NOT_DECRYPTED)
      case e: Throwable => Prop.falsified :| s"non-ParseFailure escaped: ${e.getClass.getName}: ${e.getMessage}"
    }

  private val CfbMagic = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte)

  property("cfb entries: junk classifies") = Prop.forAll(stamped(CfbMagic)) { b =>
    total(graft.core.office.Cfb.entries(b, 1 << 20))
  }

  property("msg parse over junk cfb entries classifies") = Prop.forAll(stamped(CfbMagic)) { b =>
    total {
      val e = graft.core.office.Cfb.streamEntries(b, 1 << 20)
      if (graft.core.office.Msg.isMsg(e)) graft.core.office.Msg.parse(e)
    }
  }

  property("worddoc/xls/ppt over junk stream bytes classify") = Prop.forAll(junk) { b =>
    val entries = Vector[(String, Option[Array[Byte]])](
      ("WordDocument", Some(b)), ("1Table", Some(b)), ("0Table", Some(b)))
    total(graft.core.office.WordDoc.text(entries)) &&
      total(graft.core.office.Xls.text(Vector(("Workbook", Some(b))))) &&
      total(graft.core.office.Ppt.text(Vector(("PowerPoint Document", Some(b)))))
  }

  property("warc records: junk classifies") = Prop.forAll(junk) { b =>
    val latin1 = new String("WARC/1.0\r\n".getBytes ++ b,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    total(graft.sources.Warc.records(latin1, 1 << 20))
  }

  property("archive codecs: junk classifies") = Prop.forAll(junk) { b =>
    total(graft.sources.Archive.unzstd(
      Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte) ++ b, 1 << 20)) &&
      total(graft.sources.Archive.unbzip2(
        "BZh9".getBytes ++ Array(0x31, 0x41, 0x59, 0x26, 0x53, 0x59).map(_.toByte) ++ b, 1 << 20)) &&
      total(graft.sources.Archive.untar(b, 1 << 20)) &&
      total(graft.sources.Archive.gunzip(Array(0x1f.toByte, 0x8b.toByte) ++ b, 1 << 20))
  }

  property("pdf stream filters round-trip and never throw on junk") =
    Prop.forAll(junk) { b =>
      import graft.core.pdf.PdfMini._
      // exact inverses on arbitrary payloads
      asciiHexDecode(asciiHexEncode(b)).map(_.toSeq).contains(b.toSeq) &&
      ascii85Decode(ascii85Encode(b)).map(_.toSeq).contains(b.toSeq) &&
      runLengthDecode(runLengthEncode(b)).map(_.toSeq).contains(b.toSeq) &&
      lzwDecode(lzwEncode(b)).map(_.toSeq).contains(b.toSeq) &&
      // decoders are total on junk (Some or None, never an exception)
      total(asciiHexDecode(b)) && total(ascii85Decode(b)) &&
      total(runLengthDecode(b)) && total(lzwDecode(b))
    }

  property("rar entries: magic-stamped junk classifies, both formats") =
    Prop.forAll(junk) { b =>
      total(graft.sources.Rar.entries(
        Array(0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x00).map(_.toByte) ++ b, 1 << 20)) &&
        total(graft.sources.Rar.entries(
          Array(0x52, 0x61, 0x72, 0x21, 0x1a, 0x07, 0x01, 0x00).map(_.toByte) ++ b, 1 << 20))
    }

  property("compress .Z round-trips and junk classifies") =
    Prop.forAll(junk) { b =>
      val rt = graft.sources.Archive.uncompressZ(
        graft.sources.Archive.compressZBytes(b), 1 << 20)._2
      rt.exists(_.sameElements(b)) &&
        total(graft.sources.Archive.uncompressZ(
          Array(0x1f, 0x9d).map(_.toByte) ++ b, 1 << 20))
    }

  // the WHOLE pdf text surface — including the round-5 ObjStm expansion,
  // AcroForm walk, and image-XObject spawn — must be total on junk that
  // carries the trigger keywords (a reviewer found a NumberFormatException
  // escaping the form-value parser; this net keeps that class closed)
  private val pdfKeywordJunk: Gen[String] = for {
    b <- junk
    kw <- Gen.oneOf("/AcroForm /Fields [2 0 R] /Root 1 0 R", "/ObjStm /N 3 /First 9",
      "/Subtype /Image /Width 4 /Height 4 stream", "/V <", "/V (", "/Kids [1 0 R]")
  } yield new String(b.take(b.length / 2), java.nio.charset.StandardCharsets.ISO_8859_1) +
    kw + new String(b.drop(b.length / 2), java.nio.charset.StandardCharsets.ISO_8859_1)

  property("pdf text/forms/objstm/images are total on keyword-stamped junk") =
    Prop.forAll(pdfKeywordJunk) { s =>
      total(graft.core.pdf.PdfMini.textFromLatin1(s)) &&
        total(graft.core.pdf.PdfMini.formFields(s)) &&
        total(graft.core.pdf.PdfMini.imageXObjects(s))
    }

  property("pdf decrypt path is total on arbitrary bytes") =
    Prop.forAll(junk) { b =>
      val latin1 = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      total(graft.core.pdf.PdfCrypt.decryptEmptyUser(latin1)) &&
        total(graft.core.pdf.PdfCrypt.decryptEmptyUser(
          "/Encrypt 1 0 R 1 0 obj << /Standard /V 2 /R 3 /Length 128 " +
            "/O <" + latin1.take(64) + "> /U (" + latin1 + ") /P -44 >> endobj " + latin1))
    }

  property("jsonl textField is total on arbitrary lines") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      total(graft.core.text.Jsonl.textField(s))
    }

  property("sniffKind is total on arbitrary bytes and names") =
    Prop.forAll(junk, Gen.alphaNumStr) { (b, n) =>
      total(graft.sources.Ingest.sniffKind(b, n))
    }

  property("pst parse/inventory: junk classifies") =
    Prop.forAll(stamped("!BDN".getBytes)) { b =>
      total(graft.core.office.Pst.parse(b, 1 << 20)) &&
        total(graft.core.office.Pst.inventory(b))
    }

  // byte-flip fuzz over a REAL 4K OST (mixed-compression leaves, permute):
  // corruption anywhere — header, pages, compressed payloads — must
  // classify, and per-message/per-attachment isolation must never leak a
  // raw Inflater/array exception
  private val ostFixtureBytes: Array[Byte] = graft.core.office.Pst.build(
    Seq(graft.core.office.Pst.BuildFolder("inbox", Seq(
      graft.core.office.Pst.BuildMsg("s", "ost fuzz body " * 400,
        atts = Seq(("a.bin", Array.tabulate[Byte](1500)(i => (i * 3).toByte))),
        truncAtts = Seq("t.bin"))))), crypt = 1, ost4k = true)

  property("4K OST with flipped bytes classifies") =
    Prop.forAll(Gen.chooseNum(0, ostFixtureBytes.length - 1),
      Gen.chooseNum(1, 255)) { (pos, x) =>
      val b = ostFixtureBytes.clone()
      b(pos) = (b(pos) ^ x).toByte
      total(graft.core.office.Pst.parse(b, 1 << 20)) &&
        total(graft.core.office.Pst.inventory(b))
    }

  property("tnef parse: junk classifies") =
    Prop.forAll(stamped(Array[Byte](0x78, 0x9f.toByte, 0x3e, 0x22))) { b =>
      total(graft.core.mail.Tnef.parse(b))
    }

  property("xz/lz4/snappy codecs: junk classifies") = Prop.forAll(junk) { b =>
    total(graft.sources.Archive.unxz(
      Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0) ++ b, 1 << 20)) &&
      total(graft.sources.Archive.unlz4(
        Array[Byte](0x04, 0x22, 0x4d, 0x18) ++ b, 1 << 20)) &&
      total(graft.sources.Archive.unsnappy(
        Array[Byte](0xff.toByte, 0x06, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y') ++ b, 1 << 20))
  }

  property("parquet textRows: junk classifies") =
    Prop.forAll(junk) { b =>
      total(graft.sources.ParquetDump.textRows(
        "PAR1".getBytes ++ b ++ "PAR1".getBytes, 100, 1 << 20))
    }

  property("avro textRows: junk classifies") =
    Prop.forAll(junk) { b =>
      total(graft.sources.AvroDump.textRows(
        Array[Byte]('O', 'b', 'j', 1) ++ b, 100, 1 << 20))
    }

  property("odf bodyText is total on arbitrary markup") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      total(graft.core.office.Odf.bodyText("<text:p>" + s + "</text:p>")) &&
        total(graft.core.office.Odf.bodyText(s))
    }

  private val PngMagic =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  property("sqlite tables: magic-stamped junk classifies") =
    Prop.forAll(junk) { b =>
      total(graft.core.db.Sqlite.tables(
        ("SQLite format 3".getBytes :+ 0.toByte) ++ b))
    }

  property("bplist parse: magic-stamped junk classifies") =
    Prop.forAll(junk) { b =>
      val stamped = "bplist00".getBytes ++ b
      total(if (graft.core.db.Plist.isBplist(stamped))
        graft.core.db.Plist.parse(stamped))
    }

  property("media probes: magic-stamped junk classifies") = Prop.forAll(junk) { b =>
    import graft.core.media.Probe
    total(Probe.probePng(PngMagic ++ b)) &&
      total(Probe.probeJpeg(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++ b)) &&
      total(Probe.probeGif("GIF89a".getBytes ++ b)) &&
      total(Probe.probeMp4(Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes ++ b)) &&
      total(Probe.probeMp3(Array[Byte](0xff.toByte, 0xfb.toByte) ++ b)) &&
      total(Probe.probeMp3("ID3".getBytes ++ b)) &&
      total(Probe.probeWav("RIFF    WAVE".getBytes ++ b))
  }

  property("ar/cpio/rpm: magic-stamped junk classifies") = Prop.forAll(junk) { b =>
    import graft.sources.Archive
    total(Archive.unar("!<arch>\n".getBytes ++ b, 1 << 20)) &&
      total(Archive.uncpio("070701".getBytes ++ b, 1 << 20)) &&
      total(Archive.rpmEntries(
        Array(0xed, 0xab, 0xee, 0xdb, 3, 0, 0, 0).map(_.toByte) ++ b, 1 << 20))
  }

  property("raster probes: magic-stamped junk classifies") = Prop.forAll(junk) { b =>
    import graft.core.media.Probe
    total(Probe.probeTiff(Array[Byte]('I', 'I', 42, 0) ++ b)) &&
      total(Probe.probeTiff(Array[Byte]('M', 'M', 0, 42) ++ b)) &&
      total(Probe.probeBmp(Array[Byte]('B', 'M') ++ b)) &&
      total(Probe.probeWebp("RIFF    WEBP".getBytes ++ b)) &&
      total(Probe.probeIco(Array[Byte](0, 0, 1, 0, 1, 0) ++ b))
  }

  property("iso entries: descriptor-stamped junk classifies") = Prop.forAll(junk) { b =>
    // junk placed where the descriptor set lives (sector 16)
    val img = new Array[Byte](16 * 2048) ++ "\u0001CD001".getBytes ++ b
    total { if (graft.sources.Iso.isIso(img)) graft.sources.Iso.entries(img, 1 << 20) }
  }

  property("dbf: structurally-plausible junk classifies") = Prop.forAll(junk) { b =>
    val head = Array[Byte](3, 24, 1, 15) ++ b
    total { if (graft.core.db.Dbf.isDbf(head)) graft.core.db.Dbf.parse(head) }
  }

  property("wpd: magic-stamped junk classifies") = Prop.forAll(junk) { b =>
    val doc = Array(0xff.toByte, 'W'.toByte, 'P'.toByte, 'C'.toByte,
      16, 0, 0, 0, 1, 0x0a, 0, 0, 0, 0, 0, 0).map(_.toByte) ++ b
    total(graft.core.office.Wpd.text(doc))
  }

  property("lnk: header-stamped junk classifies") = Prop.forAll(junk) { b =>
    val head = Array[Byte](0x4c, 0, 0, 0) ++ Array(
      0x01, 0x14, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00,
      0xc0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x46).map(_.toByte) ++ b
    total { if (graft.core.office.Lnk.isLnk(head)) graft.core.office.Lnk.parse(head) }
  }

  property("chm: header-stamped junk classifies") = Prop.forAll(junk) { b =>
    val head = "ITSF".getBytes ++ Array[Byte](3, 0, 0, 0) ++ b
    total { if (graft.sources.Chm.isChm(head)) graft.sources.Chm.entries(head, 1 << 20) }
  }

  property("lzx: junk segments classify") = Prop.forAll(junk) { b =>
    total(graft.core.compress.Lzx.decodeSegment(b, 16, math.max(1, b.length)))
  }

  property("offcrypto: junk EncryptionInfo classifies") = Prop.forAll(junk) { b =>
    // a structurally-valid compound file whose crypto streams are junk:
    // the standard-encryption parser must classify, never throw raw
    val entries = Seq[(String, Option[Array[Byte]])](
      ("EncryptionInfo", Some(b)), ("EncryptedPackage", Some(b)))
    total(graft.core.office.OoxmlCrypt.decryptDefault(entries))
  }

  property("offcrypto agile: version-stamped junk descriptors classify") = Prop.forAll(junk) { b =>
    val info = Array[Byte](4, 0, 4, 0, 0x40, 0, 0, 0) ++ b
    val entries = Seq[(String, Option[Array[Byte]])](
      ("EncryptionInfo", Some(info)), ("EncryptedPackage", Some(b.padTo(16, 0.toByte))))
    total(graft.core.office.OoxmlCrypt.decryptDefault(entries))
  }

  property("onenote: guid-stamped junk classifies") = Prop.forAll(junk) { b =>
    val head = new Array[Byte](1024)
    // stamp the revision-store format GUID so the sniff engages, then
    // splatter junk over the rest of the header and body
    b.take(1024 - 64).copyToArray(head, 64)
    val one = graft.core.office.OneNote.build(Seq("seed"))
    System.arraycopy(one, 48, head, 48, 16)
    total { if (graft.core.office.OneNote.isOne(head)) graft.core.office.OneNote.text(head) }
  }

  property("rtfcomp: compress/decompress round-trips arbitrary bytes") =
    Prop.forAll(junk) { b =>
      java.util.Arrays.equals(
        graft.core.office.RtfComp.decompress(graft.core.office.RtfComp.compress(b)), b)
    }

  property("rtfcomp: lzfu-stamped junk classifies") = Prop.forAll(junk) { b =>
    val data = new Array[Byte](math.max(b.length, 16))
    b.copyToArray(data)
    data(8) = 'L'; data(9) = 'Z'; data(10) = 'F'; data(11) = 'u'
    total { graft.core.office.RtfComp.decompress(data) }
  }

  property("hwp: signature-stamped junk sections classify") = Prop.forAll(junk) { b =>
    val header = new Array[Byte](256)
    System.arraycopy("HWP Document File".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, header, 0, 17)
    header(36) = 1 // compressed flag: junk must fail inflate or the record walk
    val entries = Seq[(String, Option[Array[Byte]])](
      ("FileHeader", Some(header)), ("BodyText/Section0", Some(b)))
    total { if (graft.core.office.Hwp.isHwp(entries)) graft.core.office.Hwp.text(entries) }
  }

  property("pdf cmap: junk parses best-effort, never throws") = Prop.forAll(junk) { b =>
    val s = "beginbfchar " + new String(b, java.nio.charset.StandardCharsets.ISO_8859_1) +
      " endbfchar beginbfrange <00> <ff> <41> endbfrange"
    graft.core.pdf.PdfCmap.parse(s)
    Prop.passed
  }

  property("pub: chnkink-stamped junk CONTENTS classifies") = Prop.forAll(junk) { b =>
    val data = new Array[Byte](math.max(b.length, 8))
    b.copyToArray(data)
    System.arraycopy("CHNKINK ".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
      0, data, 0, 8)
    total { graft.core.office.Pub.quillText(data) }
  }

  property("xlsb: junk record streams classify") = Prop.forAll(junk) { b =>
    total { graft.core.office.Xlsb.sharedStrings(b) }
    total { graft.core.office.Xlsb.sheetText(b, Vector("s")) }
  }

  property("cab: header-stamped junk classifies") = Prop.forAll(junk) { b =>
    val head = ("MSCF".getBytes ++ Array.fill[Byte](4)(0) ++ b).padTo(36, 0.toByte)
    head(24) = 3; head(25) = 1 // version 1.3 so the sniff engages
    total { if (graft.sources.Cab.isCab(head)) graft.sources.Cab.entries(head, 1 << 20) }
  }

  property("xls filepass: junk-bodied encrypted workbooks classify") = Prop.forAll(junk) { b =>
    // BOF + FILEPASS framing with junk payload, then junk records
    val bof = Array[Byte](0x09, 0x08, 4, 0, 0, 6, 5, 0)
    val fpLen = math.min(b.length, 120)
    val fp = Array[Byte](0x2f, 0x00, (fpLen & 0xff).toByte, ((fpLen >> 8) & 0xff).toByte) ++ b.take(fpLen)
    total(graft.core.office.Xls.text(Vector(("Workbook", Some(bof ++ fp ++ b)))))
  }
}
