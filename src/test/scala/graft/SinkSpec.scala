package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable
import graft.pipeline.Sink

class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").resolve("t").toString

  /** A table holding two trees: r1 (two children) and r2 (one child). */
  private def twoTrees(): String = {
    import spark.implicits._
    val table = tmp()
    SnapshotTable.append(spark, table, Seq(
      ("r1", "", "r1", 0), ("c1a", "r1", "r1", 1), ("c1b", "r1", "r1", 1),
      ("r2", "", "r2", 0), ("c2a", "r2", "r2", 1)
    ).toDF("doc_id", "parent_id", "root_id", "level"))
    table
  }

  private def replaceR1(table: String): Long = {
    import spark.implicits._
    val replacement = Seq(("r1", "", "r1", 0), ("c1new", "r1", "r1", 1))
      .toDF("doc_id", "parent_id", "root_id", "level")
    Sink.replaceTrees(spark, table, Seq("r1"), replacement)
  }

  private def docIds(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => r.getString(0)).sorted.toSeq

  test("replaceTrees: stale children deleted, other trees untouched") {
    val table = twoTrees()
    assert(replaceR1(table) == 2L)
    // c1a/c1b gone (stale-children delete), r1 tree replaced, r2 intact
    assert(docIds(SnapshotTable.read(spark, table)) == Seq("c1new", "c2a", "r1", "r2"))
  }

  test("replaceTrees: a reader resolved at v before the replace reads exactly v's rows") {
    val table = twoTrees()
    val pinned = SnapshotTable.read(spark, table) // resolves v1's dirs now
    replaceR1(table)
    assert(docIds(pinned) == Seq("c1a", "c1b", "c2a", "r1", "r2"))
    assert(docIds(SnapshotTable.read(spark, table, Some(1))) == docIds(pinned))
  }

  test("mergePaths: existing paths merged distinct, new docs inserted") {
    import spark.implicits._
    val table = tmp()
    SnapshotTable.append(spark, table,
      Seq(("d1", Seq("/a")), ("d2", Seq("/b"))).toDF("doc_id", "paths"))

    Sink.mergePaths(spark, table,
      Seq(("d1", Seq("/a", "/c")), ("d3", Seq("/z"))).toDF("doc_id", "paths"))

    val after = SnapshotTable.read(spark, table).collect()
      .map(r => (r.getString(0), r.getSeq[String](1).toList)).toMap
    assert(after("d1") == List("/a", "/c")) // merged, distinct
    assert(after("d2") == List("/b"))       // untouched
    assert(after("d3") == List("/z"))       // inserted
  }

  test("spewFiles: one file per doc; a per-doc IO failure -> FAILURE_NOT_SAVED") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.core.{DocOut, SpanOut, Status}
    val dir = Files.createTempDirectory("graft-spew").toString
    val docs = spark.createDataset(Seq(
      DocOut("aaa", "", "aaa", 0, Array(SpanOut("text", "hello", "", 0)), ""),
      DocOut("bbb", "", "bbb", 0, Array(SpanOut("text", "world", "", 0)), "")))
    // pre-existing DIRECTORY at bbb's target path: ITS write fails, others don't
    Files.createDirectories(Paths.get(dir, "bbb.txt"))
    val st = Sink.spewFiles(docs, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st("aaa") == Status.Success)
    assert(st("bbb") == Status.NotSaved)
    assert(new String(Files.readAllBytes(Paths.get(dir, "aaa.txt"))) == "hello")
  }

  test("spewHtmlFiles: sanitized HTML5 output, markup never survives") {
    import java.nio.file.{Files, Paths}
    import graft.core.{DocOut, SpanOut, Status}
    val dir = Files.createTempDirectory("graft-spew-html").toString
    val evil = DocOut("ccc", "", "ccc", 0, Array(
      SpanOut("html", "line one\n<script>alert(1)</script> & \"q\"", "", 0),
      SpanOut("media", "scan text", "art/ab/cdef", 1)), "")
    val empty = DocOut("ddd", "", "ddd", 0, Array.empty, "empty-file")
    // golden render (the HTML5Serializer-semantics contract)
    assert(Sink.renderHtml(evil) ==
      """<!DOCTYPE html><html><head><meta charset="UTF-8"/><title>ccc</title></head>""" +
        """<body><section class="span" data-kind="html"><p>line one</p>""" +
        """<p>&lt;script&gt;alert(1)&lt;/script&gt; &amp; &quot;q&quot;</p></section>""" +
        """<section class="span" data-kind="media"><p>scan text</p>""" +
        """<a href="art/ab/cdef" download>art/ab/cdef</a></section></body></html>""")
    assert(Sink.renderHtml(empty).contains("""<p class="no-content">empty-file</p>"""))
    val st = Sink.spewHtmlFiles(spark.createDataset(Seq(evil, empty))(
      org.apache.spark.sql.Encoders.product[DocOut]), dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st("ccc") == Status.Success && st("ddd") == Status.Success)
    val written = new String(Files.readAllBytes(Paths.get(dir, "ccc.html")))
    assert(!written.contains("<script>")) // sanitization survives the write
  }

  test("compact merges a many-small-files dir losslessly") {
    import spark.implicits._
    val table = tmp()
    // three appends of ten files each: three dirs, thirty files
    (0 until 3).foreach { k =>
      SnapshotTable.append(spark, table, (k * 1000 + 1 to (k + 1) * 1000).toDF("x").repartition(10))
    }
    def parquetFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    def current = SnapshotTable.dataDirs(table, SnapshotTable.currentVersion(table).get)
    assert(current.map(parquetFiles) == Seq(10, 10, 10))
    val n = Sink.compact(spark, table) // tiny data -> 1 target file
    assert(n == 1 && current.size == 1 && parquetFiles(current.head) == 1)
    assert(SnapshotTable.read(spark, table).agg(sum("x"))
      .first().getLong(0) == 3000L * 3001 / 2)
  }
}
