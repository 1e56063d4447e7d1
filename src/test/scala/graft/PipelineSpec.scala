package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable
import graft.core._
import graft.pipeline.{ExtractJob, Sink}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pipe").toString

  private def corpus(n: Int) = {
    import spark.implicits._
    spark.createDataset((0 until n).map { i =>
      Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unit$i")
    })
  }

  test("end-to-end run writes extracted, lineage, and checkpoints") {
    val out = tmpDir()
    val (nd, nl) = ExtractJob.run(spark, corpus(30), None, out)
    assert(nl == 30)
    // docs: 30 roots + 10 level-1 children (doc_id%3==0) + 1 level-2 child
    // (doc 27 is a chain container)
    assert(nd == 41)
    val lineage = ExtractJob.readLineage(spark, out).get
    assert(lineage.filter(col("status") === Status.Success).count() == 30)
    assert(lineage.filter(col("docs_per_sec") > 0).count() == 30)
    val ckpt = ExtractJob.readCheckpoints(spark, out).get
    assert(ckpt.filter(col("committed")).count() > 0)
    assert(ckpt.agg(sum("n_docs")).first().getLong(0) == 30)
  }

  test("incremental commit: run N+1 writes O(run N+1), never rewrites history") {
    val out = tmpDir()
    val table = s"$out/combined"
    val (_, nl1) = ExtractJob.run(spark, corpus(10), None, out)
    assert(nl1 == 10)
    val run1 = SnapshotTable.dataDirs(table, 1)
    assert(run1.size == 1)
    def snapshot(dir: String): Map[String, Long] =
      new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = snapshot(run1.head)

    // run 2 over a superset: auto-resume keeps only the 10 new docs
    val (nd2, nl2) = ExtractJob.run(spark, corpus(20), None, out)
    assert(SnapshotTable.snapshots(table) == Seq(1L, 2L))
    val runs2 = SnapshotTable.dataDirs(table, 2)
    assert(runs2.size == 2 && runs2.head == run1.head)
    // history untouched: same files, same mtimes in run 1's dir
    assert(snapshot(run1.head) == before)
    // run 2's own dir holds exactly the 10 new docs' lineage
    val run2Lineage = spark.read.parquet(runs2(1))
      .filter(col("lineage").isNotNull).select("lineage.*")
    assert(run2Lineage.count() == 10)
    assert(run2Lineage.agg(min("doc_id")).first().getLong(0) == 10L)
    // views see the union
    assert(nl2 == 20)
    assert(ExtractJob.readExtracted(spark, out).get
      .filter(col("level") === 0).count() == 20)
    // time travel: snapshot 1 still shows only the first 10 docs' lineage
    assert(SnapshotTable.read(spark, table, Some(1))
      .filter(col("lineage").isNotNull).count() == 10)

    // run 3 over the same input: nothing pending, still O(nothing) — no
    // snapshot and no data dir
    val dirs = dataDirs(out)
    val (nd3, nl3) = ExtractJob.run(spark, corpus(20), None, out)
    assert(nl3 == 20 && nd3 == nd2)
    assert(SnapshotTable.snapshots(table) == Seq(1L, 2L))
    assert(dataDirs(out) == dirs && dirs.size == 2)
  }

  /** Names of the data dirs on disk under `out`'s table, committed or not. */
  private def dataDirs(out: String): Seq[String] =
    new java.io.File(s"$out/combined/data").list().toSeq.sorted

  /** Writes `corpus(n)`'s extraction as a data dir of `out`'s table that no
    * snapshot lists: what a crash between the data write and the snapshot
    * publish leaves behind.
    */
  private def writeOrphan(out: String, n: Int, name: String = "orphan99"): Unit =
    ExtractJob.extractPartitions(corpus(n), ExtractJob.JobConfig())
      .toDF("doc", "lineage")
      .write.mode("overwrite").parquet(s"$out/combined/data/$name")

  test("crash-orphaned data dir (in no snapshot) is invisible to readers") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(5), None, out)
    writeOrphan(out, 8)
    assert(SnapshotTable.snapshots(s"$out/combined") == Seq(1L))
    assert(SnapshotTable.dataDirs(s"$out/combined", 1).size == 1)
    assert(ExtractJob.readLineage(spark, out).get.count() == 5)
    assert(ExtractJob.readCheckpoints(spark, out).get
      .agg(sum("n_docs")).first().getLong(0) == 5)
  }

  test("compacting the pipeline's table keeps its views and sweeps stale orphans") {
    val out = tmpDir()
    val table = s"$out/combined"
    ExtractJob.run(spark, corpus(10), None, out)
    ExtractJob.run(spark, corpus(16), None, out)
    def rows(df: Option[org.apache.spark.sql.DataFrame]) = df.get.collect().map(_.toString).sorted.toSeq
    def docSums = ExtractJob.readCheckpoints(spark, out).get
      .groupBy("partition_id").agg(sum("n_docs")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (extracted, lineage, sums) =
      (rows(ExtractJob.readExtracted(spark, out)), rows(ExtractJob.readLineage(spark, out)), docSums)
    val listed = SnapshotTable.snapshots(table).flatMap(SnapshotTable.dataDirs(table, _))
      .map(new java.io.File(_).getName).distinct
    writeOrphan(out, 8)
    SparkTestBase.backdate(java.nio.file.Paths.get(s"$table/data/orphan99"))
    writeOrphan(out, 4, "fresh001")

    assert(Sink.compact(spark, table) == 1)
    val v = SnapshotTable.currentVersion(table).get
    assert(v == 3L && SnapshotTable.dataDirs(table, v).size == 1)
    assert(rows(ExtractJob.readExtracted(spark, out)) == extracted)
    assert(rows(ExtractJob.readLineage(spark, out)) == lineage)
    assert(docSums == sums)
    val compacted = new java.io.File(SnapshotTable.dataDirs(table, v).head).getName
    assert(ExtractJob.readCheckpoints(spark, out).get.select("run_id").distinct()
      .collect().map(_.getString(0)).toSeq == Seq(compacted))
    val after = dataDirs(out)
    assert(!after.contains("orphan99") && after.contains("fresh001"))
    assert((listed :+ compacted).forall(after.contains))
    // an idle re-run over the compacted table still publishes nothing
    ExtractJob.run(spark, corpus(16), None, out)
    assert(SnapshotTable.snapshots(table) == Seq(1L, 2L, 3L) && dataDirs(out) == after)
  }

  /** Column path -> the encodings of its chunks, over every parquet file
    * of the data dirs of `table`'s current snapshot.
    */
  private def encodings(table: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = SnapshotTable.dataDirs(table, SnapshotTable.currentVersion(table).get)
      .flatMap(d => new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")))
    val chunks = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq finally r.close()
    }
    chunks.groupBy(_.getPath.toDotString).map { case (p, cs) =>
      p -> cs.flatMap(_.getEncodings.asScala.map(_.name)).toSet }
  }

  test("the write skips the dictionary of its near-unique columns only; the views read the same rows") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(30), None, out)
    // the same rows, written again with the writer's default options
    val plain = tmpDir()
    SnapshotTable.appendNonEmpty(spark, s"$plain/combined", ExtractJob.readCombined(spark, out).get)
    val dict = (e: Set[String]) => e.exists(_.endsWith("_DICTIONARY"))
    val (got, default) = (encodings(s"$out/combined"), encodings(s"$plain/combined"))
    val skipped = Seq("doc.doc_id", "doc.spans.list.element.text", "lineage.doc_id",
      "lineage.docs_per_sec", "lineage.bytes_per_sec")
    val kept = Seq("doc.root_id", "lineage.status", "doc.spans.list.element.kind")
    // the default writer keeps a dictionary wherever it pays off
    assert(kept.forall(c => dict(default(c))) && skipped.exists(c => dict(default(c))), default)
    assert(skipped.forall(c => !dict(got(c))), got)
    assert(kept.forall(c => dict(got(c))), got)
    def rows(df: Option[org.apache.spark.sql.DataFrame]) = df.get.collect().map(_.toString).sorted.toSeq
    assert(rows(ExtractJob.readExtracted(spark, out)) == rows(ExtractJob.readExtracted(spark, plain)))
    assert(rows(ExtractJob.readLineage(spark, out)) == rows(ExtractJob.readLineage(spark, plain)))
  }

  test("run's totals equal the view counts, orphans and recurring docs included") {
    import spark.implicits._
    val out = tmpDir()
    def views = (ExtractJob.readExtracted(spark, out).get.count(),
      ExtractJob.readLineage(spark, out).get.count())
    // a first run whose input holds duplicated doc_ids
    val first = ExtractJob.run(spark, corpus(10).union(corpus(3)), None, out)
    assert(first == views && first._2 == 13)
    // an external lineage with no terminal rows: the SUCCESS docs 0..9 are
    // extracted again and recur across runs
    val noTerminal = Seq((0L, Status.NotParsed)).toDF("doc_id", "status")
    val recur = ExtractJob.run(spark, corpus(12), Some(noTerminal), out)
    assert(recur == views && recur._2 == 25)
    // nothing pending: no snapshot and no data dir
    val (snaps, dirs) = (SnapshotTable.snapshots(s"$out/combined"), dataDirs(out))
    val idle = ExtractJob.run(spark, corpus(12), None, out)
    assert(idle == views && idle == recur)
    assert(SnapshotTable.snapshots(s"$out/combined") == snaps && dataDirs(out) == dirs)
    // a crash-orphaned data dir in no snapshot is not counted
    writeOrphan(out, 30)
    val after = ExtractJob.run(spark, corpus(14), None, out)
    assert(after == views && after._2 == 27)
  }

  test("concurrent runs into one output both commit; the last commit's totals count both") {
    import spark.implicits._
    val out = tmpDir()
    def docs(ids: Range) = spark.createDataset(ids.map { i =>
      Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie delta echo unit$i")
    })
    val inputs = Seq(docs(0 until 12), docs(100 until 130))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val totals =
      try inputs.map(in => pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
        def call(): (Long, Long) = ExtractJob.run(spark, in, None, out)
      })).map(_.get())
      finally pool.shutdown()
    val table = s"$out/combined"
    assert(SnapshotTable.snapshots(table) == Seq(1L, 2L))
    assert(SnapshotTable.dataDirs(table, 2).size == 2)
    val lineage = ExtractJob.readLineage(spark, out).get
    assert(lineage.select("doc_id").as[Long].collect().sorted.toSeq ==
      ((0 until 12) ++ (100 until 130)).map(_.toLong))
    // whichever run published v1 counts only its own rows; the one that
    // published v2 counts both, which are the view counts
    val views = (ExtractJob.readExtracted(spark, out).get.count(), lineage.count())
    val v1 = SnapshotTable.read(spark, table, Some(1))
    val (firstCommit, lastCommit) = (totals.minBy(_._2), totals.maxBy(_._2))
    assert(firstCommit._2 == v1.filter(col("lineage").isNotNull).count())
    assert(firstCommit._1 == v1.filter(col("doc").isNotNull).select("doc.doc_id").distinct().count())
    assert(lastCommit == views && lastCommit._2 == 42)
  }

  test("declared schemas equal the inferred ones; checkpoints sum to each run's lineage") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(10), None, out)
    ExtractJob.run(spark, corpus(16), None, out)
    val table = s"$out/combined"
    val runs = SnapshotTable.dataDirs(table, SnapshotTable.currentVersion(table).get)
    // per data dir: (partition_id, lineage rows, sum(n_spans_out)) of its lineage
    val lineageAgg = runs.map { dir =>
      val df = spark.read.parquet(dir)
      assert(df.schema == ExtractJob.CombinedSchema)
      new java.io.File(dir).getName -> df.filter(col("lineage").isNotNull).select("lineage.*")
        .groupBy("partition_id").agg(count(lit(1)), sum("n_spans_out")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(lineageAgg.map(_._2.toSeq.map(_._2).sum) == Seq(10L, 6L))
    val ckpt = ExtractJob.readCheckpoints(spark, out).get
    assert(ckpt.columns.toSeq == Seq("partition_id", "n_docs", "n_spans", "run_id", "committed"))
    val ckptByRun = ckpt.collect().groupBy(_.getAs[String]("run_id")).map { case (r, rows) =>
      r -> rows.map(x => (x.getAs[Int]("partition_id"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_spans"))).toSet
    }
    assert(ckptByRun == lineageAgg.toMap)
  }

  test("run tags each step's jobs and keeps the caller's job group and description") {
    val seen = SparkTestBase.launched {
      val out = tmpDir()
      ExtractJob.run(spark, corpus(10), None, out)
      ExtractJob.run(spark, corpus(12), None, out)
    }
    val steps = Seq("extract", "totals")
      .map("ExtractJob.run/" + _)
    assert(seen.jobs.toSet == steps.toSet)
    // every stage, the adaptive ones included, is named after its job's step
    assert(seen.stages.map(_._1).toSet == steps.toSet, seen.stages)
    assert(seen.stages.forall { case (job, stage) => stage == job }, seen.stages)
  }

  test("resume skips terminal statuses and retries the rest") {
    import spark.implicits._
    val input = corpus(20)
    val lineage = spark.createDataFrame(Seq(
      (0L, Status.Success), (1L, Status.Timeout), (2L, Status.Fatal),
      (3L, Status.Unknown), (4L, Status.NotParsed)
    )).toDF("doc_id", "status")
    val pending = ExtractJob.resume(input, lineage).collect().map(_.doc_id).sorted
    // 0,1,2 terminal -> skipped; 3,4 retryable -> kept
    assert(pending.toSeq == (3L until 20L))
  }

  test("second run over its own lineage extracts nothing (idempotent resume)") {
    val out = tmpDir()
    val input = corpus(10)
    ExtractJob.run(spark, input, None, out)
    val lineage = ExtractJob.readLineage(spark, out).get
    val pending = ExtractJob.resume(input, lineage)
    assert(pending.count() == 0)
  }

  test("failure taxonomy: every producing path yields its classified status") {
    import spark.implicits._
    val poisoned = spark.createDataset(Seq(
      DocIn(1, Array(SpanIn("text", "fine", "", 0))),
      DocIn(2, null), // null spans == empty doc: SUCCESS/empty-file
      DocIn(3, Array(SpanIn("pdf", "ENCRYPTED:blob", "", 0))),
      DocIn(4, Array(SpanIn("html", "POISON:tagsoup", "", 0))),
      DocIn(5, Array(SpanIn("media", "MISSING:blobref", "", 0))),
      DocIn(6, Array(SpanIn("pdf", "UNREADABLE:truncated", "", 0))),
      // a good span before the failing one: the doc still fails as a whole
      DocIn(7, Array(SpanIn("text", "ok", "", 0), SpanIn("html", "POISON:x", "", 1))),
      // a container span carrying the marker: classified, never parsed
      DocIn(8, Array(SpanIn("zip", "ENCRYPTED:blob", "", 0)))
    ))
    val res = ExtractJob.extractPartitions(poisoned, ExtractJob.JobConfig()).collect()
    val lineages = res.flatMap(_._2)
    assert(lineages.length == 8) // one lineage row per input doc
    def st(id: Long) = lineages.find(_.doc_id == id).get.status
    assert(st(1) == Status.Success)
    assert(st(2) == Status.Success) // graceful empty, not a failure
    assert(st(3) == Status.NotDecrypted)
    assert(st(4) == Status.NotParsed)
    assert(st(5) == Status.NotFound)
    assert(st(6) == Status.Unreadable)
    assert(st(7) == Status.NotParsed)
    assert(st(8) == Status.NotDecrypted)
    // failed docs emit no doc rows
    val docIds = res.flatMap(_._1).map(_.doc_id).toSet
    assert((4L to 7L).forall(id => !docIds.contains(graft.core.Ids.rootId(id))))
    // NOT_DECRYPTED is non-terminal: a resume retries it
    assert(!Status.terminal.contains(Status.NotDecrypted))
    // the empty doc still emitted a (reason-stamped) doc row, not a failure
    val emptyDoc = res.flatMap(_._1).find(_.doc_id == graft.core.Ids.rootId(2L))
    assert(emptyDoc.get.no_content_reason == Reason.Empty)
  }

  test("slow document hits the deadline -> FAILURE_TIMEOUT, terminal for resume") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      DocIn(1, Array(SpanIn("text", "fast", "", 0))),
      // busy-waits >=100ms; the 20ms deadline MUST fire at the next boundary
      DocIn(2, Array(SpanIn("text", "SLOW:100", "", 0), SpanIn("text", "after", "", 1)))
    ))
    val cfg = ExtractJob.JobConfig(docTimeoutMillis = 20)
    val res = ExtractJob.extractPartitions(docs, cfg).collect()
    val lineages = res.flatMap(_._2)
    assert(lineages.find(_.doc_id == 1).get.status == Status.Success)
    assert(lineages.find(_.doc_id == 2).get.status == Status.Timeout)
    // no doc rows for the timed-out doc
    assert(!res.flatMap(_._1).exists(_.doc_id == graft.core.Ids.rootId(2L)))
    // TIMEOUT is terminal: resume skips it (the reference's Reporter.skip)
    val lineageDf = spark.createDataset(lineages.toSeq).toDF()
    assert(ExtractJob.resume(docs, lineageDf).count() == 0)
    // without a deadline the same doc succeeds (cooperative, not spurious)
    val ok = ExtractJob.extractPartitions(docs, ExtractJob.JobConfig()).collect()
    assert(ok.flatMap(_._2).forall(_.status == Status.Success))
  }

  test("salted repartition spreads oversized docs and keeps all rows") {
    import spark.implicits._
    val big = DocIn(999, Array(SpanIn("text", "x" * 2000, "", 0)))
    val docs = spark.createDataset(
      (0 until 50).map(i => DocIn(i.toLong, Array(SpanIn("text", "small", "", 0)))) :+ big)
    val cfg = ExtractJob.JobConfig(partitions = 8, oversizedChars = 1000)
    val parted = ExtractJob.saltedRepartition(docs, cfg)
    assert(parted.count() == 51)
    assert(parted.rdd.getNumPartitions == 8)
  }

  test("extraction output equals the direct per-doc computation (plan-independent)") {
    import spark.implicits._
    val input = corpus(15)
    val expected = (0 until 15).flatMap(i =>
      graft.core.route.Extract.explode(
        Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unit$i")))
      .map(_.doc_id).sorted
    val got = ExtractJob.extractPartitions(
      ExtractJob.saltedRepartition(input, ExtractJob.JobConfig(partitions = 5)),
      ExtractJob.JobConfig())
      .collect().flatMap(_._1).map(_.doc_id).sorted.toSeq
    assert(got == expected)
  }
}
