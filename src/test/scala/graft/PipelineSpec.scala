package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.pipeline.ExtractJob

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
    val ckpt = spark.read.parquet(s"$out/checkpoints")
    assert(ckpt.filter(col("committed")).count() > 0)
    assert(ckpt.agg(sum("n_docs")).first().getLong(0) == 30)
  }

  test("incremental commit: run N+1 writes O(run N+1), never rewrites history") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(10), None, out)
    val run1 = ExtractJob.committedRuns(spark, out)
    assert(run1.size == 1)
    def snapshot(runId: String): Map[String, Long] = {
      val d = new java.io.File(s"$out/combined/run-$runId")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = snapshot(run1.head)

    // run 2 over a superset: auto-resume keeps only the 10 new docs
    val (nd2, nl2) = ExtractJob.run(spark, corpus(20), None, out)
    val runs2 = ExtractJob.committedRuns(spark, out)
    assert(runs2.size == 2 && runs2.head == run1.head)
    // history untouched: same files, same mtimes in run 1's dir
    assert(snapshot(run1.head) == before)
    // run 2's own dir holds exactly the 10 new docs' lineage
    val run2Dir = s"$out/combined/run-${runs2(1)}"
    val run2Lineage = spark.read.parquet(run2Dir)
      .filter(col("lineage").isNotNull).select("lineage.*")
    assert(run2Lineage.count() == 10)
    assert(run2Lineage.agg(min("doc_id")).first().getLong(0) == 10L)
    // views see the union
    assert(nl2 == 20)
    assert(ExtractJob.readExtracted(spark, out).get
      .filter(col("level") === 0).count() == 20)

    // run 3 over the same input: nothing pending, still O(nothing)
    val (nd3, nl3) = ExtractJob.run(spark, corpus(20), None, out)
    assert(nl3 == 20 && nd3 == nd2)
  }

  test("snapshot-table runs: incremental appends, resume from the snapshot view") {
    val table = tmpDir() + "/tbl"
    val (nd1, nl1) = ExtractJob.runSnapshot(spark, corpus(10), table)
    assert(nl1 == 10)
    val (nd2, nl2) = ExtractJob.runSnapshot(spark, corpus(20), table)
    assert(nl2 == 20) // only the 10 new docs extracted on run 2
    assert(graft.catalog.SnapshotTable.snapshots(table) == Seq(1L, 2L))
    // time travel: run 1's view still shows only the first 10 docs' lineage
    val v1 = graft.catalog.SnapshotTable.read(spark, table, Some(1))
    assert(v1.filter(col("lineage").isNotNull).count() == 10)
    // idempotent third run over the same input
    val (_, nl3) = ExtractJob.runSnapshot(spark, corpus(20), table)
    assert(nl3 == 20)
  }

  test("crash-orphaned run dir (no manifest row) is invisible to readers") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(5), None, out)
    // simulate a crash after the run-dir write but before the manifest
    // append: a bare run dir with no manifest row
    ExtractJob.extractPartitions(corpus(8), ExtractJob.JobConfig())
      .toDF("doc", "lineage")
      .write.mode("overwrite").parquet(s"$out/combined/run-orphan99")
    assert(ExtractJob.committedRuns(spark, out).size == 1)
    assert(ExtractJob.readLineage(spark, out).get.count() == 5)
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
    // nothing pending
    val idle = ExtractJob.run(spark, corpus(12), None, out)
    assert(idle == views && idle == recur)
    // a crash-orphaned run dir with no manifest row is not counted
    ExtractJob.extractPartitions(corpus(30), ExtractJob.JobConfig())
      .toDF("doc", "lineage")
      .write.mode("overwrite").parquet(s"$out/combined/run-orphan99")
    val after = ExtractJob.run(spark, corpus(14), None, out)
    assert(after == views && after._2 == 27)
  }

  test("declared schemas equal the inferred ones; checkpoints sum to each run's lineage") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(10), None, out)
    ExtractJob.run(spark, corpus(16), None, out)
    val runs = ExtractJob.committedRuns(spark, out)
    assert(spark.read.parquet(s"$out/manifest").schema == ExtractJob.ManifestSchema)
    assert(spark.read.parquet(s"$out/checkpoints").schema == ExtractJob.CheckpointSchema)
    val lineageRows = runs.map { r =>
      val dir = spark.read.parquet(s"$out/combined/run-$r")
      assert(dir.schema == ExtractJob.CombinedSchema)
      r -> dir.filter(col("lineage").isNotNull).count()
    }.toMap
    assert(lineageRows == Map(runs(0) -> 10L, runs(1) -> 6L))
    val ckpt = ExtractJob.readCheckpoints(spark, out).get
      .groupBy("run_id").agg(sum("n_docs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ckpt == lineageRows)
  }

  test("run tags each step's jobs and keeps the caller's job group and description") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"caller-${java.util.UUID.randomUUID}"
    val sentinel = s"sentinel-$group"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).contains(group)) {
          val d = props.map(_.getProperty("spark.job.description")).orNull
          if (d == sentinel) sentinelSeen.countDown() else seen.add(String.valueOf(d))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = tmpDir()
      sc.setJobGroup(group, "caller work", interruptOnCancel = false)
      ExtractJob.run(spark, corpus(10), None, out)
      ExtractJob.run(spark, corpus(12), None, out)
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("spark.job.description") == "caller work")
      // listener events arrive in order: once the sentinel job is seen, so
      // are all of run's jobs
      sc.setJobDescription(sentinel)
      sc.parallelize(1 to 2).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val steps = Seq("resume", "extract", "checkpoints", "manifest", "totals")
        .map("ExtractJob.run/" + _)
      assert(seen.asScala.toSet == steps.toSet)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
      DocIn(7, Array(SpanIn("text", "ok", "", 0), SpanIn("html", "POISON:x", "", 1)))
    ))
    val res = ExtractJob.extractPartitions(poisoned, ExtractJob.JobConfig()).collect()
    val lineages = res.flatMap(_._2)
    assert(lineages.length == 7) // one lineage row per input doc
    def st(id: Long) = lineages.find(_.doc_id == id).get.status
    assert(st(1) == Status.Success)
    assert(st(2) == Status.Success) // graceful empty, not a failure
    assert(st(3) == Status.NotDecrypted)
    assert(st(4) == Status.NotParsed)
    assert(st(5) == Status.NotFound)
    assert(st(6) == Status.Unreadable)
    assert(st(7) == Status.NotParsed)
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
