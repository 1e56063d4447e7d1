package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.core.route.Extract

/** The production extraction job — SURVEY §3.1's Spark equivalent:
  *
  * read spans table -> anti-join lineage (exact resume) -> salted
  * repartition on doc_id (skew handling) -> mapPartitions(extract) ->
  * write extracted spans + lineage + per-partition checkpoint manifests.
  *
  * Scale design (the 100 TB story):
  *  - ONE data-sized shuffle (the salted repartition), moving only rows that
  *    still need processing: the resume anti-join runs first, against the
  *    narrow terminal-id projection of the lineage table. With
  *    `shuffleInput = false` extraction runs in the scan stage and this
  *    shuffle is gone;
  *  - ONE extraction pass: doc rows and lineage rows are emitted together
  *    from the same mapPartitions and written once as a combined table
  *    (two nullable structs); `extracted/` and `lineage/` are then cheap
  *    columnar re-projections (on Iceberg they would simply be views);
  *  - the commit tail adds two small shuffles: the checkpoint aggregate over
  *    this run's lineage (one row per partition out) and the totals scan,
  *    which is O(history) rows but reads only the `doc.doc_id` and
  *    `lineage.doc_id` columns of the committed run dirs. A run's jobs are:
  *    one manifest read (none on a first run), the extraction write, the
  *    checkpoint aggregate and its one-file write, the manifest row, the
  *    totals. Every read of a run dir or the manifest uses a declared
  *    schema, so no job goes to parquet schema inference;
  *  - skew: a 10-GB-span document can't be split by Spark, so rows are
  *    salted by a cheap size estimate — oversized docs spread across the
  *    salt domain, the reference's PST folder fan-out
  *    (`Extractor.java:142-146`) lifted to partition level;
  *  - lineage rows carry per-partition docs/sec and bytes/sec (north rule)
  *    from monotonic nanoTime deltas inside the partition;
  *  - checkpoint manifests: one row per partition derived from the lineage
  *    that actually landed (read back after commit), so a re-run can prove
  *    which partitions committed — Iceberg snapshot-commit analog;
  *  - resume is idempotent: re-running after a partial failure re-extracts
  *    only docs without terminal lineage (Reporter.skip semantics,
  *    `Reporter.java:120-135`).
  */
object ExtractJob {

  final case class JobConfig(
      partitions: Int = 32,
      oversizedChars: Int = 1 << 20, // salting threshold on total span chars
      extract: Extract.Config = Extract.DefaultConfig,
      /** false when the input is already bucketed on doc_id (the production
        * Iceberg layout): extraction then runs IN the scan stage with no
        * shuffle at all — the scale-correct plan for an embarrassingly
        * parallel map. true re-balances unbucketed/skewed inputs via the
        * salted repartition.
        */
      shuffleInput: Boolean = true,
      /** Per-document parse deadline (reference watchdog,
        * `Extractor.java:620-648`); 0 disables. A doc over deadline yields a
        * FAILURE_TIMEOUT lineage row — terminal, so resume skips it instead
        * of re-pinning a task forever.
        */
      docTimeoutMillis: Long = 0L
  )

  /** Exception -> lineage status, per the reference's taxonomy
    * (`Extractor.java:785-826`). VM errors never reach here (rethrown as
    * the FATAL escalation path).
    */
  def classify(e: Throwable): String = e match {
    case _: graft.core.ExtractTimeout       => Status.Timeout
    case _: graft.core.PayloadMissing       => Status.NotFound
    case _: java.io.FileNotFoundException   => Status.NotFound
    case _: graft.core.PayloadUnreadable    => Status.Unreadable
    case _: java.io.IOException             => Status.Unreadable
    case _: graft.core.DecryptFailure       => Status.NotDecrypted
    case _: graft.core.ParseFailure         => Status.NotParsed
    case _: RuntimeException                => Status.NotParsed // parser crash surface
    case _                                  => Status.Unknown
  }

  private def prepare(input: Dataset[DocIn], cfg: JobConfig): Dataset[DocIn] =
    if (cfg.shuffleInput) saltedRepartition(input, cfg) else input

  /** Resume filter: drop docs whose lineage status is terminal. The lineage
    * side is projected to ids before the join so the build side stays
    * narrow (and broadcastable when the terminal set is small).
    */
  def resume(input: Dataset[DocIn], lineage: DataFrame): Dataset[DocIn] = {
    val spark = input.sparkSession
    import spark.implicits._
    val terminal = lineage
      .filter(col("status").isin(Status.terminal.toSeq: _*))
      .select(col("doc_id").cast("long").as("doc_id"))
    input.join(terminal, Seq("doc_id"), "left_anti").as[DocIn]
  }

  /** Salted repartition: normal docs shuffle on doc_id; oversized docs are
    * additionally spread over a salt domain so one hot doc can't pin a
    * partition (AQE's skew handling only helps joins; this is the map-side
    * equivalent).
    */
  def saltedRepartition(input: Dataset[DocIn], cfg: JobConfig): Dataset[DocIn] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .withColumn("_sz", expr("aggregate(spans, 0L, (acc, s) -> acc + length(s.text))"))
      .withColumn("_salt",
        // deterministic (pure function of doc_id): a position-dependent salt
        // would re-route rows across task retries and duplicate/lose docs
        when(col("_sz") > cfg.oversizedChars,
          pmod(hash(col("doc_id"), lit("oversized-salt")), lit(cfg.partitions)))
          .otherwise(lit(0)))
      .repartition(cfg.partitions, col("doc_id"), col("_salt"))
      .drop("_sz", "_salt").as[DocIn]
  }

  /** Span-parallel row type flowing from the parse stage into reassembly. */
  private type SpanRow = (Long, String, String, String, Int, Int, String, String, String, String, Long)
  // fields: (doc_id, kind, extractedText, media_ref, offset, idx(-1=sentinel),
  //          rawMedia, reason, failStatus, failMsg, bytesIn)

  /** Span-parallel extraction — the real skew answer for a GIANT document
    * (SURVEY §7.4 hard part 4: one 10-GB-spans row cannot be split by
    * Spark's row-level parallelism). The document's SPANS are exploded to
    * individual rows, spread across partitions by (doc_id, offset) — this
    * is the salted repartitioning that actually distributes one document's
    * work — extracted span-locally, and reassembled per doc_id with order
    * restored from offsets. Output is byte-identical to [[Extract.explode]]
    * (asserted in tests); cost is one extra shuffle, so it is the path for
    * the oversized tail, not the default.
    *
    * As the batch path, a failing span yields a CLASSIFIED lineage row for
    * its document, never a task failure — for non-timeout failures the
    * batch path aborts a doc at its first failing span in (offset, index)
    * order, and reassembly picks exactly that span's classification, so
    * the two paths agree on status. TIMEOUT semantics necessarily differ:
    * a document's spans run on different executors, so no per-doc wall
    * clock exists — here each SPAN gets the doc budget (checked after its
    * parse), which still bounds any single runaway parse but can time out
    * docs the batch path would pass and vice versa.
    * Returns the combined (doc, lineage) rows like [[extractPartitions]];
    * lineage throughput rates are 0 in this path (rates are per-partition
    * wall-clock figures, meaningless after the reassembly shuffle).
    */
  def extractSpanParallel(input: Dataset[DocIn], cfg: JobConfig)
  : Dataset[(Option[DocOut], Option[LineageRow])] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .flatMap { d =>
        val spans = Extract.spansOrEmpty(d)
        if (spans.isEmpty)
          // sentinel keeps span-less docs visible to the reassembly;
          // idx = -1 can never collide with a real span (array positions
          // are >= 0 — an offset-based sentinel could collide with data)
          Iterator.single((d.doc_id, "", "", "", 0, -1))
        else Iterator.tabulate(spans.length) { idx =>
          // idx = position in the input span array: the secondary sort key
          // that makes reassembly deterministic under duplicate offsets
          // (extractDoc's STABLE sortBy ties break on array order)
          val s = spans(idx)
          (d.doc_id, s.kind, s.text, if (s.media_ref == null) "" else s.media_ref, s.offset, idx)
        }
      }
      .repartition(cfg.partitions, col("_1"), col("_5"))
      .as[(Long, String, String, String, Int, Int)]
      .map[SpanRow] { case (id, kind, text, ref, off, idx) =>
        if (idx < 0) { // sentinel: no parse work, reassembly drops it anyway
          (id, kind, "", ref, off, idx, "", "", "", "", 0L)
        } else {
        val bytesIn = if (text == null) 0L else text.length.toLong
        val deadline =
          if (cfg.docTimeoutMillis > 0) System.nanoTime() + cfg.docTimeoutMillis * 1000000L
          else Long.MaxValue
        val (txt, why, failStatus, failMsg) =
          try {
            val r = Extract.extractSpan(kind, text, cfg.extract)
            // cooperative deadline, checked at the span boundary
            if (deadline != Long.MaxValue && System.nanoTime() > deadline)
              throw new graft.core.ExtractTimeout("span deadline exceeded")
            (r._1, r._2, "", "")
          } catch {
            case e: VirtualMachineError => throw e
            case e: Exception => ("", "", classify(e), String.valueOf(e.getMessage))
          }
        // raw container content (media/zip/gzip) rides along: children need
        // it for ids/spawning at reassembly
        val raw = if (Extract.ContainerKinds(kind)) { if (text == null) "" else text } else ""
        (id, kind, txt, ref, off, idx, raw, why, failStatus, failMsg, bytesIn)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (id: Long, it: Iterator[SpanRow]) =>
        // total order (offset, input index) == extractDoc's stable offset sort
        val all = it.toArray.filter(_._6 >= 0).sortBy(r => (r._5, r._6))
        val bytesIn = all.iterator.map(_._11).sum
        val rows = all.take(cfg.extract.maxSpans)
        // batch parity: the FIRST failing span among the CAPPED rows (in
        // sorted order) classifies the whole document — extractDoc likewise
        // loops over sortBy(_.offset).take(maxSpans), so a failing span
        // beyond the cap is invisible to both paths
        val firstFail = rows.iterator.find(_._9.nonEmpty)
        firstFail match {
          case Some(f) =>
            val lrow = LineageRow(id, -1, f._9, f._10, all.length, 0, bytesIn, 0.0, 0.0)
            Iterator.single((Option.empty[DocOut], Option(lrow)))
          case None =>
            var anyContent = false
            var anyEncrypted = false
            val spans = new Array[SpanOut](rows.length)
            var i = 0
            while (i < rows.length) {
              val row = rows(i)
              if (row._3.nonEmpty) anyContent = true
              if (row._8 == Reason.Encrypted) anyEncrypted = true
              spans(i) = SpanOut(row._2, row._3, row._4, i)
              i += 1
            }
            val reason =
              if (!anyContent && anyEncrypted) Reason.Encrypted
              else if (rows.isEmpty || !anyContent) Reason.Empty
              else ""
            val rid = graft.core.Ids.rootId(id)
            val root = DocOut(rid, "", rid, 0, spans, reason)
            // media children spawn from ALL media spans (pre-cap), matching
            // explodeCounted, which derives mediaContents from the full array.
            // Same never-a-task-failure contract as the per-span parse stage:
            // an exception while spawning embeds classifies the DOCUMENT
            // (the batch path wraps the whole explodeCounted the same way).
            val containerContents = all.iterator
              .filter(r => Extract.ContainerKinds(r._2)).map(r => (r._2, r._7)).toSeq
            val spawned =
              try Right(Extract.spawnContainers(containerContents, rid, cfg.extract))
              catch {
                case e: VirtualMachineError => throw e
                case e: Exception => Left(e)
              }
            spawned match {
              case Left(e) =>
                val lrow = LineageRow(id, -1, classify(e),
                  String.valueOf(e.getMessage), all.length, 0, bytesIn, 0.0, 0.0)
                Iterator.single((Option.empty[DocOut], Option(lrow)))
              case Right((children, skipped)) =>
                val status = if (reason == Reason.Encrypted) Status.NotDecrypted else Status.Success
                val nOut = spans.length + children.iterator.map(_.spans.length).sum
                val err = if (skipped > 0) s"embeds_skipped=$skipped" else ""
                val lrow = LineageRow(id, -1, status, err, all.length, nOut, bytesIn, 0.0, 0.0)
                val docRows =
                  if (status == Status.Success)
                    (Iterator.single(root) ++ children.iterator).map(o => (Option(o), Option.empty[LineageRow]))
                  else Iterator.empty
                docRows ++ Iterator.single((Option.empty[DocOut], Option(lrow)))
            }
        }
      }
  }

  /** The core typed transformation, ONE pass: per-partition batched
    * extraction emitting doc rows (Some(doc), None) and one lineage row
    * (None, Some(lineage)) per input document. A poison row yields a
    * classified failure lineage row, never a task failure (error taxonomy,
    * `Extractor.java:785-826`); VM errors escape for Spark's retry/
    * blacklist machinery (`ExtractionErrors` semantics).
    */
  def extractPartitions(input: Dataset[DocIn], cfg: JobConfig)
  : Dataset[(Option[DocOut], Option[LineageRow])] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var docsDone = 0L
      var bytesDone = 0L
      it.flatMap { doc =>
        val bytesIn =
          if (doc.spans == null) 0L
          else doc.spans.iterator
            .map(s => if (s.text == null) 0L else s.text.length.toLong).sum
        val nIn = if (doc.spans == null) 0 else doc.spans.size
        val deadline =
          if (cfg.docTimeoutMillis > 0) System.nanoTime() + cfg.docTimeoutMillis * 1000000L
          else Long.MaxValue
        val res =
          try Right(Extract.explodeCounted(doc, cfg.extract, deadline))
          catch {
            // FATAL escalation: VM errors escape to Spark's retry/blacklist
            case e: VirtualMachineError => throw e
            case e: Exception => Left(e)
          }
        docsDone += 1
        bytesDone += bytesIn
        val elapsed = math.max(1e-9, (System.nanoTime() - t0) / 1e9)
        res match {
          case Right((outs, skipped)) =>
            // taxonomy: undecryptable content is NOT_DECRYPTED (retryable,
            // non-terminal), everything extracted is SUCCESS
            val status = outs.headOption.map(_.no_content_reason) match {
              case Some(Reason.Encrypted) => Status.NotDecrypted
              case _ => Status.Success
            }
            val row = LineageRow(doc.doc_id, pid, status,
              if (skipped > 0) s"embeds_skipped=$skipped" else "",
              nIn, outs.iterator.map(_.spans.length).sum, bytesIn,
              docsDone / elapsed, bytesDone / elapsed)
            // doc rows are emitted ONLY for SUCCESS: a retryable status must
            // not append output that a later retry would append again
            val docRows =
              if (status == Status.Success)
                outs.iterator.map(o => (Option(o), Option.empty[LineageRow]))
              else Iterator.empty
            docRows ++ Iterator.single((Option.empty[DocOut], Option(row)))
          case Left(e) =>
            val row = LineageRow(doc.doc_id, pid, classify(e),
              String.valueOf(e.getMessage), nIn, 0, bytesIn,
              docsDone / elapsed, bytesDone / elapsed)
            Iterator.single((Option.empty[DocOut], Option(row)))
        }
      }
    }
  }

  // ------------------------------------------------ incremental commit ----
  //
  // The commit protocol is INCREMENTAL (Iceberg-snapshot analog on plain
  // parquet): run N+1 writes O(run N+1) bytes, never a rewrite of history.
  //
  //  1. extraction writes ONE combined table into a run-scoped directory —
  //     the atomic unit (parquet job commit); run dirs are append-only and
  //     are the source of truth;
  //  2. a one-row-per-run MANIFEST is appended AFTER the run dir commits —
  //     the snapshot pointer. Readers resolve only manifested runs, so a
  //     crash mid-run leaves an invisible orphan dir, never a torn read;
  //  3. `extracted` and `lineage` are READ-TIME VIEWS over the manifested
  //     run dirs (on Iceberg: actual views / MERGE): extracted dedupes on
  //     doc_id at read (re-extracted rows are bit-identical by determinism,
  //     and only retried non-terminal docs ever recur); lineage keeps every
  //     attempt (it is a log — retries are part of the record);
  //  4. checkpoint manifests carry (run_id, partition_id) so each run's
  //     committed partitions are provable — appended, never rewritten;
  //  5. every read of the manifest, a run dir or the checkpoints uses the
  //     declared schema below, never parquet schema inference (one Spark job
  //     per read); a test pins each against what Spark infers.

  /** Schema of the manifest: one row per committed run. */
  val ManifestSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("seq", LongType),
    StructField("committed", BooleanType)))

  /** Schema of a `combined/run-*` dir: the `(Option[DocOut], Option[LineageRow])`
    * encoder with its fields named `doc` and `lineage`, all nullable as
    * parquet reads them back.
    */
  val CombinedSchema: StructType = {
    val enc = Encoders.product[(Option[DocOut], Option[LineageRow])].schema
    StructType(enc.fields.zip(Seq("doc", "lineage")).map { case (f, n) =>
      StructField(n, nullable(f.dataType))
    })
  }

  /** Schema of the checkpoint rows: one per (run, partition). */
  val CheckpointSchema: StructType = StructType(Seq(
    StructField("partition_id", IntegerType), StructField("n_docs", LongType),
    StructField("n_spans", LongType), StructField("run_id", StringType),
    StructField("committed", BooleanType)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }

  /** Run ids recorded as committed, oldest-first. The manifest is one row
    * per run, so its rows are deduped and sorted on the driver.
    */
  def committedRuns(spark: SparkSession, outDir: String): Seq[String] = {
    val p = new java.io.File(s"$outDir/manifest")
    if (!p.exists()) Seq.empty
    else spark.read.schema(ManifestSchema).parquet(p.getPath)
      .filter(col("committed")).select("run_id", "seq")
      .collect().map(r => (r.getLong(1), r.getString(0)))
      .distinct.sorted.map(_._2).toSeq
  }

  private def runDir(outDir: String, runId: String): String = s"$outDir/combined/run-$runId"

  /** The combined (doc, lineage) union over the given runs. */
  private def readRuns(spark: SparkSession, outDir: String, runs: Seq[String]): DataFrame =
    spark.read.schema(CombinedSchema).parquet(runs.map(runDir(outDir, _)): _*)

  private def lineageOf(combined: DataFrame): DataFrame =
    combined.filter(col("lineage").isNotNull).select("lineage.*")

  /** (docs in the extracted view, lineage rows) of a combined table, from
    * one scan that reads only the `doc.doc_id` and `lineage.doc_id` columns.
    * Equal to the counts of [[readExtracted]] and [[readLineage]]: doc ids
    * are never null, so the distinct count matches dedup-on-read, and the
    * lineage doc id is a primitive long, set exactly when the lineage struct
    * is.
    */
  private def totals(combined: DataFrame): (Long, Long) = {
    val r = combined.agg(count_distinct(col("doc.doc_id")), count(col("lineage.doc_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The combined (doc, lineage) union over committed runs only. */
  def readCombined(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val runs = committedRuns(spark, outDir)
    Option.when(runs.nonEmpty)(readRuns(spark, outDir, runs))
  }

  /** `extracted` as a read-time view: committed docs, dedup-on-read. */
  def readExtracted(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(
      _.filter(col("doc").isNotNull).select("doc.*").dropDuplicates("doc_id"))

  /** `lineage` as a read-time view: the full attempt log. */
  def readLineage(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(lineageOf)

  /** Per-partition checkpoint rows of COMMITTED runs only: orphan-run
    * checkpoint rows (a crash window, or rows from a racing writer) are
    * filtered against the manifest exactly like orphan run dirs — the
    * "provable committed partitions" surface never overstates.
    */
  def readCheckpoints(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val p = new java.io.File(s"$outDir/checkpoints")
    if (!p.exists()) None
    else {
      val committed = committedRuns(spark, outDir)
      Some(spark.read.schema(CheckpointSchema).parquet(p.getPath)
        .filter(col("run_id").isin(committed: _*)))
    }
  }

  /** End-to-end incremental run (commit protocol above). Resumes against
    * `lineagePrev` when given, else against the output's own lineage view —
    * the Reporter.skip semantics (`Reporter.java:120-135`). Returns (total
    * docs in the extracted view, total lineage rows) across ALL runs.
    *
    * The manifest is read once, up front; that run list serves the resume
    * view, the new run's sequence number and the totals. Each step's Spark
    * jobs carry the description `ExtractJob.run/<step>` (resume, extract,
    * checkpoints, manifest, totals); the caller's description is restored on
    * return and its job group is left alone.
    */
  def run(spark: SparkSession, input: Dataset[DocIn], lineagePrev: Option[DataFrame],
          outDir: String, cfg: JobConfig = JobConfig()): (Long, Long) = {
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    def step[T](name: String)(body: => T): T = {
      sc.setJobDescription(s"ExtractJob.run/$name")
      body
    }
    try {
      val prior = step("resume")(committedRuns(spark, outDir))
      val lineageView =
        lineagePrev.orElse(Option.when(prior.nonEmpty)(lineageOf(readRuns(spark, outDir, prior))))
      val pending = lineageView.map(resume(input, _)).getOrElse(input)

      val runId = java.util.UUID.randomUUID.toString.take(8)
      step("extract") {
        extractPartitions(prepare(pending, cfg), cfg).toDF("doc", "lineage")
          .write.mode(SaveMode.Overwrite).parquet(runDir(outDir, runId))
      }

      // per-partition checkpoint rows for THIS run only (O(run), appended),
      // derived from the lineage that landed in the run dir (never from
      // in-task counters: the rows must prove what committed) — written
      // BEFORE the manifest: a crash between the two leaves orphan
      // checkpoint rows for an uncommitted run, which readCheckpoints filters
      // against the manifest exactly like orphan run dirs. (Writing them
      // after the manifest instead would make the asymmetric failure
      // PERMANENT: a committed, visible run forever missing its checkpoint
      // proof, with no read-side repair possible.) The aggregate is one row
      // per partition, so it is written as one small file.
      step("checkpoints") {
        lineageOf(readRuns(spark, outDir, Seq(runId)))
          .groupBy(col("partition_id"))
          .agg(count(lit(1)).as("n_docs"), sum("n_spans_out").as("n_spans"))
          .withColumn("run_id", lit(runId))
          .withColumn("committed", lit(true))
          .coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$outDir/checkpoints")
      }

      // the commit point: one manifest row makes the run visible to readers
      step("manifest") {
        spark.createDataFrame(java.util.List.of(Row(runId, prior.size.toLong, true)), ManifestSchema)
          .coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$outDir/manifest")
      }

      step("totals")(totals(readRuns(spark, outDir, prior :+ runId)))
    } finally sc.setJobDescription(callerDescription)
  }

  /** [[run]] variant writing through the snapshot-table layer
    * ([[graft.catalog.SnapshotTable]] — the Iceberg stand-in): each run
    * appends ONE immutable data dir and publishes one snapshot; resume
    * reads the current snapshot's lineage view. Same O(run N+1) write cost;
    * the commit point is the table layer's optimistic snapshot publish, so
    * racing writers are detected instead of silently interleaving (the
    * plain-dir protocol in [[run]] assumes a single writer).
    */
  def runSnapshot(spark: SparkSession, input: Dataset[DocIn], table: String,
                  cfg: JobConfig = JobConfig()): (Long, Long) = {
    import graft.catalog.SnapshotTable
    val lineagePrev =
      if (SnapshotTable.snapshots(table).isEmpty) None
      else Some(lineageOf(SnapshotTable.read(spark, table)))
    val pending = lineagePrev.map(resume(input, _)).getOrElse(input)
    val combined = extractPartitions(prepare(pending, cfg), cfg).toDF("doc", "lineage")
    SnapshotTable.append(spark, table, combined)
    totals(SnapshotTable.read(spark, table))
  }

  /** Throughput-only variant for the bench harness: same plan shape, no
    * intermediate writes — extraction forced by a count over the combined
    * rows. The filter is COLUMNAR (lineage.isNotNull on the encoded row),
    * so the count never re-deserializes the DocOut objects it just encoded —
    * a typed `.filter(_._2.isDefined)` would decode every row a second time
    * and overstate pipeline cost.
    */
  def runCount(spark: SparkSession, input: Dataset[DocIn], cfg: JobConfig = JobConfig()): Long =
    extractPartitions(prepare(input, cfg), cfg)
      .toDF("doc", "lineage")
      .filter(col("lineage").isNotNull).count()
}
