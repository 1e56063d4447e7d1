package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.SnapshotTable
import graft.core._
import graft.core.route.Extract

/** The production extraction job — SURVEY §3.1's Spark equivalent:
  *
  * read spans table -> anti-join lineage (exact resume) -> salted
  * repartition on doc_id (skew handling) -> mapPartitions(extract) ->
  * append extracted spans + lineage to a snapshot table as one commit.
  *
  * Scale design (the 100 TB story):
  *  - ONE data-sized shuffle (the salted repartition), moving only rows that
  *    still need processing: the resume anti-join runs first, against the
  *    narrow terminal-id projection of the lineage table. With
  *    `shuffleInput = false` extraction runs in the scan stage and this
  *    shuffle is gone;
  *  - ONE extraction pass: doc rows and lineage rows are emitted together
  *    from the same mapPartitions and written once as a combined table
  *    (two nullable structs); `extracted`, `lineage` and the per-partition
  *    checkpoints are then cheap columnar views over it (on Iceberg they
  *    would simply be views);
  *  - the commit itself launches no job: it publishes a snapshot file on the
  *    driver. A run's jobs are the extraction write (which also runs the
  *    resume anti-join on a re-run) and the totals scan, which is
  *    O(history) rows but reads only the `doc.doc_id` and `lineage.doc_id`
  *    columns of the committed data dirs. Every read of a data dir uses a
  *    declared schema, so no job goes to parquet schema inference;
  *  - skew: a 10-GB-span document can't be split by Spark, so rows are
  *    salted by a cheap size estimate — oversized docs spread across the
  *    salt domain, the reference's PST folder fan-out
  *    (`Extractor.java:142-146`) lifted to partition level;
  *  - lineage rows carry per-partition docs/sec and bytes/sec (north rule)
  *    from monotonic nanoTime deltas inside the partition;
  *  - checkpoints: one row per (run, partition), derived at read time from
  *    the lineage that actually landed in a committed data dir, so they
  *    prove which partitions committed;
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
  // Each run is ONE append to the snapshot table `$outDir/combined`
  // ([[graft.catalog.SnapshotTable]], the Iceberg stand-in), so run N+1
  // writes O(run N+1) bytes, never a rewrite of history:
  //
  //  1. extraction writes ONE combined table into a fresh, immutable data
  //     dir — the run; a run that wrote no rows deletes the dir and stops
  //     here (its parquet footers say so, no extra job);
  //  2. publishing snapshot `v<N+1>` (the dirs of `v<N>` plus the new one,
  //     compare-and-set) is the commit point. Readers resolve only the dirs
  //     of a snapshot, so a crash mid-run leaves an invisible orphan dir,
  //     never a torn read, and a racing writer retries on top of the winner
  //     instead of interleaving;
  //  3. `extracted`, `lineage` and the checkpoints are READ-TIME VIEWS over
  //     the current snapshot's dirs (on Iceberg: actual views / MERGE):
  //     extracted dedupes on doc_id at read (re-extracted rows are
  //     bit-identical by determinism, and only retried non-terminal docs ever
  //     recur); lineage keeps every attempt (it is a log — retries are part
  //     of the record); checkpoints aggregate that lineage per (run,
  //     partition);
  //  4. every read of a data dir uses the declared schema below, never
  //     parquet schema inference (which costs one Spark job per read); a
  //     test pins it against what Spark infers.

  /** Schema of a `combined` data dir: the `(Option[DocOut], Option[LineageRow])`
    * encoder with its fields named `doc` and `lineage`, all nullable as
    * parquet reads them back.
    */
  val CombinedSchema: StructType = {
    val enc = Encoders.product[(Option[DocOut], Option[LineageRow])].schema
    StructType(enc.fields.zip(Seq("doc", "lineage")).map { case (f, n) =>
      StructField(n, nullable(f.dataType))
    })
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }

  private def tableOf(outDir: String): String = s"$outDir/combined"

  /** The combined (doc, lineage) union over the data dirs of one snapshot. */
  private def readVersion(spark: SparkSession, outDir: String, version: Long): DataFrame =
    spark.read.schema(CombinedSchema).parquet(SnapshotTable.dataDirs(tableOf(outDir), version): _*)

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

  /** The combined (doc, lineage) union over the current snapshot. */
  def readCombined(spark: SparkSession, outDir: String): Option[DataFrame] =
    SnapshotTable.currentVersion(tableOf(outDir)).map(readVersion(spark, outDir, _))

  /** `extracted` as a read-time view: committed docs, dedup-on-read. */
  def readExtracted(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(
      _.filter(col("doc").isNotNull).select("doc.*").dropDuplicates("doc_id"))

  /** `lineage` as a read-time view: the full attempt log. */
  def readLineage(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(lineageOf)

  /** Per-partition checkpoint rows of the current snapshot, as a read-time
    * view: its lineage grouped by (data dir, `partition_id`), with `run_id`
    * the data dir's name. The rows count what landed in committed dirs, so
    * they never overstate: an uncommitted dir has no rows.
    */
  def readCheckpoints(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(_
      .select(regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+$", 1).as("run_id"),
        col("lineage"))
      .filter(col("lineage").isNotNull)
      .groupBy(col("lineage.partition_id").as("partition_id"), col("run_id"))
      .agg(count(lit(1)).as("n_docs"), sum("lineage.n_spans_out").as("n_spans"))
      .select(col("partition_id"), col("n_docs"), col("n_spans"), col("run_id"),
        lit(true).as("committed")))

  /** End-to-end incremental run (commit protocol above). Resumes against
    * `lineagePrev` when given, else against the output's own lineage view —
    * the Reporter.skip semantics (`Reporter.java:120-135`). Returns (total
    * docs in the extracted view, total lineage rows) at the snapshot this
    * run committed: every earlier commit, a racing writer's included, plus
    * this run. A run that lands no rows deletes its empty data dir and
    * publishes no snapshot; it returns the totals at the current snapshot
    * ((0, 0) for a table with none).
    *
    * Each step's Spark jobs carry the description `ExtractJob.run/<step>`
    * (extract, totals); the caller's description is restored on return and
    * its job group is left alone.
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
      val pending = lineagePrev.orElse(readLineage(spark, outDir))
        .map(resume(input, _)).getOrElse(input)
      // a run that lands no rows (nothing pending) commits nothing
      val version = step("extract") {
        SnapshotTable.appendNonEmpty(spark, tableOf(outDir),
          extractPartitions(prepare(pending, cfg), cfg).toDF("doc", "lineage"))
      }.orElse(SnapshotTable.currentVersion(tableOf(outDir)))
      version.fold((0L, 0L))(v => step("totals")(totals(readVersion(spark, outDir, v))))
    } finally sc.setJobDescription(callerDescription)
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
