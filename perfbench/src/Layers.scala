package graftbench

import java.io.File
import scala.collection.mutable
import graft.core.DocIn
import graft.core.route.Extract
import graft.pipeline.ExtractJob

/** Per-layer measurements of a traced run. Every call here goes through
  * `Ctx.call`, so its Spark jobs are tagged with its layer.
  */
object Layers {
  val Names: Seq[String] = Seq("sources", "route", "pipeline", "operators")

  /** Where [[extraction]] leaves its run and re-run output. */
  def out(ctx: Ctx): File = new File(ctx.work, "layers-out")

  /** The sources, route and pipeline layers on an extraction input.
    * Returns the metrics and the seconds of the traced `ExtractJob.run`.
    */
  def extraction(ctx: Ctx, wl: Extraction): (Seq[(String, Double, String)], Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val m = mutable.ArrayBuffer.empty[(String, Double, String)]
    val (_, scanS, _) = ctx.call("sources", "scan") {
      wl.base(spark).foreachPartition((it: Iterator[DocIn]) => it.foreach(_ => ()))
    }
    m += (("sources.scan_s", scanS, "s"))

    val ec = wl.cfg.extract
    ctx.call("route", "explode") {
      wl.base(spark).map { d =>
        try Extract.explodeCounted(d, ec)._1.length.toLong catch { case _: Exception => 0L }
      }.reduce(_ + _)
    }

    val out = this.out(ctx)
    Files.delete(out)
    val (_, extractS, _) = ctx.call("pipeline", "extract")(ExtractJob.runCount(spark, wl.base(spark), wl.cfg))
    val (_, runS, _) = ctx.call("pipeline", "run")(ExtractJob.run(spark, wl.base(spark), None, out.getPath, wl.cfg))
    val (_, readS, _) = ctx.call("pipeline", "readback") {
      ExtractJob.readExtracted(spark, out.getPath).get.count() + ExtractJob.readLineage(spark, out.getPath).get.count()
    }
    val outBytes = dirBytes(new File(out, "combined"))
    val (pending, filterS, _) = ctx.call("pipeline", "resume_filter") {
      ExtractJob.resume(wl.all(spark), ExtractJob.readLineage(spark, out.getPath).get).count()
    }
    val (_, resumeS, _) = ctx.call("pipeline", "resume")(ExtractJob.run(spark, wl.all(spark), None, out.getPath, wl.cfg))
    System.err.println(s"[perfbench] layers: run $runS = extract $extractS + readback $readS + write/commit ${runS - extractS - readS}; re-run $resumeS")
    m += (("pipeline.extract_s", extractS, "s"))
    m += (("pipeline.write_commit_s", runS - extractS - readS, "s"))
    m += (("pipeline.readback_s", readS, "s"))
    m += (("pipeline.output_mb", outBytes / 1e6, "MB"))
    m += (("pipeline.output_bytes_per_input_byte", outBytes.toDouble / wl.inputBytes(spark), "ratio"))
    m += (("pipeline.resume_filter_s", filterS, "s"))
    m += (("pipeline.resume_pending_docs", pending.toDouble, "count"))
    m += (("pipeline.resume_redo_frac", pending.toDouble / (wl.n + wl.delta), "ratio"))
    (m.toSeq, runS)
  }

  /** Real-file ingest on a generated directory: the `Ingest.readDir` scan
    * (listing, read, sniff, decode), then a run and a re-run through the
    * salted repartition, whose output is checked. Returns the metrics and
    * (docs checked, docs failed).
    */
  def ingest(ctx: Ctx, fi: FileIngest): (Seq[(String, Double, String)], (Long, Long)) = {
    val spark = ctx.spark
    val (_, scanS, _) = ctx.call("sources", "ingest_scan") {
      fi.base(spark).foreachPartition((it: Iterator[DocIn]) => it.foreach(_ => ()))
    }
    val out = new File(ctx.work, "ingest-out")
    val p = fi.pass(0, out)
    val (c, f) = fi.check(out)
    (Seq(
      ("sources.ingest_scan_s", scanS, "s"),
      ("sources.files_listed", fi.base(spark).inputFiles.length.toDouble, "count"),
      ("pipeline.ingest_run_s", p.runSec, "s")),
      (c + 1, f + (if (p.countsOk) 0 else 1)))
  }

  /** The operators layer, from one traced pass of a dedup input. */
  def operators(p: DedupPass, recall: Double): Seq[(String, Double, String)] = {
    val comps = p.components.iterator.map(_._2).toSet.size
    Seq(
      ("operators.minhash_pairs_s", p.parts("minhash_pairs"), "s"),
      ("operators.candidate_pairs", p.candidates.length.toDouble, "count"),
      ("operators.cc_s", p.parts("cc"), "s"),
      ("operators.components", comps.toDouble, "count"),
      ("operators.edit_verify_s", p.parts("edit_verify"), "s"),
      ("operators.verified_pairs", p.edits.length.toDouble, "count"),
      ("operators.edit_yield", p.edits.length.toDouble / math.max(1, p.candidates.length), "ratio"),
      ("operators.jaccard_s", p.jaccardSec, "s"),
      ("operators.jaccard_pairs", p.jaccard.length.toDouble, "count"),
      ("operators.planted_recall", recall, "ratio"))
  }

  /** Single-thread microseconds per call of `f` over `xs`: ten untimed
    * rounds for the JIT, then the median of five.
    */
  private def usPer[A](xs: Seq[A])(f: A => Any): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      xs.foreach(x => try f(x) catch { case _: Exception => () })
      (System.nanoTime() - t0) / 1e3 / math.max(1, xs.size)
    }
    (1 to 10).foreach(_ => round())
    Stats.median((1 to 5).map(_ => round()))
  }

  /** Per-kind parse cost of `Extract.extractSpan`, on seeded spans of the
    * kinds of both extraction generators, and the cost of a whole document
    * with its embeds on `docs`.
    */
  def route(ctx: Ctx, docs: Seq[DocIn]): Seq[(String, Double, String)] = {
    val w = Vocab.of(ctx.seed)
    val spanKinds = (0L until 600L).iterator.flatMap(id => Gen.spanDoc(ctx.seed, w, id)._1.spans)
    val fileKinds = (0L until 1200L).iterator.map { id =>
      val f = Gen.file(ctx.seed, w, id, oversized = false)
      graft.sources.Ingest.toDocIn("file:/sample/" + f.name, f.bytes).spans.head
    }
    val byKind = (spanKinds ++ fileKinds).toSeq.groupBy(_.kind)
    val kinds = Seq("html", "pdf", "text", "media", "pdf_bytes", "zip", "eml", "gzip", "tar")
    val parse = kinds.map { k =>
      val spans = byKind.getOrElse(k, Nil).take(200)
      (s"route.parse_us.$k", usPer(spans)(s => Extract.extractSpan(s.kind, s.text)), "us")
    }
    val children = docs.iterator.map { d =>
      try Extract.explodeCounted(d)._1.length - 1 catch { case _: Exception => 0 }
    }.sum
    parse ++ Seq(
      ("route.explode_us_per_doc", usPer(docs)(d => Extract.explodeCounted(d)), "us"),
      ("route.children_per_doc", children.toDouble / math.max(1, docs.size), "ratio"))
  }

  /** Spark totals per layer, from the jobs tagged `<layer>/...` so far, the
    * bytes the sources layer read, and the part of the layer calls' wall
    * time that no job covers.
    */
  def spark(ctx: Ctx, callSeconds: Double): Seq[(String, Double, String)] = {
    val per = Names.flatMap { layer =>
      val gs = ctx.listener.select(layer + "/")
      val stageMs = gs.flatMap(_.stageTaskMs.values.map(_.toSeq))
      val skew = if (stageMs.isEmpty) 1.0 else {
        val top = stageMs.maxBy(_.sum)
        top.max.toDouble / math.max(1.0, Stats.median(top.map(_.toDouble)))
      }
      Seq(
        (s"spark.$layer.jobs", gs.map(_.jobs).sum.toDouble, "count"),
        (s"spark.$layer.stages", gs.map(_.stages.size).sum.toDouble, "count"),
        (s"spark.$layer.tasks", gs.map(_.tasks).sum.toDouble, "count"),
        (s"spark.$layer.executor_run_s", gs.map(_.runMs).sum / 1e3, "s"),
        (s"spark.$layer.executor_cpu_s", gs.map(_.cpuNs).sum / 1e9, "s"),
        (s"spark.$layer.gc_s", gs.map(_.gcMs).sum / 1e3, "s"),
        (s"spark.$layer.shuffle_read_mb", gs.map(_.shuffleRead).sum / 1e6, "MB"),
        (s"spark.$layer.shuffle_write_mb", gs.map(_.shuffleWrite).sum / 1e6, "MB"),
        (s"spark.$layer.spill_mb", gs.map(_.spill).sum / 1e6, "MB"),
        (s"spark.$layer.task_skew", skew, "ratio"))
    }
    val covered = Stats.covered(Names.flatMap(l => ctx.listener.select(l + "/").flatMap(_.jobSpans)))
    per ++ Seq(
      ("sources.read_mb", ctx.listener.select("sources/").map(_.inputBytes).sum / 1e6, "MB"),
      ("spark.driver_s", callSeconds - covered / 1e3, "s"))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.iterator.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
