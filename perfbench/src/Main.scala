package graftbench

import java.io.File
import scala.collection.mutable

/** Benchmark entry point:
  * `Main --workload <spans_job|dedup> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --out <dir>`.
  *
  * Untraced (`--trace 0`): set-up (session start, seeded input generation,
  * JIT warm-up of the parse or signature kernels on the driver) runs
  * `SetupReps` times; then `Settle` untimed passes let the JIT settle on the
  * Spark paths. Passes of the workload's timed calls then repeat until
  * `--seconds` have passed, at least `MinPasses` of them. The end-to-end
  * times are CPU seconds scaled to a reference speed (see `Ctx.call` and
  * `Calib`): `setup_s` is the median set-up plus the settle passes' calls,
  * the others are medians over the timed passes;
  * `task_concurrency` and `alloc_kb_per_doc` are medians over the passes of
  * the main call's mean running tasks and of the heap it allocated. The first timed pass's output is checked in full
  * against the generator, later passes by their counts or results; every
  * settle and timed call must launch at least as many Spark jobs as the
  * same call did in the first settle pass, the first in the session.
  *
  * Traced (`--trace 1`): one set-up, one settle pass, an untraced pass,
  * then calls into each layer with spans, a single-slot run of the main
  * call, and the per-layer metrics; `trace.overhead_s` compares the traced
  * and the untraced main call. Layers a workload does not exercise are
  * measured on small companion inputs: a 500-file directory for real-file
  * ingest, a 2k-doc dedup corpus, a 3k-doc spans table. None of it has a
  * bound, so it is kept short.
  *
  * The last line of stdout is the result.
  */
object Main {
  val SetupReps = 3
  /** Timed passes at least, per workload. The median of two `spans_job`
    * passes spreads no more between runs than that of three (0.07 and 0.08
    * over ten seeds); `dedup` needs three, its Jaccard call varies more.
    */
  val MinPasses = Map("spans_job" -> 2, "dedup" -> 3)

  def spansJob(ctx: Ctx) = new SpansJob(ctx, 30000L)
  def dedupRun(ctx: Ctx) = new DedupRun(ctx, Gen.DedupSpec(5000L, 50, 3, 50))
  /** Untimed passes after set-up; the second costs about half the first. */
  val Settle = 2

  type Metric = (String, Double, String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Seq("spans_job", "dedup").contains(workload), s"unknown workload $workload")
    val ctx = new Ctx(a("seed").toLong, Runtime.getRuntime.availableProcessors(), new File(a("work")))
    (1 to 5).foreach(_ => Calib.run(ctx.cores)) // compiled before it measures
    val res =
      try {
        if (a("trace") == "1") traced(ctx, workload, new File(a("out")))
        else if (workload == "spans_job") extraction(ctx, spansJob(ctx), a("seconds").toDouble)
        else dedup(ctx, dedupRun(ctx), a("seconds").toDouble)
      } finally ctx.stop()
    println(res.json)
    sys.exit(if (res.correct) 0 else 1)
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
    def json: String = {
      val ms = metrics.map { case (k, v, u) =>
        val num = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$k": {"value": $num, "unit": "$u"}"""
      }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  /** Runs set-up `SetupReps` times, each into a fresh input directory, then
    * `Settle` untimed passes. Returns the scaled CPU seconds of the median
    * set-up plus those of the settle passes' calls, and the settle passes.
    */
  private def setup[P](ctx: Ctx)(body: File => Unit)(pass: Int => P)(cpuOf: P => Double): (Double, Seq[P]) = {
    val cpu = (1 to SetupReps).map { rep =>
      Files.delete(new File(ctx.work, s"in-${rep - 1}"))
      val t0 = System.nanoTime()
      val (_, c) = ctx.refCpu { ctx.start(); body(Files.fresh(new File(ctx.work, s"in-$rep"))) }
      System.err.println(s"[perfbench] set-up $rep: ${(System.nanoTime() - t0) / 1e9} s wall, $c s cpu")
      c
    }
    val settled = (1 to Settle).map(i => pass(-i))
    val settleCpu = settled.map(cpuOf).sum
    System.err.println(s"[perfbench] settle: $settleCpu s cpu")
    (Stats.median(cpu) + settleCpu, settled)
  }

  /** Repeats `pass` until `seconds` have passed and at least `min` ran. */
  private def passes[P](seconds: Double, min: Int)(pass: Int => P): Seq[P] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[P]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) out += pass(out.size)
    out.toSeq
  }

  /** Fails the run when a call launched fewer Spark jobs than the first
    * call of its kind in the session (the first settle pass), so a result
    * kept from an earlier call cannot time as a gain. `jobs` holds the
    * settle passes, then the timed ones.
    */
  private def fullWork(name: String, jobs: Seq[Int]): Boolean = {
    val ok = jobs.nonEmpty && jobs.head > 0 && jobs.forall(_ >= jobs.head)
    if (!ok) System.err.println(s"[perfbench] full-work guard: $name launched jobs ${jobs.mkString(",")}")
    ok
  }

  private def out(ctx: Ctx, i: Int) = new File(ctx.work, s"out-$i")

  def extraction(ctx: Ctx, wl: Extraction, seconds: Double): Result = {
    val (setupS, settled) = setup(ctx) { dir => wl.setup(ctx.spark, dir); wl.warm() } { i =>
      val p = wl.pass(i, out(ctx, i)); Files.delete(out(ctx, i)); p
    } { p => p.runCpu + p.resumeCpu }
    val ps = passes(seconds, MinPasses("spans_job")) { i =>
      if (i > 1) Files.delete(out(ctx, i - 1))
      val p = wl.pass(i, out(ctx, i))
      System.err.println(s"[perfbench] pass $i run ${p.runSec} s (${p.runCpu} cpu) re-run ${p.resumeSec} s (${p.resumeCpu} cpu)")
      p
    }
    val (checked, failedDocs) = wl.check(out(ctx, 0))
    val all = settled ++ ps
    val guard = fullWork("run", all.map(_.runJobs)) && fullWork("re-run", all.map(_.resumeJobs))
    val failed = failedDocs + ps.count(!_.countsOk) + (if (guard) 0 else 1)
    val runCpu = Stats.median(ps.map(_.runCpu))
    Result(failed == 0, checked + ps.size + 1, failed, Seq(
      ("setup_s", setupS, "s"),
      ("cpu_us_per_doc", runCpu * 1e6 / wl.n, "us"),
      ("mb_per_cpu_s", wl.inputBytes(ctx.spark) / 1e6 / runCpu, "MB/s"),
      ("resume_or_jaccard_cpu_s", Stats.median(ps.map(_.resumeCpu)), "s"),
      ("task_concurrency", Stats.median(ps.map(_.runConcurrency)), "tasks"),
      ("alloc_kb_per_doc", Stats.median(ps.map(_.runAlloc.toDouble)) / 1e3 / wl.n, "KB")))
  }

  def dedup(ctx: Ctx, wl: DedupRun, seconds: Double): Result = {
    val (setupS, settled) = setup(ctx) { dir => wl.setup(ctx.spark, dir); wl.warm() } { i => wl.pass(i) } { p =>
      p.dedupCpu + p.jaccardCpu
    }
    val ps = passes(seconds, MinPasses("dedup")) { i =>
      val p = wl.pass(i)
      System.err.println(s"[perfbench] pass $i dedup ${p.dedupSec} s (${p.dedupCpu} cpu) jaccard ${p.jaccardSec} s (${p.jaccardCpu} cpu)")
      p
    }
    val (calls, failedCalls, recall) = wl.check(ps.head)
    System.err.println(s"[perfbench] planted recall $recall")
    val same = ps.tail.count(sameResults(ps.head, _))
    val all = settled ++ ps
    val guard = fullWork("dedup", all.map(_.dedupJobs)) && fullWork("jaccard", all.map(_.jaccardJobs))
    val failed = failedCalls + (ps.size - 1 - same) + (if (guard) 0 else 1)
    val dedupCpu = Stats.median(ps.map(_.dedupCpu))
    Result(failed == 0, calls + ps.size, failed, Seq(
      ("setup_s", setupS, "s"),
      ("cpu_us_per_doc", dedupCpu * 1e6 / wl.size, "us"),
      ("mb_per_cpu_s", wl.inputBytes(ctx.spark) / 1e6 / dedupCpu, "MB/s"),
      ("resume_or_jaccard_cpu_s", Stats.median(ps.map(_.jaccardCpu)), "s"),
      ("task_concurrency", Stats.median(ps.map(_.dedupConcurrency)), "tasks"),
      ("alloc_kb_per_doc", Stats.median(ps.map(_.dedupAlloc.toDouble)) / 1e3 / wl.size, "KB")))
  }

  /** A later pass must return exactly what the checked first pass returned. */
  private def sameResults(a: DedupPass, b: DedupPass): Boolean =
    a.candidates.sorted.sameElements(b.candidates.sorted) &&
      a.components.sorted.sameElements(b.components.sorted) &&
      a.edits.sorted.sameElements(b.edits.sorted) && a.jaccard.sorted.sameElements(b.jaccard.sorted)

  def traced(ctx: Ctx, workload: String, outDir: File): Result = {
    ctx.start()
    val m = mutable.ArrayBuffer.empty[Metric]
    var attempted = 0L
    var failed = 0L
    def count(c: (Long, Long)): Unit = { attempted += c._1; failed += c._2 }
    def guard(ok: Boolean): Unit = count((1L, if (ok) 0L else 1L))
    def dedupLayer(d: DedupRun, p: DedupPass): Unit = {
      val (c, f, recall) = d.check(p)
      count((c, f))
      m ++= Layers.operators(p, recall)
    }
    def companions(extraction: Option[Extraction], dedup: Option[DedupRun]): Unit = {
      extraction.foreach { wl =>
        wl.setup(ctx.spark, Files.fresh(new File(ctx.work, "companion-spans")))
        val (lm, _) = Layers.extraction(ctx, wl)
        m ++= lm
        count(wl.check(Layers.out(ctx)))
      }
      val fi = new FileIngest(ctx, 500L)
      fi.setup(ctx.spark, Files.fresh(new File(ctx.work, "companion-files")))
      val (im, c) = Layers.ingest(ctx, fi)
      m ++= im
      count(c)
      dedup.foreach { d =>
        d.setup(ctx.spark, Files.fresh(new File(ctx.work, "companion-dedup")))
        dedupLayer(d, d.pass(0))
      }
      m ++= Layers.spark(ctx, ctx.callSeconds)
      ctx.traced = false
      ctx.start(1)
    }
    // docs of the main call; its untraced, traced and single-slot seconds;
    // the docs the route layer is timed on
    val (docs, plain, withSpans, oneSlot, routeDocs) = workload match {
      case "spans_job" =>
        val wl = spansJob(ctx)
        wl.setup(ctx.spark, Files.fresh(new File(ctx.work, "in")))
        wl.warm()
        val settled = Seq(wl.pass(-1, out(ctx, 1)))
        val u = wl.pass(0, out(ctx, 0))
        Heap.sample()
        val all = settled :+ u
        guard(fullWork("run", all.map(_.runJobs)) && fullWork("re-run", all.map(_.resumeJobs)))
        ctx.resetJobs()
        ctx.traced = true
        val (lm, tracedRun) = Layers.extraction(ctx, wl)
        m ++= lm
        count(wl.check(Layers.out(ctx)))
        companions(None, Some(new DedupRun(ctx, Gen.DedupSpec(2000L, 20, 3, 50))))
        val one = wl.runOnce(out(ctx, 9))
        (wl.n, u.runSec, tracedRun, one, wl.sample(2000))
      case "dedup" =>
        val wl = dedupRun(ctx)
        wl.setup(ctx.spark, Files.fresh(new File(ctx.work, "in")))
        wl.warm()
        val settled = Seq(wl.pass(-1))
        val u = wl.pass(0)
        Heap.sample()
        val all = settled :+ u
        guard(fullWork("dedup", all.map(_.dedupJobs)) && fullWork("jaccard", all.map(_.jaccardJobs)))
        ctx.resetJobs()
        ctx.traced = true
        val t = wl.pass(1)
        dedupLayer(wl, t)
        companions(Some(new SpansJob(ctx, 3000L)), None)
        val one = wl.pass(2, jaccard = false).dedupSec
        val w = Vocab.of(ctx.seed)
        val texts = (0L until 2000L).map(i =>
          graft.core.DocIn(i, Array(graft.core.SpanIn("text", Gen.dedupText(ctx.seed, w, wl.spec, i), "", 0))))
        (wl.size, u.dedupSec, t.dedupSec, one, texts)
    }
    m ++= Layers.route(ctx, routeDocs)
    m += (("heap_peak_mb", Heap.peakMb, "MB"))
    val self = ctx.selfSeconds
    m ++= Layers.Names.map(l => (s"trace.self_s.$l", self.getOrElse(l, 0.0), "s"))
    m += (("trace.overhead_s", withSpans - plain, "s"))
    m += (("scaling.docs_per_s_1slot", docs / oneSlot, "1/s"))
    m += (("scaling.docs_per_s_nslots", docs / plain, "1/s"))
    m += (("scaling.speedup", oneSlot / plain, "ratio"))
    ctx.writeSpans(new File(outDir, s"spans-$workload-${ctx.seed}.jsonl"))
    Result(failed == 0, attempted, failed, m.toSeq)
  }
}
