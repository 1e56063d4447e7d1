package graft

import org.apache.spark.sql.SparkSession
import graft.catalog.SnapshotTable
import graft.core.Corpus
import graft.pipeline.ExtractJob

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "docs_per_sec":...,"pipeline_sec":...,"n_docs":...}
  *
  * The headline is the extraction pipeline's docs/sec on the synthesized
  * interleaved corpus replicated SPARK_GRAFT_REPL times (default 20), which
  * is the BASELINE.json metric; per-query wall times cover the rest of the
  * operator surface.
  */
object Bench {

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bump when Corpus synthesis changes — stale cached corpora under /tmp
    * would otherwise survive across rounds.
    */
  val CorpusSpecVersion = 2

  /** Materialize the synthesized spans corpus to parquet once per
    * (sf, factor) — the bucketed-input stand-in. Untimed prep: the
    * production job reads an existing table; synthesis is not extraction
    * work. Cached corpora from other spec versions are deleted so /tmp
    * doesn't accrete dead data across rounds.
    */
  def corpusPath(spark: SparkSession, sfDir: String, factor: Int, parts: Int): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val base = new java.io.File("/tmp/graft_bench")
    val name = s"corpus_v${CorpusSpecVersion}_${tag}_x${factor}_p$parts"
    val path = s"${base.getPath}/$name"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      Option(base.listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith("corpus_") &&
          !f.getName.startsWith(s"corpus_v$CorpusSpecVersion"))
          SnapshotTable.deleteRecursively(f.toPath)
      })
      Corpus.spansReplicated(spark, sfDir, factor, parts)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** One timed pipeline run: scan the materialized corpus -> extract ->
    * count, shuffle-free (input already partitioned on doc_id) — the
    * production plan shape. Returns (docs processed, seconds).
    */
  def pipelineRun(spark: SparkSession, sfDir: String, factor: Int, cores: Int): (Long, Double) = {
    import spark.implicits._
    // 4 tasks per core: stragglers overlap instead of idling cores.
    val parts = cores * 4
    val path = corpusPath(spark, sfDir, factor, parts)
    val input = spark.read.parquet(path).as[graft.core.DocIn]
    val cfg = ExtractJob.JobConfig(partitions = parts, shuffleInput = false)
    val t0 = System.nanoTime()
    val n = ExtractJob.runCount(spark, input, cfg)
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    // 400x (2M docs at sf0.1): large enough that per-job fixed overhead
    // (~0.4s scheduler/scan setup) stays <20% of the measured pass
    val factor = sys.env.getOrElse("SPARK_GRAFT_REPL", "400").toInt
    val spark = session(cpus)

    // JIT warmup: TWO full-size passes by default (round-3 stability fix —
    // one pass still left the round-2 measured ladder descending 8x across
    // runs; the second pass finishes C2's async compilation of the whole
    // parser inlining tree before anything is timed). A tiny warmup is NOT
    // enough: a 500k-doc run completes mostly interpreted (~28k docs/sec)
    // vs ~800k compiled — the round-1 20x methodology artifact (BENCH.md).
    // Then SPARK_GRAFT_BENCH_REPEAT measured runs (default 8). The JSON
    // reports BOTH best-of-N (the clean-window figure on this bimodal
    // 3-4x-variance host) and median-of-last-3 (the steady-state figure
    // that a single lucky window can't inflate).
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "8").toInt
    val warmupFactor = sys.env.getOrElse("SPARK_GRAFT_WARMUP_REPL", factor.toString).toInt
    val warmupPasses = sys.env.getOrElse("SPARK_GRAFT_WARMUP_PASSES", "2").toInt
    (1 to warmupPasses).foreach { w =>
      val ws = pipelineRun(spark, sfDir, warmupFactor, cpus.toInt)
      System.err.println(s"[bench] warmup $w x$warmupFactor: ${ws._2}s")
    }
    val runs = (1 to repeat).map { r =>
      val res = pipelineRun(spark, sfDir, factor, cpus.toInt)
      System.err.println(s"[bench] run $r x$factor: ${res._2}s")
      res
    }
    val (nDocs, pipeSec) = runs.minBy(_._2)
    val docsPerSec = nDocs / math.max(pipeSec, 1e-9)
    val last3 = runs.takeRight(3).map(_._2).sorted
    val medianLast3 = last3(last3.length / 2)
    val medianDocsPerSec = nDocs / math.max(medianLast3, 1e-9)
    val runTimes = runs.map(_._2).mkString("[", ",", "]")

    // SPARK_GRAFT_BENCH_PIPELINE_ONLY=1: skip the per-query sweep (used by
    // the taskset-pinned scaling runs, where only pipeline docs/sec matters)
    val pipelineOnly = sys.env.get("SPARK_GRAFT_BENCH_PIPELINE_ONLY").contains("1")
    // each query runs SPARK_GRAFT_SWEEP_REPEAT times (default 2) and
    // reports the min — a single cold sample on this bimodal host
    // manufactured two phantom 9x "regressions" in round 3 (q_profile /
    // q_quality read 2.2s/1.7s once, 0.5s/0.3s on re-run, same plans)
    val sweepRepeat = sys.env.getOrElse("SPARK_GRAFT_SWEEP_REPEAT", "2").toInt
    val results =
      if (pipelineOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // a broken query must be LOUD (-1 timing + stderr), never a silent
        // plausible-looking duration — correctness is the driver's gate, but
        // the bench must not hide a query that stopped running at all
        val times = (1 to sweepRepeat).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] QUERY FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
            -1.0
          }
        }
        name -> (if (times.exists(_ < 0)) -1.0 else times.min)
      }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum + pipeSec
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","docs_per_sec":$docsPerSec,"docs_per_sec_median_last3":$medianDocsPerSec,"pipeline_sec":$pipeSec,"pipeline_sec_median_last3":$medianLast3,"pipeline_runs_sec":$runTimes,"n_docs":$nDocs,"cpus":$cpus,"replication":$factor}"""
    println(json)
    // ALSO persist to a file: the driver's stdout capture truncates to a
    // tail, and the full per-query sweep must survive regardless
    // (BENCH_r04.json lost 97 of 155 timings that way)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Scaling-evidence main (the sandbox proxy for the N vs 4N executor rule):
  * the SAME pipeline job at local[N] and local[4N] on the SAME input,
  * reporting throughput at both plus efficiency = (thr_4N/thr_N)/4.
  *
  * SPARK_GRAFT_SCALE_N picks N (default 2 -> the 2-vs-8 pair). The most
  * faithful runs pin each level to its core allotment in its own JVM
  * (`taskset -c 0-(N-1)` around a pipeline-only Bench), so GC/JIT threads
  * can't borrow idle cores — see BENCH.md; this in-JVM main is the
  * one-command variant.
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_REPL", "400").toInt
    val nLow = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
    val nHigh = nLow * 4
    // The two parallelism levels share one JVM, so JIT warmup would bias
    // whichever runs first; the host also shows steal-time noise. Alternate
    // rounds and take each level's best run — both levels then measure
    // fully-warmed code under comparable machine conditions.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALING_ROUNDS", "5").toInt
    val lo = nLow.toString; val hi = nHigh.toString
    var best = Map(lo -> (0L, Double.MaxValue), hi -> (0L, Double.MaxValue))
    for (r <- 1 to rounds; cpus <- Seq(hi, lo)) {
      val spark = Bench.session(cpus)
      val (n, sec) = Bench.pipelineRun(spark, sfDir, factor, cpus.toInt)
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      System.err.println(s"[scaling] round $r local[$cpus]: $sec s")
      if (sec < best(cpus)._2) best += cpus -> (n, sec)
    }
    val (nL, sL) = best(lo); val (nH, sH) = best(hi)
    val tL = nL / math.max(sL, 1e-9); val tH = nH / math.max(sH, 1e-9)
    val eff = (tH / tL) / 4.0
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio","n_docs":$nL,"local$nLow":{"sec":$sL,"docs_per_sec":$tL},"local$nHigh":{"sec":$sH,"docs_per_sec":$tH},"sf":"$sfDir","replication":$factor}""")
  }
}
