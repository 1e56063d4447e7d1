package graftbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{DocIn, DocOut}
import graft.pipeline.ExtractJob

/** Seeded vocabularies, built once per JVM and seed (tasks share them). */
object Vocab {
  private val cache = new java.util.concurrent.ConcurrentHashMap[Long, Words]()
  def of(seed: Long): Words = cache.computeIfAbsent(seed, s => new Words(s))
}

/** What one extraction pass measured. */
final case class ExtractPass(runSec: Double, resumeSec: Double, runJobs: Int, resumeJobs: Int, countsOk: Boolean,
                             runCpu: Double, resumeCpu: Double, runConcurrency: Double, runAlloc: Long)

/** An extraction workload: a base input and a 5% delta, both generated from
  * the seed, run through `ExtractJob.run` into a fresh output directory and
  * then re-run on the same output over base + delta, which re-extracts the
  * docs whose status is not terminal plus the delta.
  */
abstract class Extraction(val ctx: Ctx, val n: Long) {
  val delta: Long = math.max(1L, n / 20)
  var dir: File = _
  def cfg: ExtractJob.JobConfig
  def generate(spark: SparkSession): Unit
  def base(spark: SparkSession): Dataset[DocIn]
  def all(spark: SparkSession): Dataset[DocIn]

  /** (doc_id, planned, in delta) for every base and delta doc, from the generator. */
  def expected(spark: SparkSession): Array[(Long, Planned, Boolean)]

  private var exp: Array[(Long, Planned, Boolean)] = _
  def plan(spark: SparkSession): Array[(Long, Planned, Boolean)] = {
    if (exp == null) exp = expected(spark)
    exp
  }
  def inputBytes(spark: SparkSession): Long = plan(spark).iterator.filterNot(_._3).map(_._2.bytes).sum

  private def terminal(s: String) = graft.core.Status.terminal(s)

  /** (extracted rows, lineage rows) that `run` must report after the first
    * run and after the re-run.
    */
  def expectedCounts(spark: SparkSession): ((Long, Long), (Long, Long)) = {
    val p = plan(spark)
    val okBase = p.iterator.filter(x => !x._3 && x._2.status == Gen.Success).map(_._2.rows.toLong).sum
    val okDelta = p.iterator.filter(x => x._3 && x._2.status == Gen.Success).map(_._2.rows.toLong).sum
    val nBase = p.count(!_._3).toLong
    val redo = p.count(x => !x._3 && !terminal(x._2.status)).toLong
    ((okBase, nBase), (okBase + okDelta, nBase + redo + p.count(_._3)))
  }

  def setup(spark: SparkSession, d: File): Unit = {
    dir = d
    generate(spark)
    exp = null
    plan(spark)
  }

  /** The first `k` base docs, generated on the driver. */
  def sample(k: Int): Seq[DocIn]

  /** JIT warm-up of the parse kernels, on the driver, over a sample. */
  def warm(): Unit = sample(2000).foreach { d =>
    try graft.core.route.Extract.explodeCounted(d, cfg.extract)
    catch { case _: Exception => () }
  }

  /** The first run alone into a fresh `out`; returns its seconds. */
  def runOnce(out: File): Double = {
    Files.delete(out)
    ctx.call("pipeline", "run")(ExtractJob.run(ctx.spark, base(ctx.spark), None, out.getPath, cfg))._2
  }

  def pass(i: Int, out: File): ExtractPass = {
    val spark = ctx.spark
    Files.delete(out)
    val ((nd1, nl1), t1, j1) = ctx.call("pipeline", "run") {
      ExtractJob.run(spark, base(spark), None, out.getPath, cfg)
    }
    val (cpu1, conc1, alloc1) = (ctx.lastCpu, ctx.lastConcurrency, ctx.lastAlloc)
    val ((nd2, nl2), t2, j2) = ctx.call("pipeline", "resume") {
      ExtractJob.run(spark, all(spark), None, out.getPath, cfg)
    }
    val (c1, c2) = expectedCounts(spark)
    val ok = (nd1, nl1) == c1 && (nd2, nl2) == c2
    if (!ok) System.err.println(s"[perfbench] pass $i counts: run ($nd1,$nl1) want $c1, re-run ($nd2,$nl2) want $c2")
    ExtractPass(t1, t2, j1, j2, ok, cpu1, ctx.lastCpu, conc1, alloc1)
  }

  /** Full output check of one pass's output directory: every doc has one
    * lineage row per run that extracted it, with its planned status, and
    * the extracted rows equal the generator's, as a multiset of per-document
    * hashes. Returns (docs checked, docs failed).
    */
  def check(out: File): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val p = plan(spark)
    val lineage = ExtractJob.readLineage(spark, out.getPath).get
      .select("doc_id", "status").as[(Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    var failed = 0L
    p.foreach { case (id, pl, inDelta) =>
      val want = if (inDelta || terminal(pl.status)) Seq(pl.status) else Seq(pl.status, pl.status)
      if (lineage.getOrElse(id, Nil) != want) {
        if (failed < 5) System.err.println(s"[perfbench] doc $id lineage ${lineage.getOrElse(id, Nil)} want $want")
        failed += 1
      }
    }
    val known = p.iterator.map(_._1).toSet
    failed += lineage.keysIterator.count(k => !known(k))
    val got = ExtractJob.readExtracted(spark, out.getPath).get.as[DocOut]
      .groupByKey(_.root_id).mapGroups((_, rows) => Hash.actual(rows.toSeq))
      .collect().sorted
    val want = p.iterator.filter(_._2.status == Gen.Success).map(_._2.hash).toArray.sorted
    failed += Extraction.multisetDiff(want, got)
    (p.length.toLong, failed)
  }
}

object Extraction {
  /** Size of the larger side of the multiset difference of two sorted arrays. */
  def multisetDiff(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var onlyA = 0L; var onlyB = 0L
    while (i < a.length || j < b.length) {
      if (j >= b.length || (i < a.length && a(i) < b(j))) { onlyA += 1; i += 1 }
      else if (i >= a.length || b(j) < a(i)) { onlyB += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    math.max(onlyA, onlyB)
  }
}

/** `spans_job`: a spans table in the BASELINE input shape, written as parquet
  * in doc_id ranges (one range per file) and read with `shuffleInput = false`,
  * so the plan is shuffle-free like a table bucketed on doc_id.
  */
final class SpansJob(ctx: Ctx, n: Long) extends Extraction(ctx, n) {
  def cfg = ExtractJob.JobConfig(partitions = 4 * ctx.cores, shuffleInput = false)
  private def baseDir = new File(dir, "base").getPath
  private def deltaDir = new File(dir, "delta").getPath

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val seed = ctx.seed
    def write(from: Long, until: Long, parts: Int, path: String): Unit =
      spark.range(from, until, 1, parts).as[Long]
        .mapPartitions { it => val w = Vocab.of(seed); it.map(id => Gen.spanDoc(seed, w, id)._1) }
        .write.parquet(path)
    write(0, n, 4 * ctx.cores, baseDir)
    write(n, n + delta, ctx.cores, deltaDir)
  }
  def base(spark: SparkSession): Dataset[DocIn] = {
    import spark.implicits._
    spark.read.parquet(baseDir).as[DocIn]
  }
  def all(spark: SparkSession): Dataset[DocIn] = {
    import spark.implicits._
    spark.read.parquet(baseDir, deltaDir).as[DocIn]
  }
  def sample(k: Int): Seq[DocIn] = {
    val w = Vocab.of(ctx.seed)
    (0L until math.min(k.toLong, n)).map(id => Gen.spanDoc(ctx.seed, w, id)._1)
  }
  def expected(spark: SparkSession): Array[(Long, Planned, Boolean)] = {
    val w = Vocab.of(ctx.seed)
    Array.tabulate((n + delta).toInt)(i => (i.toLong, Gen.spanDoc(ctx.seed, w, i.toLong)._2, i >= n))
  }
}

/** `file_ingest`: a directory of real files read through `Ingest.readDir`,
  * unbucketed, so extraction goes through the salted repartition. A few big
  * tars pass `oversizedChars` and get salted.
  */
final class FileIngest(ctx: Ctx, n: Long) extends Extraction(ctx, n) {
  def cfg = ExtractJob.JobConfig(partitions = 4 * ctx.cores, shuffleInput = true)
  private def filesDir = new File(dir, "files")

  /** Ingest's documented id rule: the first 15 hex digits of the SHA-256 of
    * the file's URI as Spark lists it.
    */
  private def pathId(path: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(path.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseUnsignedLong(hex.substring(0, 15), 16)
  }
  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val seed = ctx.seed; val root = filesDir.getAbsolutePath; val nn = n; val big = math.max(1L, n / 4)
    spark.range(0, n + delta, 1, 4 * ctx.cores).as[Long].foreachPartition { (it: Iterator[Long]) =>
      val w = Vocab.of(seed)
      it.foreach { id =>
        val f = Gen.file(seed, w, id, id < nn && id % big == 7)
        val out = new File(s"$root/${if (id < nn) "base" else "delta"}/d${id % 64}/${f.name}")
        out.getParentFile.mkdirs()
        java.nio.file.Files.write(out.toPath, f.bytes)
      }
    }
  }
  def base(spark: SparkSession): Dataset[DocIn] = graft.sources.Ingest.readDir(spark, new File(filesDir, "base").getPath)
  def all(spark: SparkSession): Dataset[DocIn] = graft.sources.Ingest.readDir(spark, filesDir.getPath)
  def sample(k: Int): Seq[DocIn] = {
    val w = Vocab.of(ctx.seed); val big = math.max(1L, n / 4)
    (0L until math.min(k.toLong / 4, n)).map { id =>
      val f = Gen.file(ctx.seed, w, id, id % big == 7)
      graft.sources.Ingest.toDocIn("file:/sample/" + f.name, f.bytes)
    }
  }
  def expected(spark: SparkSession): Array[(Long, Planned, Boolean)] = {
    import spark.implicits._
    val seed = ctx.seed; val root = filesDir.getAbsolutePath; val nn = n; val big = math.max(1L, n / 4)
    spark.range(0, n + delta, 1, 4 * ctx.cores).as[Long].mapPartitions { it =>
      val w = Vocab.of(seed)
      it.map { id =>
        val f = Gen.file(seed, w, id, id < nn && id % big == 7)
        val path = new File(s"$root/${if (id < nn) "base" else "delta"}/d${id % 64}/${f.name}")
        (f.name, path.getAbsolutePath, f.planned, id >= nn)
      }
    }.collect().map { case (_, path, pl, d) => (pathId("file:" + path), pl, d) }
  }
}
