package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Dedup

/** What one dedup pass measured and returned. `parts` holds the seconds of
  * minhash_pairs, cc and edit_verify inside the timed dedup call.
  */
final case class DedupPass(dedupSec: Double, jaccardSec: Double, dedupJobs: Int, jaccardJobs: Int,
                           parts: Map[String, Double], dedupCpu: Double, jaccardCpu: Double, dedupConcurrency: Double,
                           dedupAlloc: Long,
                           candidates: Array[(Long, Long)], components: Array[(Long, Long)],
                           edits: Array[(Long, Long, Int)], jaccard: Array[(Long, Long, Long, Long)])

/** `dedup`: the seeded corpus through `Dedup.minhashPairs` ->
  * `connectedComponents` -> `editVerify`, then the probe-gated
  * `ngramJaccard` with `dfCap = n/10`. Calls the operators directly.
  */
final class DedupRun(val ctx: Ctx, val spec: Gen.DedupSpec) {
  val MaxDist = 40
  val RecallFloor = 0.9
  var dir: File = _
  private def corpusDir = new File(dir, "corpus").getPath
  def size: Long = spec.n + spec.clusters.toLong * spec.perCluster
  def dfCap: Long = size / 10
  def probe = col("doc_id") % spec.probeMod === 0

  def setup(spark: SparkSession, d: File): Unit = {
    import spark.implicits._
    dir = d
    val seed = ctx.seed; val s = spec
    spark.range(0, size, 1, 4 * ctx.cores).as[Long]
      .mapPartitions { it =>
        val w = Vocab.of(seed)
        it.map(i => (i, Gen.dedupText(seed, w, s, i)))
      }.toDF("doc_id", "text").write.parquet(corpusDir)
  }

  /** JIT warm-up of the signature kernel, on the driver. */
  def warm(): Unit = {
    val w = Vocab.of(ctx.seed)
    (0L until 2000L).foreach(i => Dedup.bandKeys(Dedup.minhashSig(Gen.dedupText(ctx.seed, w, spec, i))))
  }

  def docs(spark: SparkSession): DataFrame = spark.read.parquet(corpusDir)
  def inputBytes(spark: SparkSession): Long = {
    import spark.implicits._
    docs(spark).select(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.length(col("text"))))
      .as[Long].head()
  }

  /** One pass; `jaccard = false` skips the Jaccard call (its time reads 0). */
  def pass(i: Int, jaccard: Boolean = true): DedupPass = {
    val spark = ctx.spark
    import spark.implicits._
    val d = docs(spark)
    val ((cand, cc, ev, parts), t1, j1) = ctx.call("operators", "dedup") {
      val (cand, tm) = ctx.span("operators.minhash_pairs")(Dedup.minhashPairs(spark, d).localCheckpoint())
      val (cc, tc) = ctx.span("operators.cc")(Dedup.connectedComponents(cand).as[(Long, Long)].collect())
      val (ev, te) = ctx.span("operators.edit_verify")(
        Dedup.editVerify(d, cand, MaxDist).select("a", "b", "dist").as[(Long, Long, Int)].collect())
      (cand.as[(Long, Long)].collect(), cc, ev,
        Map("minhash_pairs" -> tm, "cc" -> tc, "edit_verify" -> te))
    }
    // drop the checkpointed pairs now, so the heap a pass leaves does not
    // depend on when the context cleaner gets to them
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val (cpu1, conc1, alloc1) = (ctx.lastCpu, ctx.lastConcurrency, ctx.lastAlloc)
    val (jac, t2, j2) =
      if (!jaccard) (Array.empty[(Long, Long, Long, Long)], 0.0, 0)
      else ctx.call("operators", "jaccard") {
        Dedup.ngramJaccard(spark, d, dfCap, probe).select("a", "b", "inter", "uni")
          .as[(Long, Long, Long, Long)].collect()
      }
    DedupPass(t1, t2, j1, j2, parts, cpu1, if (jaccard) ctx.lastCpu else 0.0, conc1, alloc1, cand, cc, ev, jac)
  }

  /** Checks one pass with the benchmark's own Levenshtein, union-find and
    * shingle sets over the generator's texts. Returns (calls checked,
    * calls failed) for the four operator calls and the planned recall.
    */
  def check(p: DedupPass): (Long, Long, Double) = {
    val w = Vocab.of(ctx.seed)
    val text = scala.collection.mutable.HashMap.empty[Long, String]
    def t(id: Long) = text.getOrElseUpdate(id, Gen.dedupText(ctx.seed, w, spec, id))
    def fail(what: String): Boolean = { System.err.println(s"[perfbench] dedup check: $what"); true }
    val planted = spec.planted
    val cand = p.candidates.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // minhashPairs: ordered distinct pairs; planted pairs reached through components below
    val candBad = cand.length != p.candidates.length || p.candidates.exists { case (a, b) => a >= b } ||
      p.candidates.isEmpty
    // connectedComponents: every candidate endpoint labelled with the least id of its component
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    cand.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = p.components.toMap
    val ccBad = comp.size != parent.size || parent.keysIterator.exists(k => comp.get(k) != Some(find(k)))
    val recall = planted.count { case (a, b) => comp.contains(a) && comp.get(a) == comp.get(b) }.toDouble /
      math.max(1, planted.size)
    // editVerify: exactly the candidates within MaxDist, with their exact distance
    val wantEdits = cand.flatMap { case (a, b) =>
      val d = Check.levenshtein(t(a), t(b)); if (d <= MaxDist) Some((a, b, d)) else None
    }.toSet
    val gotEdits = p.edits.map { case (a, b, d) => (math.min(a, b), math.max(a, b), d) }
    val editBad = gotEdits.length != wantEdits.size || gotEdits.toSet != wantEdits || wantEdits.isEmpty
    // ngramJaccard: every reported pair exact, and every planted probe pair reported
    val hot = Check.hotShingles(Iterator.range(0L, size).map(t), dfCap)
    System.err.println(s"[perfbench] ${hot.size} shingles past dfCap $dfCap")
    val jacBad = p.jaccard.isEmpty || p.jaccard.exists { case (a, b, inter, uni) =>
      val (i, u) = Check.jaccard(t(a), t(b), hot); i != inter || u != uni || 5 * inter < uni
    } || {
      val got = p.jaccard.iterator.map(x => (x._1, x._2)).toSet
      planted.exists(pr => !got(pr))
    }
    val bad = Seq(
      candBad && fail(s"candidate pairs not ordered/distinct/non-empty (${p.candidates.length})"),
      (ccBad || recall < RecallFloor) && fail(s"components wrong or recall $recall < $RecallFloor"),
      editBad && fail(s"edit pairs ${gotEdits.length} differ from the ${wantEdits.size} expected"),
      jacBad && fail(s"jaccard pairs wrong (${p.jaccard.length})"))
    (bad.length.toLong, bad.count(identity).toLong, recall)
  }
}

object Check {
  /** Plain two-row Levenshtein distance. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val c = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + c)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    (0 until w.length - 1).iterator.map(i => w(i) + " " + w(i + 1)).toSet
  }

  /** Two-word shingles found in more than `cap` documents. */
  def hotShingles(texts: Iterator[String], cap: Long): Set[String] = {
    val df = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(t => shingles(t).foreach(s => df(s) = df.getOrElse(s, 0L) + 1))
    df.iterator.collect { case (s, c) if c > cap => s }.toSet
  }

  /** (intersection, union) of the two shingle sets without the hot shingles. */
  def jaccard(a: String, b: String, hot: Set[String]): (Long, Long) = {
    val sa = shingles(a) -- hot; val sb = shingles(b) -- hot
    val i = sa.count(sb).toLong
    (i, sa.size + sb.size - i)
  }
}
