package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Flatten, Levenshtein}
import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec, MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{HashParams, Ids}
import graft.operators.{BandedLevenshtein, Dedup}

/** Plan shape and exactness of the dedup operators: one `minhashPairs`
  * call reads and signs its input once (and `minhashSig` equals its plain
  * string-shingle definition), `editVerify` runs the banded Levenshtein
  * kernel once per candidate pair in one typed map over the join (and the
  * kernel equals a plain thresholded DP), and `ngramJaccard` finds its
  * exact hot set from bucket counters and a recount, then streams the corpus
  * past a broadcast probe table, with no exchange in any of its passes;
  * `hotShingles` reads its record from that same hot pass.
  */
class DedupPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark

  /** The final executed plans of every query `body` runs, its lazy
    * checkpoints included.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val (start, end) = (s"start-${java.util.UUID.randomUUID}", s"end-${java.util.UUID.randomUUID}")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val endSeen = new java.util.concurrent.CountDownLatch(1)
    @volatile var started = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val text = qe.analyzed.toString
        if (text.contains(start)) started = true
        else if (text.contains(end)) endSeen.countDown()
        else if (started) plans.add(qe.executedPlan)
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // listener events arrive in order: the plans between the two marker
      // queries are body's, and no earlier query's event is counted
      spark.range(1).select(lit(start)).collect()
      body
      spark.range(1).select(lit(end)).collect()
      assert(endSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def count(plans: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, Int]): Int =
    plans.map(p => collect(p)(pf).sum).sum

  test("minhashPairs scans its input once, runs the signature map once, no sort aggregate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").resolve("docs").toString
    (0 until 60).map { i =>
      (i.toLong,
        if (i % 3 == 0) "alpha beta gamma delta epsilon zeta"
        else s"words of document $i and w${i % 7} x${i % 5}")
    }.toDF("doc_id", "text").write.parquet(dir)
    val docs = spark.read.parquet(dir)
    var pairs = Array.empty[(Long, Long)]
    val plans = executedPlans {
      pairs = Dedup.minhashPairs(spark, docs).as[(Long, Long)].collect()
    }
    // the 20 identical documents pair up within their signature group
    assert(pairs.count { case (a, b) => a % 3 == 0 && b % 3 == 0 } == 20 * 19 / 2)
    assert(count(plans) { case _: FileSourceScanExec => 1 } == 1)
    assert(count(plans) { case _: MapElementsExec => 1 } == 1)
    assert(count(plans) { case _: SortAggregateExec => 1 } == 0)
    // the pairs stream from the capped arrays: the only joins are the two
    // of the member expansion, none keyed on the bucket, and no pair array
    // is built with flatten/transform
    val joins = plans.flatMap(p => collect(p) { case j: BaseJoinExec => j })
    assert(joins.size == 2, plans.mkString("\n"))
    assert(joins.flatMap(j => (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))).toSet ==
      Set("ra", "rb"), joins)
    assert(count(plans) { case p => p.expressions.count(_.exists {
      case _: Flatten | _: ArrayTransform => true
      case _ => false
    }) } == 0)
  }

  test("an at-cap group of 2,000 members yields its 1,999,000 within-group pairs") {
    val docs = spark.range(2000).select(col("id").as("doc_id"), lit("the same template text here").as("text"))
    assert(Dedup.minhashPairs(spark, docs, 2000).count() == 2000L * 1999 / 2)
  }

  /** Plain two-row Levenshtein over code points (Spark's character unit). */
  private def levenshtein(a: String, b: String): Int = {
    val (x, y) = (a.codePoints().toArray, b.codePoints().toArray)
    var prev = Array.tabulate(y.length + 1)(identity)
    for (i <- 1 to x.length) {
      val cur = new Array[Int](y.length + 1)
      cur(0) = i
      for (j <- 1 to y.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      prev = cur
    }
    prev(y.length)
  }

  private val maxDist = 3
  private val texts = Map(
    1L -> "abcdefgh",
    2L -> "abcxyzgh", // 3 from 1: at maxDist, kept
    3L -> "wxyzefgh", // 4 from 1: maxDist + 1, dropped
    4L -> "abcdefghijklm", // 5 longer than 1: cut by the length gap
    5L -> "",
    6L -> "abc", // 3 from the empty text, a length gap of exactly maxDist
    7L -> "",
    8L -> "naïve café",
    9L -> "naive cafe",
    10L -> "日本語のテキスト",
    11L -> "日本語テキスト!",
    12L -> "😀😀ab",
    13L -> "ab😀")
  private val candidatePairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L), (5L, 7L), (8L, 9L),
    (10L, 11L), (12L, 13L), (2L, 3L), (4L, 6L))

  private def editInputs = {
    import spark.implicits._
    (texts.toSeq.toDF("doc_id", "text"), candidatePairs.toDF("a", "b"))
  }

  test("editVerify equals a plain DP: kept at maxDist, dropped past it, length gap, empty, non-ASCII") {
    val (docs, candidates) = editInputs
    val got = Dedup.editVerify(docs, candidates, maxDist)
    assert(got.columns.toSeq == Seq("a", "b", "dist"))
    assert(got.schema("dist").dataType == IntegerType)
    val want = candidatePairs.map { case (a, b) => (a, b, levenshtein(texts(a), texts(b))) }
      .filter(_._3 <= maxDist)
    assert(want.map(p => (p._1, p._2)).toSet ==
      Set((1L, 2L), (5L, 6L), (5L, 7L), (8L, 9L), (10L, 11L), (12L, 13L)))
    assert(want.exists(_._3 == maxDist) && want.exists(_._3 == 0))
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.sorted.toSeq == want.sorted)
  }

  test("editVerify's final plan: one typed map over the join, no Levenshtein") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-edit").resolve("docs").toString
    texts.toSeq.toDF("doc_id", "text").write.parquet(dir)
    val (_, candidates) = editInputs
    val ev = Dedup.editVerify(spark.read.parquet(dir), candidates, maxDist)
    ev.collect() // finalize THIS query execution's adaptive plan
    val plan = ev.queryExecution.executedPlan
    val evaluations = collect(plan) { case p =>
      p.expressions.map(_.collect { case l: Levenshtein => l }.size).sum
    }.sum
    assert(evaluations == 0, plan)
    val maps = collect(plan) { case m @ (_: MapPartitionsExec | _: MapElementsExec) => m }
    assert(maps.size == 1, plan)
    assert(collect(maps.head) { case j: BaseJoinExec => j }.size == 2, plan)
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 2, plan)
  }

  /** [[levenshtein]] with Spark's threshold semantics: -1 past `k`. */
  private def thresholded(a: String, b: String, k: Int): Int = {
    val d = levenshtein(a, b)
    if (d <= k) d else -1
  }

  test("BandedLevenshtein equals the plain thresholded DP: surrogate pairs, empty, k = 0, gap k, k past both lengths") {
    val alphabet = Array("a", "b", "c", " ", "é", "日", "😀", "𝄞")
    val rnd = new scala.util.Random(42)
    def word(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // an edited copy: a few code-point substitutions, insertions and deletions
    def edit(s: String): String = {
      var cps = s.codePoints().toArray.toSeq.map(c => new String(Character.toChars(c)))
      for (_ <- 0 until rnd.nextInt(6)) {
        val i = rnd.nextInt(cps.length + 1)
        rnd.nextInt(3) match {
          case 0 if i < cps.length => cps = cps.updated(i, word(1))
          case 1 => cps = cps.patch(i, Seq(word(1)), 0)
          case _ if i < cps.length => cps = cps.patch(i, Nil, 1)
          case _ =>
        }
      }
      cps.mkString
    }
    val randomCases = Seq.fill(4000) {
      val s = word(rnd.nextInt(24))
      (s, if (rnd.nextBoolean()) edit(s) else word(rnd.nextInt(24)), rnd.nextInt(12))
    }
    val fixed = Seq(
      ("", "", 0), ("", "", 5), ("", "abc", 3), ("", "abc", 2), ("😀😀", "", 2), ("😀😀", "", 1),
      ("abc", "abd", 0), ("abc", "abc", 0), ("日本語", "日本語", 0),
      ("abcdef", "abc", 3), ("abc", "abcdef", 3), ("abc", "abcdef", 2), // gap exactly k, one a prefix
      ("𝄞x𝄞", "x𝄞x𝄞x", 2), ("kitten", "sitting", 3), ("kitten", "sitting", 2),
      ("kitten", "sitting", 7), ("kitten", "sitting", Int.MaxValue), ("ab😀", "😀ab", 100))
    for ((s, t, k) <- fixed ++ randomCases) {
      assert(BandedLevenshtein.distance(s, t, k) == thresholded(s, t, k), (s, t, k))
      assert(BandedLevenshtein.distance(t, s, k) == thresholded(s, t, k), (t, s, k))
    }
    // texts past the kernel's kept scratch size: a^70000 against 3 'b'
    // substitutions and a deletion is distance 4 (each non-'a' and the length gap cost 1)
    val long = "a" * 70000
    val edited = long.substring(1).updated(10, 'b').updated(30000, 'b').updated(69000, 'b')
    assert(edited.length == long.length - 1 && edited.count(_ == 'b') == 3)
    assert(BandedLevenshtein.distance(long, edited, 40) == 4)
    assert(BandedLevenshtein.distance(edited, long, 3) == -1)
    assert(BandedLevenshtein.distance("kitten", "sitting", 3) == 3)
    // the random cases reach both sides of the threshold
    assert(randomCases.count { case (s, t, k) => thresholded(s, t, k) >= 0 } > 400)
    assert(randomCases.count { case (s, t, k) => thresholded(s, t, k) < 0 } > 400)
  }

  /** `minhashSig` from its definition: the `string_split(text, ' ')` words,
    * 3-word shingles as strings (the whole text under 3 words), each coded
    * by the first 8 hex chars of its md5.
    */
  private def minhashSigReference(text: String): Seq[Long] = {
    val w = text.split(" ", -1)
    val shingles =
      if (w.length < 3) Seq(text)
      else (0 until w.length - 2).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2))
    val codes = shingles.map(sh => java.lang.Long.parseLong(Ids.md5(sh).substring(0, 8), 16))
    (0 until HashParams.NumMinHash).map(h => codes.map(HashParams.minhash(h, _)).min)
  }

  test("minhashSig equals its string-shingle definition: double, leading and trailing spaces, few words, non-ASCII") {
    val vocab = Array("", "a", "the", "naïve", "café", "日本語", "😀", "x😀y", "𝄞", "word")
    val rnd = new scala.util.Random(7101)
    val randomTexts = Seq.fill(2000)(Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val fixed = Seq("", " ", "  ", "one", "one two", "one  two", " one two", "one two ",
      "one two three", "  one two three", "one two three  ", "one  two   three four",
      "naïve café 日本語 😀", "😀 𝄞 😀 𝄞 😀")
    for (t <- fixed ++ randomTexts)
      assert(Dedup.minhashSig(t).toSeq == minhashSigReference(t), t)
    assert(randomTexts.count(t => t.split(" ", -1).length < 3) > 100)
    assert(randomTexts.count(_.contains("  ")) > 100)
  }

  /** Jaccard inputs: with dfCap 2, "hot x", "s1 s2" and "s3 s4" (df 3) are
    * dropped and "s2 s3", "s4 s5" (df 2) kept; probes 1 and 2 (kind "p")
    * are each other's neighbours at exactly Jaccard 0.2; probe 4 is one
    * word and doc 7 empty, so neither has a shingle.
    */
  private val jaccardDocs = Seq(
    (1L, "s1 s2 s3 s4 s5 hot x", "p"),
    (2L, "s1 s2 s3 s4 t5 hot x", "p"),
    (3L, "hot x u1 u2", "n"),
    (4L, "solo", "p"),
    (5L, "s1 s2 v1 v2 v3", "n"),
    (6L, "s3 s4 s5 w1", "n"),
    (7L, "", "n"))

  /** [[jaccardDocs]] plus two documents that repeat shingles: "r1 r2" occurs
    * 5 times and "r2 r1" 4 times, past dfCap 2, but each is held by only 2
    * documents, so both stay rare and probe 8 meets doc 9 through them.
    */
  private val repeatDocs = jaccardDocs ++ Seq(
    (8L, "r1 r2 r1 r2 r1 r2 r1 r2", "p"),
    (9L, "r1 r2 r2 r1", "n"))

  private def frame(docs: Seq[(Long, String, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "kind")
  }

  private def jaccardFrame = frame(jaccardDocs)

  /** `docs` read back from parquet, so every step reads a scan. */
  private def parquet(docs: Seq[(Long, String, String)]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jaccard").resolve("docs").toString
    frame(docs).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def jaccardParquet = parquet(jaccardDocs)

  private def shingles(t: String): Set[String] = if (t == null) Set.empty else {
    val w = t.split(" ", -1)
    (0 until w.length - 1).map(i => w(i) + " " + w(i + 1)).toSet
  }

  private def docFreq(docs: Seq[(Long, String, String)]): Map[String, Int] =
    docs.flatMap(d => shingles(d._2)).groupBy(identity).map { case (s, n) => s -> n.size }

  private def hotReference(docs: Seq[(Long, String, String)], cap: Long): Set[String] =
    docFreq(docs).collect { case (s, n) if n > cap => s }.toSet

  /** (a, b, inter, uni) for every probe `a` and document `b != a` sharing a
    * shingle outside the df > cap set, kept at 5 * inter >= uni.
    */
  private def jaccardReference(cap: Long, isProbe: ((Long, String, String)) => Boolean,
                               docs: Seq[(Long, String, String)] = jaccardDocs) = {
    val hot = hotReference(docs, cap)
    val rare = docs.map(d => d._1 -> (shingles(d._2) -- hot)).toMap
    for {
      a <- docs.filter(isProbe).map(_._1)
      b <- docs.map(_._1) if a != b
      inter = (rare(a) intersect rare(b)).size.toLong
      uni = rare(a).size + rare(b).size - inter
      if inter > 0 && 5 * inter >= uni
    } yield (a, b, inter, uni)
  }

  private def jaccardRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  test("ngramJaccard equals a plain reference: df above and at the cap, default cap, probe columns") {
    assert(docFreq(jaccardDocs).values.toSet == Set(1, 2, 3))
    val byKind = Dedup.ngramJaccard(spark, jaccardFrame, 2, col("kind") === "p")
    assert(byKind.columns.toSeq == Seq("a", "b", "inter", "uni"))
    val want = jaccardReference(2, _._3 == "p")
    assert(want.sorted == Seq((1L, 2L, 1L, 5L), (1L, 6L, 1L, 4L), (2L, 1L, 1L, 5L)))
    assert(jaccardRows(byKind) == want.sorted)
    // nothing is dropped at the default cap; the default probe (doc_id % 50 == 0) selects none of these
    val all = Dedup.ngramJaccard(spark, jaccardFrame, probe = lit(true))
    val wantAll = jaccardReference(Long.MaxValue, _ => true)
    assert(wantAll.contains((1L, 2L, 4L, 8L)) && wantAll.contains((6L, 1L, 2L, 7L)))
    assert(jaccardRows(all) == wantAll.sorted)
    assert(Dedup.ngramJaccard(spark, jaccardFrame).collect().isEmpty)
  }

  test("foreachShingle's character ranges equal the string_split word pairs: double, leading and trailing spaces, one word, empty, surrogate pairs") {
    val vocab = Array("", "a", "the", "naïve", "日本語", "😀", "x😀y", "𝄞", "word")
    val rnd = new scala.util.Random(1998)
    val randomTexts = Seq.fill(2000)(Seq.fill(rnd.nextInt(7))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val fixed = Seq("", " ", "  ", "one", "one two", "one  two", " one two", "one two ", "a b c",
      "😀 𝄞", "😀😀 x😀y 𝄞")
    for (t <- fixed ++ randomTexts) {
      val w = t.split(" ", -1)
      val want = (0 until w.length - 1).map(i => w(i) + " " + w(i + 1))
      val got = Seq.newBuilder[String]
      Dedup.foreachShingle(t)((s, e) => got += t.substring(s, e))
      assert(got.result() == want, t)
    }
    assert(randomTexts.count(t => t.split(" ", -1).length < 2) > 100)
    assert(randomTexts.count(_.contains("  ")) > 100)
    assert(randomTexts.count(t => t.startsWith(" ") || t.endsWith(" ")) > 100)
  }

  test("ngramJaccard keeps a shingle whose occurrences pass dfCap while its df does not") {
    val docs = parquet(repeatDocs)
    val df = docFreq(repeatDocs)
    assert(df("r1 r2") == 2 && df("r2 r1") == 2)
    val hot = hotReference(repeatDocs, 2)
    assert(hot == Set("hot x", "s1 s2", "s3 s4"))
    val want = jaccardReference(2, _._3 == "p", repeatDocs)
    assert(want.contains((8L, 9L, 2L, 3L)))
    assert(Dedup.hotAndProbes(docs, 2, col("kind") === "p").hot == hot)
    assert(jaccardRows(Dedup.ngramJaccard(spark, docs, 2, col("kind") === "p")) == want.sorted)
  }

  test("ngramJaccard with one bucket recounts every shingle and equals the reference") {
    val docs = parquet(repeatDocs)
    for ((cap, probe, isProbe) <- Seq[(Long, org.apache.spark.sql.Column, ((Long, String, String)) => Boolean)](
           (2L, col("kind") === "p", _._3 == "p"), (1L, lit(true), _ => true), (0L, lit(true), _ => true))) {
      assert(Dedup.hotAndProbes(docs, cap, probe, buckets = 1).hot == hotReference(repeatDocs, cap), cap)
      var rows = Seq.empty[(Long, Long, Long, Long)]
      val jobs = SparkTestBase.jobDescriptions {
        rows = jaccardRows(Dedup.ngramJaccard(spark, docs, cap, probe, Dedup.ProbeTableBytes, 1))
      }
      assert(rows == jaccardReference(cap, isProbe, repeatDocs).sorted, cap)
      // the one bucket passes every cap here: the bucket count, the recount, the corpus pass
      assert(jobs == Seq("Dedup.ngramJaccard/hot", "Dedup.ngramJaccard/hot", "caller work"), jobs)
    }
  }

  test("past the driver's fan-in the bucket count sums its counters on the executors: bounded result bytes, the same hot pass") {
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(repeatDocs, 40).toDF("doc_id", "text", "kind")
    val arrayBytes = Dedup.HotBuckets * 8L
    def hotPass(fanIn: Int) = {
      var pass: Dedup.HotPass = null
      val seen = SparkTestBase.launched {
        pass = Dedup.hotAndProbes(docs, 2, col("kind") === "p", fanIn = fanIn)
      }
      // the bucket count and the recount
      assert(seen.jobs == Seq("Dedup.ngramJaccard/hot", "Dedup.ngramJaccard/hot"), seen.jobs)
      (pass, seen.resultBytes("Dedup.ngramJaccard/hot"))
    }
    val (direct, directBytes) = hotPass(Dedup.DriverArrays)
    val (tree, treeBytes) = hotPass(4)
    // 40 tasks below the default fan-in each hand the driver an array; a
    // tree of fan-in 4 hands it at most 4 + 3, plus each task's small status
    assert(directBytes >= 40 * arrayBytes, directBytes)
    assert(treeBytes <= (4 + 3) * arrayBytes + 40 * (16L << 10), treeBytes)
    assert(tree.hot == hotReference(repeatDocs, 2) && direct.hot == tree.hot)
    val filtered = docs.filter(col("kind") === "p").select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(tree.probes.toSeq == filtered && direct.probes.toSeq == filtered)
  }

  test("a recount past its budget leaves the hot set to the df aggregate; under it, the pairs sent stay bounded") {
    // 300 docs of 12 words from 60: thousands of distinct shingles, some past each cap
    val rnd = new scala.util.Random(1998)
    val fixture = (0L until 300L).map(i => (i, Seq.fill(12)(s"w${rnd.nextInt(60)}").mkString(" "), "n"))
    val docs = parquet(fixture)
    val occurrences = fixture.size * 11L
    assert(docFreq(fixture).size > 2000)
    for (cap <- Seq(0L, 1L, 3L)) {
      val want = hotReference(fixture, cap)
      assert(want.nonEmpty && want.size < docFreq(fixture).size || cap == 0, cap)
      // one bucket holds every occurrence: a budget of exactly that many recounts
      val all = Dedup.hotAndProbes(docs, cap, lit(false), buckets = 1, recountBudget = occurrences)
      assert(all.hot == want && all.recounted > 0 && all.recounted <= occurrences, cap)
      val capped = Dedup.hotAndProbes(docs, cap, lit(false), buckets = 1, recountBudget = occurrences - 1)
      assert(capped.hot == want && capped.recounted == 0, cap)
      val byDefault = Dedup.hotAndProbes(docs, cap, lit(false))
      assert(byDefault.hot == want && byDefault.recounted <= Dedup.RecountBudget, cap)
    }
  }

  test("ngramJaccard at the default cap runs no recount: 2 jobs") {
    val docs = jaccardParquet
    var rows = Seq.empty[(Long, Long, Long, Long)]
    val jobs = SparkTestBase.jobDescriptions {
      rows = jaccardRows(Dedup.ngramJaccard(spark, docs, probe = col("kind") === "p"))
    }
    assert(rows == jaccardReference(Long.MaxValue, _._3 == "p").sorted)
    assert(jobs == Seq("Dedup.ngramJaccard/hot", "caller work"), jobs)
  }

  test("ngramJaccard reads a null probe as false: the same probes, in the same order, as filter(probe)") {
    import spark.implicits._
    val docs = parquet(repeatDocs)
    // true on the "p" docs, false on doc 3, null on the rest
    val probe = when(col("kind") === "p", true).when(col("doc_id") === 3L, false)
    val nulls = docs.select(probe.isNull.as("n")).as[Boolean].collect()
    assert(nulls.count(identity) == repeatDocs.count(d => d._3 != "p" && d._1 != 3L))
    val filtered = docs.filter(probe).select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(Dedup.hotAndProbes(docs, 2, probe).probes.toSeq == filtered)
    assert(filtered.map(_._1).sorted == repeatDocs.filter(_._3 == "p").map(_._1))
    assert(jaccardRows(Dedup.ngramJaccard(spark, docs, 2, probe)) ==
      jaccardReference(2, _._3 == "p", repeatDocs).sorted)
  }

  test("hotShingles' n_dropped is the size of the hot set ngramJaccard drops") {
    val all = Dedup.HotBuckets
    val cases = Seq((jaccardDocs, 2L, all), (repeatDocs, 2L, all), (repeatDocs, 1L, all),
      (repeatDocs, 2L, 1), (repeatDocs, 0L, 1), (repeatDocs, Long.MaxValue, all),
      (repeatDocs, Long.MaxValue, 1))
    for ((fixture, cap, buckets) <- cases) {
      val docs = parquet(fixture)
      val hot = Dedup.hotAndProbes(docs, cap, lit(false), buckets).hot
      val dropped = Dedup.hotShingles(spark, docs, cap).head().getLong(0)
      assert(hot == hotReference(fixture, cap), (cap, buckets))
      assert(dropped == hot.size, (cap, buckets))
    }
    assert(Dedup.hotShingles(spark, parquet(repeatDocs), Long.MaxValue).head().getLong(0) == 0)
  }

  /** 300 docs of 12 words from 60: thousands of distinct shingles, a few
    * hundred held by more than one doc.
    */
  private lazy val randomDocs = {
    val rnd = new scala.util.Random(1998)
    (0L until 300L).map(i => (i, Seq.fill(12)(s"w${rnd.nextInt(60)}").mkString(" "), "n"))
  }

  /** (n_dropped, max_df) of a plain df count: both None with no shingle. */
  private def droppedReference(docs: Seq[(Long, String, String)], cap: Long): (Option[Long], Option[Long]) = {
    val df = docFreq(docs)
    if (df.isEmpty) (None, None) else (Some(df.count(_._2 > cap).toLong), Some(df.values.max.toLong))
  }

  private def droppedRow(df: org.apache.spark.sql.DataFrame): (Option[Long], Option[Long]) = {
    val rows = df.collect()
    assert(rows.length == 1 && df.columns.toSeq == Seq("n_dropped", "max_df"))
    def at(i: Int) = if (rows(0).isNullAt(i)) None else Some(rows(0).getLong(i))
    (at(0), at(1))
  }

  test("hotShingles equals a plain df count: caps, one bucket and all, both sides of the recount budget") {
    // in repeatDocs the fullest bucket, "r1 r2" (5 occurrences, df 2), is
    // not the one of the largest df, 3
    assert(docFreq(randomDocs).values.max >= 4 && docFreq(repeatDocs).values.max == 3)
    val recounted = Seq.newBuilder[(Long, Int)]
    for (fixture <- Seq(randomDocs, repeatDocs)) {
      val docs = parquet(fixture)
      val maxDf = docFreq(fixture).values.max.toLong
      for (cap <- Seq(0L, 1L, 3L, maxDf, maxDf + 1, Long.MaxValue); buckets <- Seq(1, Dedup.HotBuckets)) {
        val want = droppedReference(fixture, cap)
        val pass = Dedup.hotAndProbes(docs, cap, lit(false), buckets)
        assert(pass.dfs == docFreq(fixture).collect { case (s, n) if n > cap => s -> n.toLong }, (cap, buckets))
        val passing = pass.counts.iterator.filter(_ > cap).sum
        if (passing > 0) recounted += ((cap, buckets))
        assert(droppedRow(Dedup.hotShingles(spark, docs, cap)) == want, (cap, buckets))
        // a budget of the passing occurrences recounts through the driver, one below through the aggregate
        for (budget <- Seq(passing, passing - 1, Dedup.RecountBudget))
          assert(droppedRow(Dedup.hotShingles(spark, docs, cap, buckets, budget)) == want, (cap, buckets, budget))
      }
    }
    assert(recounted.result().map(_._2).toSet == Set(1, Dedup.HotBuckets), recounted.result())
    // no shingle at all: null, as sum and max over no rows
    val oneWord = Seq((1L, "alpha", "n"), (2L, "beta", "n"), (3L, "alpha", "n"), (4L, "", "n"))
    assert(droppedReference(oneWord, 0) == (None, None))
    for (cap <- Seq(0L, Long.MaxValue); buckets <- Seq(1, Dedup.HotBuckets))
      assert(droppedRow(Dedup.hotShingles(spark, parquet(oneWord), cap, buckets, Dedup.RecountBudget)) == (None, None))
  }

  test("a null text has no shingles: ngramJaccard and hotShingles equal the reference") {
    val docs = repeatDocs ++ Seq((10L, null, "p"), (11L, null, "n"))
    for (in <- Seq(frame(docs), parquet(docs))) {
      assert(in.filter(col("text").isNull).count() == 2)
      for ((cap, probe, isProbe) <- Seq[(Long, org.apache.spark.sql.Column, ((Long, String, String)) => Boolean)](
             (2L, col("kind") === "p", _._3 == "p"), (Long.MaxValue, lit(true), _ => true))) {
        assert(jaccardRows(Dedup.ngramJaccard(spark, in, cap, probe)) == jaccardReference(cap, isProbe, docs).sorted, cap)
        assert(droppedRow(Dedup.hotShingles(spark, in, cap)) == droppedReference(docs, cap), cap)
        // the recount through the aggregate reads the null rows too
        assert(droppedRow(Dedup.hotShingles(spark, in, cap, 1, 0)) == droppedReference(docs, cap), cap)
      }
      assert(Dedup.shingled(spark, in).filter(col("doc_id") >= 10L).count() == 0)
    }
  }

  test("hotShingles and ngramJaccard shuffle nothing under the recount budget; past it one aggregate of the passing shingles") {
    val docs = parquet(randomDocs)
    val distinct = docFreq(randomDocs).size
    val plans = executedPlans {
      for (cap <- Seq(1L, 3L, Long.MaxValue)) {
        droppedRow(Dedup.hotShingles(spark, docs, cap))
        jaccardRows(Dedup.ngramJaccard(spark, docs, cap, col("doc_id") % 7 === 0))
      }
    }
    // the bucket counts and the recounts (the max_df ones included) and the corpus passes
    assert(plans.size >= 12, plans.size)
    assert(count(plans) { case _: Exchange => 1 } == 0, plans)
    for (cap <- Seq(1L, 3L)) {
      val passing = Dedup.hotAndProbes(docs, cap, lit(false)).counts.iterator.filter(_ > cap).sum
      assert(passing > 0 && passing < randomDocs.size * 11L, (cap, passing))
      var got = (Option.empty[Long], Option.empty[Long])
      var aggregatePlans = Seq.empty[SparkPlan]
      val seen = SparkTestBase.launched {
        aggregatePlans = executedPlans {
          got = droppedRow(Dedup.hotShingles(spark, docs, cap, Dedup.HotBuckets, passing - 1))
        }
      }
      assert(got == droppedReference(randomDocs, cap), cap)
      assert(count(aggregatePlans) { case _: Exchange => 1 } == 1, aggregatePlans)
      val records = seen.shuffleRecords.getOrElse("Dedup.ngramJaccard/hot", 0L)
      assert(records > 0 && records <= passing && records < distinct, (cap, records, passing, distinct))
    }
    // the recount reads the bucket count's rows: an input shuffle runs once a hot pass
    val shuffled = docs.repartition(4, col("doc_id"))
    var pass: Dedup.HotPass = null
    val once = SparkTestBase.launched { pass = Dedup.hotAndProbes(shuffled, 1L, lit(false)) }
    assert(pass.dfs.nonEmpty && pass.recounted > 0)
    assert(once.shuffleRecords.get("Dedup.ngramJaccard/hot").contains(randomDocs.size.toLong), once)
  }

  test("ngramJaccard tags its hot-set collect; caller's group and description kept") {
    val docs = jaccardParquet
    var rows = Seq.empty[(Long, Long, Long, Long)]
    val seen = SparkTestBase.launched {
      rows = jaccardRows(Dedup.ngramJaccard(spark, docs, 2, col("kind") === "p"))
    }
    assert(rows.size == 3)
    // the hot pass (the bucket count and the recount), then only the caller's corpus pass
    assert(seen.jobs == Seq("Dedup.ngramJaccard/hot", "Dedup.ngramJaccard/hot", "caller work"), seen.jobs)
    val (hot, rest) = seen.stages.span(_._1 == "Dedup.ngramJaccard/hot")
    assert(hot.size == 2 && hot.forall(_._2 == "Dedup.ngramJaccard/hot"), seen.stages)
    assert(rest.nonEmpty && rest.forall(_ == ("caller work", "caller site")), seen.stages)
  }

  test("ngramJaccard cut into probe batches by a small table budget equals the reference") {
    val docs = jaccardParquet
    // a 1-byte budget puts each probe in a batch of its own: one corpus pass per probe
    for ((probe, isProbe, cap) <- Seq[(org.apache.spark.sql.Column, ((Long, String, String)) => Boolean, Long)](
           (col("kind") === "p", _._3 == "p", 2L), (lit(true), _ => true, Long.MaxValue))) {
      val j = Dedup.ngramJaccard(spark, docs, cap, probe, tableBytes = 1, buckets = Dedup.HotBuckets)
      assert(jaccardRows(j) == jaccardReference(cap, isProbe).sorted)
      val passes = collect(j.queryExecution.executedPlan) { case m: MapPartitionsExec => m }.size
      assert(passes == jaccardDocs.count(isProbe), j.queryExecution.executedPlan)
    }
    // a budget that holds every probe keeps one pass
    val one = Dedup.ngramJaccard(spark, docs, Long.MaxValue, lit(true), tableBytes = 1L << 20, buckets = Dedup.HotBuckets)
    assert(jaccardRows(one) == jaccardReference(Long.MaxValue, _ => true).sorted)
    assert(collect(one.queryExecution.executedPlan) { case m: MapPartitionsExec => m }.size == 1)
  }

  test("ngramJaccard scans the corpus three times, with no exchange, join or aggregate in any plan") {
    val docs = jaccardParquet
    var rows = Seq.empty[(Long, Long, Long, Long)]
    val plans = executedPlans {
      rows = jaccardRows(Dedup.ngramJaccard(spark, docs, 2, col("kind") === "p"))
    }
    assert(rows == jaccardReference(2, _._3 == "p").sorted)
    // the bucket count, the recount and the corpus pass each read the
    // whole corpus: no scan carries a data filter
    assert(plans.size == 3, plans)
    assert(count(plans) { case s: FileSourceScanExec if s.dataFilters.isEmpty => 1 } == 3, plans)
    assert(count(plans) { case _: FileSourceScanExec => 1 } == 3, plans)
    assert(count(plans) {
      case _: Exchange | _: BaseJoinExec | _: BaseAggregateExec => 1
    } == 0, plans)
  }
}
