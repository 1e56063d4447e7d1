package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Dedup

/** Plan shape and exactness of the MinHash dedup operators: one
  * `minhashPairs` call reads and signs its input once, and `editVerify`
  * runs one thresholded Levenshtein DP per candidate pair.
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

  test("editVerify's final plan evaluates Levenshtein once") {
    val (docs, candidates) = editInputs
    val ev = Dedup.editVerify(docs, candidates, maxDist)
    ev.collect() // finalize THIS query execution's adaptive plan
    val evaluations = collect(ev.queryExecution.executedPlan) { case p =>
      p.expressions.map(_.collect { case l: Levenshtein => l }.size).sum
    }.sum
    assert(evaluations == 1, ev.queryExecution.executedPlan.toString)
  }
}
