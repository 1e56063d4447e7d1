package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.BoundedMinIds

/** The native bounded-heap aggregate behind `minIds`: its byte buffer,
  * its merge of partial buffers, nulls and the smallest cap — each against
  * the plain "sort, take cap" definition.
  */
class BoundedMinIdsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def agg(cap: Int) = BoundedMinIds(BoundReference(0, LongType, nullable = true), cap)

  private def fill(a: BoundedMinIds, vs: Seq[Long]): BoundedMinIds.Heap =
    vs.foldLeft(a.createAggregationBuffer())((b, v) => a.update(b, InternalRow(v)))

  private def result(a: BoundedMinIds, b: BoundedMinIds.Heap): Seq[Long] =
    a.eval(b).asInstanceOf[ArrayData].toLongArray().toSeq

  private val values = {
    val rnd = new scala.util.Random(11)
    // duplicates included: the heap keeps the cap smallest of the multiset
    Seq.fill(5000)(rnd.nextInt(3000).toLong - 1000)
  }

  test("a buffer survives its byte form: same heap, same result, and it keeps growing after") {
    for (cap <- Seq(1, 7, 100, 10000); n <- Seq(0, 1, 50, 5000)) {
      val a = agg(cap)
      val b = fill(a, values.take(n))
      val back = a.deserialize(a.serialize(b))
      assert(back.n == b.n && back.heap.take(back.n).toSeq == b.heap.take(b.n).toSeq, s"cap $cap n $n")
      assert(result(a, back) == values.take(n).sorted.take(cap))
      // a deserialized buffer is a full heap: it keeps accepting values
      val more = values.drop(n).take(40)
      assert(result(a, more.foldLeft(back)((h, v) => a.update(h, InternalRow(v)))) ==
        (values.take(n) ++ more).sorted.take(cap), s"cap $cap n $n, after")
    }
  }

  test("merging 8 partial buffers equals one buffer over all the input") {
    for (cap <- Seq(1, 3, 64, 10000)) {
      val a = agg(cap)
      val parts = values.grouped(values.size / 8).toSeq.map(vs => a.deserialize(a.serialize(fill(a, vs))))
      assert(parts.size == 8)
      // into an empty buffer read back from its bytes: it grows from no slots
      val merged = parts.foldLeft(a.deserialize(a.serialize(a.createAggregationBuffer())))(a.merge)
      assert(result(a, merged) == values.sorted.take(cap), s"cap $cap")
    }
    // the same through Spark: 8 map-side partials per group, merged after the shuffle
    import spark.implicits._
    val df = values.zipWithIndex.map { case (v, i) => (i % 3, v) }.toDF("g", "v").repartition(8)
    val got = df.groupBy("g").agg(BoundedMinIds.minIds(5)(col("v")).as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    val want = values.zipWithIndex.groupBy(_._2 % 3).map { case (g, vs) => g -> vs.map(_._1).sorted.take(5) }
    assert(got == want)
  }

  test("null inputs are skipped; a group of nulls only yields an empty array") {
    import spark.implicits._
    val df = Seq[(Int, Option[Long])]((1, None), (1, Some(9L)), (1, Some(4L)), (1, None), (2, None))
      .toDF("g", "v")
    val got = df.groupBy("g").agg(BoundedMinIds.minIds(3)(col("v")).as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(got == Map(1 -> Seq(4L, 9L), 2 -> Seq.empty[Long]))
    val a = agg(3)
    assert(result(a, a.update(a.createAggregationBuffer(), InternalRow(null))).isEmpty)
  }

  test("cap 1 keeps the minimum of each group; SQL form") {
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 7).as("g"), ((col("id") * 31) % 997).as("v"))
    val got = df.groupBy("g").agg(BoundedMinIds.minIds(1)(col("v")).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val want = (0L until 1000L).groupBy(_ % 7).map { case (g, ids) => g -> Seq(ids.map(i => (i * 31) % 997).min) }
    assert(got == want)
    df.createOrReplaceTempView("min_ids_input")
    assert(spark.sql("SELECT g, graft_min_ids(v, 2) AS ids FROM min_ids_input GROUP BY g")
      .as[(Long, Seq[Long])].collect().toMap.map { case (g, ids) => g -> ids.take(1) } == want)
    assert(intercept[Exception](BoundedMinIds.minIds(0)(col("v"))).getMessage.contains("cap"))
  }
}
