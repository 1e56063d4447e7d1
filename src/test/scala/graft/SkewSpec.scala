package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** AQE skew handling (north rule): a join with one pathological hot key is
  * split at runtime by OptimizeSkewedJoin — no manual salting needed on the
  * join path (salting remains for the map-side case, PipelineSpec).
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("AQE splits a skewed sort-merge join at runtime") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")

      // left: 100k rows on ONE key + a sprinkle of others; right: small dim
      val left = spark.range(100000).select(
        when(col("id") % 100 === 0, col("id") % 50).otherwise(lit(7L)).as("k"),
        concat(lit("payload-payload-payload-"), col("id")).as("v"))
      val right = spark.range(50).select(col("id").as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // execute THIS queryExecution (count() would spawn a separate one
      // and leave this plan un-finalized by AQE)
      assert(joined.collect().length == 100000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split markers in:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("minhash bucket cap bounds a templated-document hot bucket, reported") {
    import spark.implicits._
    // 300 byte-identical templated docs: every band bucket is shared by all
    val docs = ((0 until 300).map(i => (i.toLong, "the same template text here")) ++
      (300 until 350).map(i => (i.toLong, s"unique content number $i with words")))
      .toDF("doc_id", "text")
    val cap = 20
    val pairs = graft.operators.Dedup.minhashPairs(spark, docs, cap)
    // uncapped would be C(300,2)=44850 pairs from the hot bucket alone;
    // capped: only the 20 lowest-id templated docs pair up -> C(20,2)
    assert(pairs.filter(col("a") < 300 && col("b") < 300).count() == 190)
    val hot = graft.operators.Dedup.hotBuckets(spark, docs, cap)
    assert(hot.filter(col("n_members") > col("n_kept")).count() > 0)
  }

  test("minhashPairs signature-collapsed banding emits the identical pair set (uncapped)") {
    import spark.implicits._
    import graft.operators.Dedup
    // mixed corpus: one exact-dup group, a cloud of near-dups sharing some
    // bands, and uniques — the shapes the collapse must not change
    val rows = (0 until 40).map { i =>
      val t =
        if (i < 12) "alpha beta gamma delta epsilon zeta eta theta"
        else if (i < 20) s"alpha beta gamma delta epsilon zeta eta v$i"
        else s"unique text number $i with words w${i * 7} x${i * 13} y${i * 29}"
      (i.toLong, t)
    }
    val docs = rows.toDF("doc_id", "text")
    val got = Dedup.minhashPairs(spark, docs).as[(Long, Long)].collect()
    // reference: the old member-level banding, computed in memory
    val buckets = scala.collection.mutable.Map.empty[String, List[Long]]
    rows.foreach { case (id, t) =>
      Dedup.bandKeys(Dedup.minhashSig(t)).foreach { k =>
        buckets(k) = id :: buckets.getOrElse(k, Nil)
      }
    }
    val ref = buckets.values.flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
    }.toSet
    assert(got.toSet === ref, "pair set must match member-level banding")
    assert(got.length === got.toSet.size, "no duplicate pair rows")
    // the exact-dup group must contribute its full within-group pair set
    assert(got.count { case (a, b) => a < 12 && b < 12 } === 12 * 11 / 2)
  }

  test("bounded-heap cap == row_number cap semantics, with NO window sort in the plan") {
    import spark.implicits._
    // adversarial: one hot group (7) with 50k members, plus sparse groups
    val rows = spark.range(50000).select(
      when(col("id") % 1000 === 0, col("id") % 13).otherwise(lit(7L)).as("bucket"),
      // ids arrive in a scrambled order so 'lowest cap ids' is a real selection
      ((col("id") * 48271) % 100003).as("doc_id"))
    val cap = 100
    val viaAgg = rows.groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(cap)(col("doc_id")).as("ids"))
      .select(col("bucket"), explode(col("ids")).as("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket").orderBy("doc_id")
    val viaWindow = rows.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap).drop("rk")
    // identical kept sets (distinct: the scramble can collide doc_ids, and
    // row_number keeps a duplicated value twice while the heap keeps values)
    assert(viaAgg.distinct().except(viaWindow.distinct()).count() == 0)
    assert(viaWindow.distinct().except(viaAgg.distinct()).count() == 0)
    // the scale claim: the capped path is an ObjectHashAggregate (map-side
    // partial) — no Window operator, no full-bucket sort on one task
    viaAgg.collect()
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"window sort crept back into:\n${plan.take(1500)}")
  }

  test("connected components collapse transitive near-dup chains (both paths)") {
    import spark.implicits._
    import graft.operators.Dedup
    // a-b, b-c (transitive, A~C never proposed), d-e, isolated pair f-g —
    // checked through BOTH the small-graph union-find fast path (default)
    // and the distributed label-propagation loop (localEdgeMax = 0)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    for (localMax <- Seq(Long.MaxValue, 0L)) {
      val cc = Dedup.connectedComponents(pairs, localEdgeMax = localMax)
        .as[(Long, Long)].collect().toMap
      assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L)
      assert(cc(10L) == 10L && cc(11L) == 10L)
      assert(cc(20L) == 20L && cc(21L) == 20L)
    }
    // a LONG chain (diameter 120 >> maxIters) must converge via pointer
    // jumping — plain one-hop propagation would hit the iteration bound;
    // forced onto the DISTRIBUTED path, which the fast path must not hide
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("a", "b")
    val ccChain = Dedup.connectedComponents(chain, localEdgeMax = 0)
      .as[(Long, Long)].collect().toMap
    assert(ccChain.values.toSet == Set(1L) && ccChain.size == 120)
    // and the fast path agrees on the same chain
    val ccLocal = Dedup.connectedComponents(chain).as[(Long, Long)].collect().toMap
    assert(ccLocal == ccChain)
  }

  test("union-find fast path equals distributed CC on random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    // seeded random sparse graphs: many components of varied shapes —
    // both paths must emit the identical (node -> min-reachable) labeling
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 120 + trial * 40
      val pairs = (1 to n * 3 / 2)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .toDF("a", "b")
      val local = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.connectedComponents(pairs, localEdgeMax = 0)
        .as[(Long, Long)].collect().toMap
      assert(local == dist, s"trial $trial: paths diverge")
      // labels are component minima: every label labels itself
      assert(local.forall { case (_, l) => local(l) == l })
    }
  }

  /** Descriptions of the jobs `body` launches under a fresh job group whose
    * caller description is "caller work"; checks that both survive `body`.
    */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"caller-${java.util.UUID.randomUUID}"
    val sentinel = s"sentinel-$group"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).contains(group)) {
          val d = props.map(_.getProperty("spark.job.description")).orNull
          if (d == sentinel) sentinelSeen.countDown() else seen.add(String.valueOf(d))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller work", interruptOnCancel = false)
      body
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("spark.job.description") == "caller work")
      // listener events arrive in order: once the sentinel job is seen, so
      // are all of body's jobs
      sc.setJobDescription(sentinel)
      sc.parallelize(1 to 2).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      seen.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("CC small-graph path is one Spark job, tagged gate; caller's group and description kept") {
    import spark.implicits._
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    var cc = Map.empty[Long, Long]
    val jobs = jobDescriptions {
      cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    }
    assert(jobs == Seq("Dedup.connectedComponents/gate"))
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("CC tags the distributed rounds; a partition past its share costs one more gate job") {
    import spark.implicits._
    import graft.operators.Dedup
    val chain = (1L until 12L).map(i => (i, i + 1))
    var dist = Map.empty[Long, Long]
    val distJobs = jobDescriptions {
      dist = Dedup.connectedComponents(chain.toDF("a", "b"), localEdgeMax = 0)
        .as[(Long, Long)].collect().toMap
    }
    assert(dist == (1L to 12L).map(_ -> 1L).toMap)
    // gate, then rounds 1..N in order, then the caller's own collect
    val tagged = distJobs.filter(_.startsWith("Dedup.connectedComponents/"))
    assert(tagged.head == "Dedup.connectedComponents/gate")
    val rounds = tagged.dropWhile(_.endsWith("/gate")).map(_.stripPrefix("Dedup.connectedComponents/round-").toInt)
    assert(rounds.nonEmpty && rounds.distinct == (1 to rounds.max) && rounds == rounds.sorted)
    assert(distJobs.forall(d => d.startsWith("Dedup.connectedComponents/") || d == "caller work"))
    // all 11 edges in one of 3 partitions: under the bound (12), past the
    // partition's share (12 / 3 + 1 = 5), so a second gate job fetches it
    val skewed = spark.sparkContext.parallelize(Seq(chain, Nil, Nil), 3).flatMap(identity).toDF("a", "b")
    var local = Map.empty[Long, Long]
    val skewedJobs = jobDescriptions {
      local = Dedup.connectedComponents(skewed, localEdgeMax = 12).as[(Long, Long)].collect().toMap
    }
    assert(skewedJobs == Seq.fill(2)("Dedup.connectedComponents/gate"))
    assert(local == dist)
  }
}
