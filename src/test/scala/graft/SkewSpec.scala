package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** AQE skew handling (north rule): a join with one pathological hot key is
  * split at runtime by OptimizeSkewedJoin — no manual salting needed on the
  * join path (salting remains for the map-side case, PipelineSpec).
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.jobDescriptions

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
    // the loss is the templated signature group: 300 members, 20 kept
    assert(hot.filter(col("unit") === "signature").select("n_members", "n_kept")
      .as[(Long, Long)].collect().toSeq == Seq((300L, 20L)))

    // 60 docs over 3 near-dup signatures sharing a band bucket: the bucket
    // holds 60 members but only 3 distinct signatures and no group passes
    // the cap, so minhashPairs keeps every pair and nothing is reported
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val texts = Seq("", " upsilon", " phi").map(base + _)
    val sigs = texts.map(t => graft.operators.Dedup.minhashSig(t).toSeq)
    assert(sigs.distinct.size == 3 &&
      sigs.map(s => graft.operators.Dedup.bandKeys(s.toArray).toSet).reduce(_ intersect _).nonEmpty,
      "fixture: three distinct signatures sharing a band bucket")
    val spread = (0 until 60).map(i => (i.toLong, texts(i % 3))).toDF("doc_id", "text")
    val spreadPairs = graft.operators.Dedup.minhashPairs(spark, spread, cap)
    assert(spreadPairs.count() == 60 * 59 / 2)
    assert(graft.operators.Dedup.hotBuckets(spark, spread, cap).count() == 0)
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

  /** The documented cap semantics of `minhashPairs`, in memory: each
    * signature group keeps its `cap` lowest ids, each band bucket its `cap`
    * lowest representatives (a group's min id), and a rep pair sharing a
    * bucket expands to every pair of the two groups' kept members.
    */
  private def cappedPairs(rows: Seq[(Long, String)], cap: Int): Set[(Long, Long)] = {
    import graft.operators.Dedup
    val groups = rows.groupBy { case (_, t) => Dedup.minhashSig(t).toSeq }
      .map { case (sig, rs) => sig -> rs.map(_._1).sorted }
    val kept = groups.values.map(ids => ids.head -> ids.take(cap)).toMap
    def pairs(xs: Seq[Long]) = for (i <- xs.indices; j <- (i + 1) until xs.length) yield (xs(i), xs(j))
    val within = kept.values.flatMap(pairs)
    val repPairs = groups.toSeq
      .flatMap { case (sig, ids) => Dedup.bandKeys(sig.toArray).map(_ -> ids.head) }
      .groupBy(_._1).values
      .flatMap(reps => pairs(reps.map(_._2).sorted.take(cap)))
      .toSet
    val cross = repPairs.flatMap { case (ra, rb) =>
      for (a <- kept(ra); b <- kept(rb)) yield (math.min(a, b), math.max(a, b))
    }
    within.toSet ++ cross
  }

  test("minhashPairs at and past the caps equals the in-memory cap semantics") {
    import spark.implicits._
    import graft.operators.Dedup
    // band neighbours: the base text and the one-word variants sharing its
    // most shared band bucket
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val variants = Seq("upsilon", "phi", "chi", "psi", "omega", "iota", "kappa", "lambda", "mu", "nu")
      .map(w => s"$base $w")
    val bucketOf = (t: String) => Dedup.bandKeys(Dedup.minhashSig(t)).toSet
    val hot = bucketOf(base).maxBy(k => variants.count(v => bucketOf(v)(k)))
    val neighbours = base +: variants.filter(v => bucketOf(v)(hot)).take(3)
    assert(neighbours.size == 4 && neighbours.map(Dedup.minhashSig(_).toSeq).distinct.size == 4,
      "fixture: four distinct signatures sharing one band bucket")
    // four exact-dup groups of 20, 25, 25 and 30 members, their ids
    // scrambled so the lowest ids are a real selection; then near-dups of
    // another text, and uniques
    val dupTexts = neighbours.zip(Seq(20, 25, 25, 30)).flatMap { case (t, n) => Seq.fill(n)(t) }
    val near = (0 until 12).map(i => s"one two three four five six seven w${i % 4}")
    val uniques = (0 until 20).map(i => s"unique text number $i with words w${i * 7} x${i * 13}")
    val texts = dupTexts ++ near ++ uniques
    val rows = texts.indices.map(i => ((i * 37L) % 1009L, texts(i)))
    assert(rows.map(_._1).distinct.size == rows.size)
    val docs = rows.toDF("doc_id", "text")
    for (cap <- Seq(1, 2, 3, 20, 10000)) {
      val got = (if (cap == 10000) Dedup.minhashPairs(spark, docs) else Dedup.minhashPairs(spark, docs, cap))
        .as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"cap $cap: duplicate pair rows")
      assert(got.toSet == cappedPairs(rows, cap), s"cap $cap")
    }
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
