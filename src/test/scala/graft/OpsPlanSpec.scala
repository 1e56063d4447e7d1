package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guarantees for the session's corpus ops: the rarest-terms
  * top-k must ride the WindowGroupLimit pushdown (never a full per-doc
  * full per-doc sort), and overlapping chunking must stay exchange-free.
  */
class OpsPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("rareTerms: per-doc top-3 by ascending df, WindowGroupLimit in plan") {
    val df = Queries.rareTerms(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // at most 3 per doc, ranks 1..3, df ascending within a doc
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_.getLong(2)).toSeq == sorted.map(_.getLong(2)).sorted.toSeq)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected the rank filter to push down:\n${plan.take(1500)}")
  }

  test("bpeMerges: two rounds match a direct in-memory BPE trainer") {
    val rows = Queries.bpeMerges(spark, sf).collect()
    assert(rows.length == 2)
    // independent trainer: plain Scala maps, no separators trick
    val texts = graft.core.Corpus.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    var freqs: Map[Vector[String], Long] = texts.iterator
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty).toSeq
      .groupBy(identity).map { case (w, g) => (w.map(_.toString).toVector, g.size.toLong) }
    def topPair: (String, String, Long) = {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      freqs.foreach { case (syms, f) =>
        syms.indices.dropRight(1).foreach { i =>
          counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
        }
      }
      val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      (l, r, c)
    }
    def applyMerge(l: String, r: String): Unit =
      freqs = freqs.groupMapReduce { case (syms, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2 // greedy left-to-right, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }(_._2)(_ + _)
    val m1 = topPair
    assert((rows(0).getString(1), rows(0).getString(2), rows(0).getLong(3)) == m1)
    applyMerge(m1._1, m1._2)
    val m2 = topPair
    assert((rows(1).getString(1), rows(1).getString(2), rows(1).getLong(3)) == m2)
  }

  test("substrDedup: matches a direct in-memory interval merge; no Window op") {
    val df = Queries.substrDedup(spark, sf)
    val rows = df.collect().map(r =>
      (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    // independent twin: brute-force window counts + interval merge
    val L = 15
    val texts = graft.core.Corpus.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val counts = scala.collection.mutable.Map.empty[String, Int]
    texts.foreach { case (_, w) =>
      (0 to w.length - L).foreach { i =>
        val s = w.slice(i, i + L).mkString(" ")
        counts(s) = counts.getOrElse(s, 0) + 1
      }
    }
    val expect = texts.flatMap { case (id, w) =>
      val ps = (0 to w.length - L).filter(i => counts(w.slice(i, i + L).mkString(" ")) >= 2)
      if (ps.isEmpty) None
      else {
        var k = 0L; var e = -1; var c = 0L
        ps.foreach { p =>
          if (p >= e) { k += 1; c += L } else c += p + L - e
          e = p + L
        }
        Some(id -> ((ps.length.toLong, k, c)))
      }
    }.toMap
    assert(rows == expect)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), // interval merge is an aggregate, never a per-doc sort window
      s"substrDedup must not use window functions:\n${plan.take(1500)}")
    // the token-level shuffle keys are 8-byte integers, not hex strings
    assert(df.queryExecution.optimizedPlan.toString.contains("xxhash64"),
      "anchors must be 64-bit integer hashes")
    // the application half agrees: tokens removed == dup_tokens, docs
    // without duplicates keep their text verbatim
    val cleaned = Queries.substrClean(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    texts.foreach { case (id, w) =>
      val kept = if (cleaned(id).isEmpty) 0 else cleaned(id).split(" ", -1).length
      val removed = rows.get(id).map(_._3).getOrElse(0L)
      assert(kept.toLong == w.length - removed, s"doc $id: $kept kept, $removed removed")
      if (!rows.contains(id)) assert(cleaned(id) == w.mkString(" "))
    }
  }

  test("tokenBudget: bucket decomposition matches a direct global running sum") {
    val rows = Queries.tokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // independent twin: one global running sum over the sha2 shuffle order
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def key(id: Long): String =
      sha.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.core.Corpus.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(d => key(d._1))
    var cum = 0L
    val expect = docs.flatMap { case (id, n) =>
      cum += n
      if (cum <= 12000L) Some((id, n, cum)) else None
    }
    assert(rows.sortBy(_._3).toSeq == expect.toSeq)
    // the corpus-sized window is PARTITIONED (by bucket) — the only
    // unpartitioned window is the ~sqrt(n)-row bucket-offset frame
    val q = Queries.tokenBudget(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(bucket"),
      s"running sum must partition by bucket:\n${plan.take(1500)}")
    // budget-exceeded buckets are pruned BEFORE the running-sum window
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("boff") && opt.contains("<= 12000"),
      s"bucket offsets past the budget must filter out pre-window:\n${opt.take(2000)}")
    // the prefix width DERIVES from corpus size: 16^w ~ sqrt(n)
    assert(Queries.tokenBudgetPrefixWidth(500L) == 2)      // sf0.001
    assert(Queries.tokenBudgetPrefixWidth(65536L) == 2)    // 256 buckets up to ~65k
    assert(Queries.tokenBudgetPrefixWidth(100000000L) == 4)   // 10^8 -> 64k buckets
    assert(Queries.tokenBudgetPrefixWidth(1000000000000L) == 5) // 10^12 -> 1M buckets
  }

  test("embedQuant: exchange-free map-only plan; quantized range bounded") {
    val df = Queries.embedQuant(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= -127 && r.getLong(3) <= 127) // q in [-127,127]
      assert(r.getLong(5) >= 0) // norm2 non-negative
      // at least one component saturates to +/-127 (scale = max|x|)
      assert(r.getLong(3) == 127 || r.getLong(2) == -127)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quantization must not shuffle:\n${plan.take(1500)}")
  }

  test("perplexity: matches a direct in-memory bigram LM; no Window op") {
    val df = Queries.perplexity(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // independent model: plain Scala maps over the same corpus
    val texts = graft.core.Corpus.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).filter(_.nonEmpty).toSeq))
    val bigrams = texts.flatMap { case (id, ws) => ws.sliding(2).collect {
      case Seq(a, b) => (id, a, b) } }
    val c2 = bigrams.groupBy(t => (t._2, t._3)).map { case (k, g) => (k, g.length.toLong) }
    val c1 = bigrams.groupBy(_._2).map { case (k, g) => (k, g.length.toLong) }
    val v = texts.flatMap(_._2).distinct.length.toLong
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val bits = bs.map { case (_, a, b) =>
        java.lang.Long.toBinaryString((c1(a) + v) / (c2((a, b)) + 1L)).length.toLong }.sum
      (id, (bs.length.toLong, bits, bits * 100 / bs.length))
    }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, bits, mean) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == bits && r.getLong(3) == mean)
    }
    // adjacency comes from the per-doc token array (slice+zip), never a
    // lag() Window — the one shape that would serialize per-doc scoring
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window expected:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastExchange"), "V must broadcast as 1 row")
  }

  test("decontamBloom: bit-identical to exact op; prefilter actually drops") {
    import org.apache.spark.sql.functions._
    val all = graft.core.Corpus.documents(spark, sf)
    val corpus = all.filter(col("doc_id") % 97 =!= 0)
    val bench = all.filter(col("doc_id") % 97 === 0)
    val exact = graft.operators.Dedup.decontaminate(spark, corpus, bench, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val bloom = Queries.decontamBloomQ(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(bloom == exact && bloom.nonEmpty)
    // the prefilter must be real: at a tiny m the bit-test passes more
    // candidates (more collisions) yet the confirm join keeps the result
    // exact — and at the default m it must reject a visible majority of
    // the corpus shingle stream
    val tiny = graft.operators.Dedup
      .decontaminateBloom(spark, corpus, bench, 20, mBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(tiny == exact, "FP-heavy bitmap must still confirm to the exact result")
    val nShingles = graft.operators.Dedup.shingled(spark, corpus).count()
    val benchSet = graft.operators.Dedup.shingled(spark, bench)
      .select("shingle").distinct()
    val nCandidates = graft.operators.Dedup
      .bloomCandidates(spark, corpus, benchSet, 1 << 20).count()
    assert(nCandidates * 2 < nShingles,
      s"bloom should reject most of $nShingles shingles, kept $nCandidates")
  }

  test("dedupIncremental: flags only incoming docs, against committed only") {
    import org.apache.spark.sql.functions._
    val rows = Queries.dedupIncremental(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 3 == 0, "flagged ids must be incoming-shard")
      assert(r.getLong(1) % 3 != 0, "dup_of must be a committed id")
    }
    // an injected exact copy whose original landed in the committed shard
    // MUST be flagged: ids k<100 with k%3==2 put the copy (k+1e6, %3==0)
    // incoming and the original (k, committed) shares every band bucket
    val flagged = rows.map(_.getLong(0)).toSet
    (0 until 100).filter(_ % 3 == 2).foreach { k =>
      assert(flagged.contains(k + 1000000L), s"copy of committed doc $k not flagged")
    }
    // screening is one-directional: committed docs never appear as doc_id
    assert(rows.forall(_.getLong(0) % 3 == 0))
  }

  test("domainMix: alpha=1/2 thresholds recompute exactly; rarest keeps all") {
    val rows = Queries.domainMix(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) // domain, n, thr
    val counts = rows.map(t => (t._1, t._2)).distinct.toMap
    val minCnt = counts.values.min
    def isqrt(n: Long): Long = math.floor(math.sqrt(n.toDouble)).toLong
    rows.foreach { case (d, n, t) =>
      assert(t == math.min(256L, isqrt(minCnt) * 256L / isqrt(n)), s"domain $d")
    }
    // the rarest domain keeps everything; the REAL-valued temperature rule
    // interpolates above equal-mass (sqrt(min/n) >= min/n for n >= min) —
    // the integer floors can undershoot by isqrt granularity, never more
    assert(rows.collect { case (_, n, t) if n == minCnt => t }.forall(_ == 256L))
    val bal = Queries.domainBalance(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(3))).toMap
    rows.foreach { case (d, n, t) =>
      assert(t >= bal(d) - 256 / math.max(1, isqrt(n)).toInt,
        s"domain $d: mix $t far below balance ${bal(d)}")
    }
  }

  test("chunkOverlap: stride-4 windows of 8 words, exchange-free plan") {
    val df = Queries.chunkOverlap(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // spot-check one doc's chunks against direct arithmetic
    val docId = rows.head.getLong(0)
    val text = graft.core.Corpus.documents(spark, sf).filter(s"doc_id = $docId")
      .select("text").collect().head.getString(0)
    val w = text.split(" ", -1)
    val mine = rows.filter(_.getLong(0) == docId).sortBy(_.getLong(1))
    assert(mine.length == (w.length - 1) / 4 + 1)
    mine.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(2) == w.slice(4 * i, 4 * i + 8).mkString(" "))
      assert(r.getLong(3) == math.min(8, w.length - 4 * i))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n${plan.take(1500)}")
  }

  test("fixture leaves scan only the columns they read; docsPar leaves keep their repartition") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def readSchemas(df: DataFrame): Seq[Seq[String]] = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
    }
    assert(readSchemas(Queries.zipExplode(spark, sf)) == Seq(Seq("doc_id")))
    assert(readSchemas(Queries.docxExplode(spark, sf)) == Seq(Seq("doc_id", "text")))
    val flate = Queries.pdfFlate(spark, sf)
    assert(readSchemas(flate) == Seq(Seq("doc_id", "text")))
    val exchanges = flate.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, s"expected the docsPar repartition:\n${flate.queryExecution.sparkPlan}")
  }
}
