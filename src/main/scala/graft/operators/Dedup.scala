package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.core.{HashParams, Ids}

/** Deduplication operators for the training-data pipeline.
  *
  * Algorithms: MinHash (Broder, "On the resemblance and containment of
  * documents", 1997) with banded LSH; SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002); shingled
  * Jaccard; winnowing fingerprints live in TextStats (Schleimer/Wilkerson/
  * Aiken, SIGMOD 2003).
  *
  * Scale notes (100 TB target):
  *  - exact dedup is a single hash-shuffle on the content hash — the hash is
  *    computed BEFORE the shuffle so only (hash, id) moves, never the text;
  *  - MinHash+LSH shuffles (48-byte signature key, doc_id) rows, then
  *    (bucket_key, representative id) rows only: candidate generation is
  *    a self-equi-join on the bucket key, which AQE skew-splits if a
  *    bucket is hot;
  *  - SimHash emits one 64-bit signature per doc (map-only), pairs via a
  *    banded equi-join, never an all-pairs product;
  *  - n-gram Jaccard is the only quadratic-ish op and is gated on an
  *    explicit probe set (sampled ids), keeping the join |probes| x |docs|.
  */
object Dedup {

  /** TEST FIXTURE (not operator semantics): documents plus injected
    * duplicates (doc_id<100 copied, shifted by 1e6) so dedup queries have
    * true positives to find. Deterministic. Callers (the query layer / specs)
    * apply this BEFORE an operator — the operators themselves dedupe exactly
    * the frame they are given.
    */
  def withInjectedDups(docs: DataFrame): DataFrame = {
    val dups = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(dups)
  }

  /** Exact dedup by content hash (reference duplicate suppression,
    * `TikaDocument.java:310-316`, generalized to hash-groupBy).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper_id"))

  /** MinHash signature of one text: 3-word shingles -> md5-derived 32-bit
    * codes -> NumMinHash universal hashes, min over shingles.
    */
  def minhashSig(text: String): Array[Long] = {
    val w = text.split(" ", -1) // string_split semantics
    val sig = Array.fill(HashParams.NumMinHash)(Long.MaxValue)
    val nSh = math.max(1, w.length - 2)
    var i = 0
    while (i < nSh) {
      val shingle =
        if (w.length < 3) text
        else w(i) + " " + w(i + 1) + " " + w(i + 2)
      val x = Ids.code32(shingle)
      var h = 0
      while (h < HashParams.NumMinHash) {
        val v = HashParams.minhash(h, x)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys for a signature: bands of BandSize rows, key =
    * "band:v,v,v".
    */
  def bandKeys(sig: Array[Long]): Seq[String] = {
    val nBands = HashParams.NumMinHash / HashParams.BandSize
    (0 until nBands).map { b =>
      val vs = (0 until HashParams.BandSize)
        .map(r => sig(b * HashParams.BandSize + r)).mkString(",")
      s"$b:$vs"
    }
  }

  /** Exact fixed-width key of a signature: its values packed big-endian,
    * 4 bytes each (48 bytes for 12 values). Every value is below
    * `HashParams.P` < 2^31, so the packing is injective — equal keys are
    * equal signatures, with no hash that could merge two of them.
    */
  private def sigKey(sig: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * sig.length)
    sig.foreach(v => bb.putInt(v.toInt))
    bb.array()
  }

  /** The band keys of a [[sigKey]] column as native expressions: band `b`
    * is the byte `b` followed by the band's `4 * BandSize` key bytes. The
    * same bucket equality as [[bandKeys]], without a string per band.
    */
  private def sigKeyBands(sig: Column): Column = {
    val w = 4 * HashParams.BandSize
    array((0 until HashParams.NumMinHash / HashParams.BandSize).map(b =>
      concat(lit(Array(b.toByte)), substring(sig, b * w + 1, w))): _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs (a<b, distinct), with a
    * deterministic candidate cap: near-empty/templated documents share
    * entire signatures, and an uncapped hot band bucket goes quadratic
    * (|bucket|^2 pairs). Capped-out members (lowest doc_ids kept — plan-
    * and retry-stable) are dropped and observable via [[hotBuckets]],
    * never silently.
    *
    * Round-6 shape (guide §2.3/§2.4 — shuffle fewer bytes, dedup before
    * the quadratic stage): documents collapse to DISTINCT signatures
    * before banding. Exact signature duplicates — the dominant web-corpus
    * case — previously entered every one of the nBands band buckets and
    * generated the same member-quadratic pair set nBands times, all of it
    * shuffled through the bucket join and then discarded by `distinct()`.
    * Now one representative (min doc_id) per distinct signature is banded
    * and bucket-joined (pair volume O(distinct sigs^2) per bucket), rep
    * pairs are deduplicated at rep level (each doc pair derives from
    * exactly one rep pair, so the member expansion needs NO quadratic
    * distinct), and within-group pairs expand directly from the bounded
    * membership array. The emitted pair SET in the uncapped regime is
    * IDENTICAL to the member-level banding (oracle-checked).
    *
    * The cap (still the [[graft.functions.BoundedMinIds]] bounded-heap
    * aggregate — no Window, no full-bucket sort on one task) now binds at
    * two places: members per signature group (bounding the within-group
    * expansion at C(cap,2)) and representatives per band bucket (bounding
    * the bucket join). When no group and no bucket reaches the cap this
    * is exactly the old per-bucket-members semantics.
    *
    * The corpus is read and signed ONCE per call: the signature groups are
    * one aggregate keyed by the exact 48-byte [[sigKey]], materialized by
    * a lazy `localCheckpoint`, and the within-group pairs, the band
    * buckets and the member expansion all read that one materialization.
    * Without it each consumer's column pruning plans its own aggregate —
    * three input scans, three runs of the signature map, three shuffles on
    * the key. Band keys are re-derived from the key after the shuffle, so
    * only (key, doc_id) is shuffled and the aggregate stays a hash
    * aggregate.
    */
  def minhashPairs(spark: SparkSession, docs: DataFrame,
                   bucketCap: Int = 10000): DataFrame = {
    import spark.implicits._
    val sigDocs = docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (sigKey(minhashSig(t)), id) }
      .toDF("sig", "doc_id")
    // distinct signatures: min-id representative + capped sorted membership
    val groups = sigDocs.groupBy("sig").agg(
      min("doc_id").as("rep"),
      graft.functions.BoundedMinIds.minIds(bucketCap)(col("doc_id")).as("kept"))
      .select(col("rep"), col("kept"), sigKeyBands(col("sig")).as("bands"))
      .localCheckpoint(false)
    // within-group pairs: all pairs among the (ascending) kept members
    val within = groups.filter(size(col("kept")) >= 2)
      .select(explode(expr(
        "flatten(transform(kept, (x, i) -> " +
          "transform(slice(kept, i + 2, size(kept) - i - 1), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // cross-group candidates at REPRESENTATIVE level only
    val capped = groups.select(col("rep"), explode(col("bands")).as("bucket"))
      .groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(bucketCap)(col("rep")).as("reps"))
      .select(col("bucket"), explode(col("reps")).as("rep"))
    val repPairs = capped.as("l").join(capped.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.rep") < col("r.rep"))
      .select(col("l.rep").as("ra"), col("r.rep").as("rb"))
      .distinct()
    val members = groups.select(col("rep"), explode(col("kept")).as("m"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("m").as("ma")), "ra")
      .join(members.select(col("rep").as("rb"), col("m").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"))
    within.unionByName(cross)
  }

  /** Candidate-verification stage of the dedup pipeline: LSH candidates are
    * cheap but approximate; this re-joins each candidate pair to its texts
    * and keeps pairs within `maxDist` edit distance.
    *
    * Scale notes: the pair set is NOT broadcast-hinted — minhashPairs bounds
    * pairs per bucket at cap^2/2, so a single at-cap bucket can emit ~5e7
    * pairs, far past broadcast range; AQE broadcasts while it actually fits
    * and shuffles when it doesn't. Before the O(n*m) DP runs, two cheap
    * prefilters eliminate most pairs: `abs(len(ta)-len(tb)) <= maxDist`
    * (a length gap is a lower bound on edit distance) and the THRESHOLDED
    * levenshtein (Spark 3.5+ 3-arg form) that abandons the DP as soon as
    * the running minimum exceeds maxDist — both return the exact distance
    * for every surviving pair, so the stage stays oracle-checkable.
    *
    * The DP runs ONCE per pair that passes the length filter: the
    * `dist >= 0` test (the thresholded form returns -1 past maxDist) is a
    * typed filter over the projected `(a, b, dist)` rows. A column filter
    * there would be pushed below the projection and into the join
    * condition with `dist` inlined, and the plan would evaluate the DP
    * twice per pair — once in the join, once in the projection.
    */
  def editVerify(docs: DataFrame, candidates: DataFrame, maxDist: Int): DataFrame =
    docs.select(col("doc_id").as("a"), col("text").as("ta"))
      .join(candidates, "a")
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select(col("a"), col("b"), levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .filter((r: Row) => !r.isNullAt(2) && r.getInt(2) >= 0)

  /** (bucket, doc_id) band-bucket membership rows. */
  def minhashBuckets(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) => bandKeys(minhashSig(t)).map(k => (k, id)) }
      .toDF("bucket", "doc_id")
  }

  /** Incremental (cross-shard) near-dup screening — the shape a GROWING
    * corpus actually runs: a NEW shard is checked against the already-
    * committed corpus without ever re-pairing the committed corpus with
    * itself. Each incoming doc that shares any LSH band bucket with a
    * committed doc is flagged with `dup_of` = the smallest matching
    * committed id (retry-stable); unflagged docs are admitted. The
    * committed side is per-bucket CAPPED with the same bounded-heap
    * aggregate [[minhashPairs]] uses (a hot templated bucket must not
    * fan a single incoming doc out |bucket|-fold); the incoming side is
    * never capped — every new doc gets screened. At scale the committed
    * side's band keys are a persisted index (bucket, doc_id) table
    * bucketed on the key, so only the new shard's signatures are
    * computed per run and the join is index-shaped, not corpus x corpus.
    */
  def incrementalFlags(spark: SparkSession, committed: DataFrame, incoming: DataFrame,
                       bucketCap: Int = 10000): DataFrame = {
    val eCap = minhashBuckets(spark, committed).groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(bucketCap)(col("doc_id")).as("ids"))
      .select(col("bucket"), explode(col("ids")).as("eid"))
    minhashBuckets(spark, incoming)
      .join(eCap, "bucket")
      .groupBy("doc_id").agg(min("eid").as("dup_of"))
  }

  /** Band-bucket occupancy vs the cap — the no-silent-caps record. */
  def hotBuckets(spark: SparkSession, docs: DataFrame, bucketCap: Int): DataFrame =
    minhashBuckets(spark, docs)
      .groupBy("bucket").agg(count(lit(1)).as("n_members"))
      .withColumn("n_kept", least(col("n_members"), lit(bucketCap.toLong)))

  /** SimHash signatures (map-only; one row per doc). */
  def simhash(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, graft.core.text.TextStats.simhash32(t)) }
      .toDF("doc_id", "simhash")
  }

  /** Distinct (doc_id, shingle) pairs — 2-word shingles, string_split
    * semantics.
    */
  def shingled(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) =>
        val w = t.split(" ", -1) // string_split semantics
        val set = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i < w.length - 1) { set += (w(i) + " " + w(i + 1)); i += 1 }
        set.iterator.map(s => (id, s))
      }.toDF("doc_id", "shingle")
  }

  /** n-gram (2-word shingle) Jaccard similarity, probe-gated and
    * DOCUMENT-FREQUENCY-CAPPED: shingles appearing in more than `dfCap`
    * documents are dropped from the profile (sizes AND intersection) before
    * the candidate join — the standard hot-key guard. Without it, one
    * ubiquitous shingle ("of the") makes its join-key fan-out
    * |probes_with_it| x |docs_with_it|, near-cartesian at corpus scale.
    * Dropped shingles are REPORTED by [[hotShingles]] (no silent caps).
    *
    * Emits (a=probe, b, inter, uni) where 5*inter >= uni (Jaccard >= 0.2)
    * over the rare-shingle profile, a != b. Integer-only output.
    */
  def ngramJaccard(spark: SparkSession, docs: DataFrame,
                   dfCap: Long = Long.MaxValue,
                   probe: org.apache.spark.sql.Column = col("doc_id") % 50 === 0): DataFrame = {
    val all = shingled(spark, docs)
    // the HOT set (df > cap) is tiny by definition — a handful of ubiquitous
    // shingles — so the drop is a broadcast anti-join: the big side never
    // shuffles on the hot key at all. df itself is a partial-agg groupBy.
    val hot = all.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    val rare = all.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // the probe side shingles only the PROBE DOCUMENTS (round 6): the
    // probe predicate is doc-level and shingle sets are doc-local, so
    // filtering docs BEFORE the explode is row-identical to filtering the
    // exploded stream after — and skips re-evaluating the corpus-wide
    // shingle map (an opaque typed flatMap Catalyst cannot push the
    // filter below) just to discard ~98% of it.
    val probes = shingled(spark, docs.filter(probe))
      .join(broadcast(hot), Seq("shingle"), "left_anti")
      .withColumnRenamed("doc_id", "a")
    val inter = probes.join(rare.withColumnRenamed("doc_id", "b"), "shingle")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    // sizes is one row per DOCUMENT — O(corpus), the side that must never
    // carry a broadcast hint (unbroadcastable at 1e12 docs). The bounded
    // side here is `inter` (|probes| x neighbors); no hint is needed at
    // all: AQE broadcasts the small side while it fits and falls back to a
    // shuffle join when it doesn't.
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 5 >= col("uni"))
      .select("a", "b", "inter", "uni")
  }

  /** Benchmark decontamination (standard training-data hygiene, GPT-3-style
    * n-gram overlap): flag corpus docs sharing at least `minShared` distinct
    * shingles with the UNION of benchmark shingles. The benchmark shingle
    * set is small by definition — it broadcasts, and the corpus side never
    * shuffles: flag computation is a map-side semi-join + partial-agg count.
    */
  def decontaminate(spark: SparkSession, corpus: DataFrame, benchmark: DataFrame,
                    minShared: Long): DataFrame =
    shingled(spark, corpus)
      .join(broadcast(shingled(spark, benchmark).select("shingle").distinct()), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s web-scale
    * variant (Bloom 1970; the standard contamination-screen shape at
    * trillion-token scale): instead of joining EVERY corpus shingle
    * against the benchmark set, a k=2 Bloom bitmap over the benchmark
    * shingles broadcasts (8 bits/element vs the ~100+ bits/element of the
    * exact broadcast set) and a fully codegen'd bit-test drops the
    * overwhelming non-member majority map-side; only the tiny surviving
    * candidate stream reaches the exact confirm join, which removes the
    * bitmap's false positives. False NEGATIVES are impossible (every
    * inserted element tests positive), so the result is BIT-IDENTICAL to
    * [[decontaminate]] — the DuckDB oracle is the exact semantics and any
    * lost row is a correctness failure, not tuning noise.
    *
    * Plan shape: the bitmap builds as explode(2 positions) → map-side
    * partial `bit_or` per 64-bit word → ONE bounded driver collect (m/64
    * longs — 16 KB at the default m=2^20; the same bounded-collect class
    * as the IVF seed quantizer) embedded as a LITERAL array, so the
    * membership test references a plan constant — never a join column
    * that would copy the bitmap into every corpus-shingle row. Positions
    * derive from md5 hex windows (`conv(substring(md5(s)..),16,10) % m`),
    * the engine-shared hash family the fingerprint tier already mirrors.
    * No UDF: the test is two element_at + bitwise-AND expressions inside
    * whole-stage codegen.
    */
  def decontaminateBloom(spark: SparkSession, corpus: DataFrame, benchmark: DataFrame,
                         minShared: Long, mBits: Int = 1 << 20): DataFrame = {
    val bench = shingled(spark, benchmark).select("shingle").distinct()
    bloomCandidates(spark, corpus, bench, mBits)
      .join(broadcast(bench), "shingle") // exact confirm: kills FPs, keeps parity
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The prefilter stage of [[decontaminateBloom]]: corpus (doc_id,
    * shingle) rows whose two Bloom positions are both set in the bitmap
    * built over `bench` — the candidate stream the exact confirm join
    * then reduces. Exposed so effectiveness (candidates vs total corpus
    * shingles) is testable and reportable, never a silent cap.
    */
  def bloomCandidates(spark: SparkSession, corpus: DataFrame, bench: DataFrame,
                      mBits: Int): DataFrame = {
    val bm = bloomBitmapLit(bench, mBits)
    shingledBloom(spark, corpus, mBits)
      .filter(bloomBitTest(bm, col("p1")) && bloomBitTest(bm, col("p2")))
      .select("doc_id", "shingle")
  }

  /** [[shingled]] plus each shingle's two Bloom bit positions, computed
    * ONCE per row inside the typed map (round 6). The positions are
    * bit-identical to the SQL `conv(substring(md5(s), {1,9}, 8), 16, 10)
    * % m` derivation the q_bloom_stats oracle pins (same md5, same hex
    * windows, big-endian). In expression form the optimizer's predicate
    * pushdown inlines the position aliases into the filter condition,
    * where codegen re-evaluates the md5/conv chain at every reference
    * site (4x per shingle in the 2-bit test); a typed-boundary column is
    * computed exactly once.
    */
  def shingledBloom(spark: SparkSession, docs: DataFrame, mBits: Int): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val w = t.split(" ", -1) // string_split semantics
          val set = scala.collection.mutable.HashSet.empty[String]
          var i = 0
          while (i < w.length - 1) { set += (w(i) + " " + w(i + 1)); i += 1 }
          set.iterator.map { s =>
            val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val v1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            val v2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
            (id, s, v1 % mBits, v2 % mBits)
          }
        }
      }.toDF("doc_id", "shingle", "p1", "p2")
  }

  /** The Bloom bitmap over `bench`'s shingle column as a plan LITERAL:
    * one bounded driver collect of m/64 longs (16 KB at the default m).
    * A 1-row broadcast join would instead COPY the whole array into every
    * corpus-shingle row's join output — measured 6x slower than the exact
    * op at sf0.1; the literal is referenced by codegen as one constant
    * object per task.
    */
  def bloomBitmapLit(bench: DataFrame, mBits: Int): org.apache.spark.sql.Column = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, s"mBits must be a power of two: $mBits")
    val nWords = mBits / 64
    val h = md5(col("shingle"))
    val posCols = Seq(1, 9).map(o =>
      conv(substring(h, o, 8), 16, 10).cast("long") % mBits)
    val bm = new Array[Long](nWords)
    // map-only build: collect the raw positions (2 per bench shingle —
    // bounded by the same small-benchmark premise that makes the exact
    // set broadcastable) and OR the bits driver-side. The previous
    // per-word bit_or groupBy added a full shuffle stage to the eager
    // build job, re-paid on every query invocation (round 6).
    bench
      .select(explode(array(posCols: _*)).as("p"))
      .collect()
      .foreach { r =>
        val p = r.getLong(0)
        bm((p / 64).toInt) |= 1L << (p % 64).toInt
      }
    typedLit(bm)
  }

  /** Codegen'd single-bit test of position column `p` against the bitmap
    * literal: two element_at + shift + AND expressions, no UDF.
    */
  def bloomBitTest(bmLit: org.apache.spark.sql.Column,
                   p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(bmLit, (p / 64).cast("int") + 1)
      .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L

  /** The shingles [[ngramJaccard]] dropped at `dfCap` — the no-silent-caps
    * record: (n_dropped distinct shingles, max document frequency seen).
    */
  def hotShingles(spark: SparkSession, docs: DataFrame, dfCap: Long): DataFrame =
    shingled(spark, docs)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("n_dropped"),
        max("df").as("max_df"))

  /** Duplicate-CLUSTER assignment — the finishing step a web-scale dedup
    * pipeline needs after pair generation: keep one document per
    * connected COMPONENT of the near-dup graph, not one per pair (A~B,
    * B~C must collapse A,B,C together even when A~C was never proposed).
    *
    * Iterative min-label propagation WITH POINTER JUMPING: every round
    * each node adopts the smallest label among itself and its neighbors,
    * then compresses via label-of-label (Shiloach-Vishkin style) — the
    * jump halves remaining chain depth, so convergence is O(log
    * diameter) rounds instead of O(diameter), and a long drifting-
    * template chain converges instead of hitting the iteration bound.
    * Early-exit convergence check; `maxIters` remains the loud backstop.
    * Each round is shuffle joins keyed on node id: no windows, no
    * driver-side graph, no O(corpus) broadcast; ONE `localCheckpoint`
    * per round truncates the growing lineage exactly as iterative Spark
    * algorithms must (the jump reads the previous round's checkpoint, so
    * the propagation result is never materialized separately).
    *
    * All checkpoints are LAZY (round 6, guide §1.2): an eager
    * localCheckpoint is its own Spark job, so a round previously paid two
    * actions (materialize, then the convergence count) and the
    * edges/labels seeds two more up front. Lazily, the round's convergence
    * count is the action that materializes that round's checkpoint. Each
    * adaptive shuffle stage is still its own job: on the 5,150-doc
    * benchmark corpus's 276 candidate pairs forced onto this path, round 1
    * (with the seeding) launched 10 jobs and round 2 launched 9.
    *
    * Small-graph fast path (round 6, guide §3.1's broadcast analogy
    * applied to iterative CC): when the graph has at most `localEdgeMax`
    * edges (default 2^20) the components come from a driver-side
    * union-find instead of 2+ label-propagation rounds of ~6 tiny
    * exchanges each. The gate is ONE Spark job over the lazily
    * checkpointed pair frame: each task counts its edges and returns them
    * as primitive longs while it holds at most its share
    * (`localEdgeMax / partitions + 1`), so the job both decides the path
    * and collects the edges; it also materializes the checkpoint, so the
    * distributed loop never recomputes the upstream pair generation. Only
    * when the graph is under the bound but one partition held more than
    * its share does a second job fetch those partitions. Driver heap on
    * this path, for E <= localEdgeMax edges: the collected edges as long
    * arrays (16 B per edge; task results total at most 16 B x
    * (localEdgeMax + partitions)), the sorted endpoint copy (16 B per
    * edge) and the union-find over the distinct endpoints (12 B per node,
    * at most 2E nodes) — at most 56 B per edge, 56 MiB at the default
    * bound — plus the returned local (doc_id, component) rows, one per
    * node. Identical min-label output by construction; the distributed
    * loop is unchanged above the bound, and with the round-6 rep-collapse
    * upstream the graph CC sees is distinct-signature-sized, not
    * member-sized. Pass localEdgeMax = 0 to force the distributed path
    * (tests do).
    *
    * Jobs carry the description `Dedup.connectedComponents/<step>`: `gate`
    * for the pair checkpoint and the edge collect, `round-N` for the
    * label seeding (round 1) and each propagation round. The caller's
    * description is restored on return and its job group is left alone.
    *
    * Input: pair columns (a, b). Output: (doc_id, component) for every
    * endpoint, component = smallest doc_id reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          localEdgeMax: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    def tag(step: String): Unit = sc.setJobDescription(s"Dedup.connectedComponents/$step")
    try {
      tag("gate")
      val p = pairs.select(col("a"), col("b")).localCheckpoint(false)
      localEdges(p, localEdgeMax) match {
        case Some(edges) =>
          import spark.implicits._
          localComponents(edges).toDF("doc_id", "component")
        case None => propagate(p, maxIters, i => tag(s"round-$i"))
      }
    } finally sc.setJobDescription(callerDescription)
  }

  /** The edges of `p` (long columns a, b) on the driver, one interleaved
    * (a, b, a, b, ...) long array per partition, or None when there are
    * more than `max`: one job (see [[connectedComponents]]), and a second
    * one only for the partitions that held more than their share.
    */
  private def localEdges(p: DataFrame, max: Long): Option[Seq[Array[Long]]] = {
    val sc = p.sparkSession.sparkContext
    val rows = p.queryExecution.toRdd
    val parts = rows.getNumPartitions
    val share = math.min(max / math.max(1, parts) + 1, Int.MaxValue / 4L)
    // (edges seen, counted up to max + 1; the edges, or null past `limit`)
    def fetch(limit: Long)(it: Iterator[InternalRow]): (Long, Array[Long]) = {
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      while (it.hasNext && n <= max) {
        val r = it.next()
        if (n < limit) { buf += r.getLong(0); buf += r.getLong(1) }
        n += 1
      }
      (n, if (n <= limit) buf.result() else null)
    }
    val counts = new Array[Long](parts)
    val got = new Array[Array[Long]](parts)
    val keep = (i: Int, r: (Long, Array[Long])) => { counts(i) = r._1; got(i) = r._2 }
    sc.runJob(rows, fetch(share) _, keep)
    if (counts.sum > max) return None
    val over = got.indices.filter(got(_) == null)
    if (over.nonEmpty)
      sc.runJob(rows, (_: TaskContext, it: Iterator[InternalRow]) => fetch(max)(it), over, keep)
    Some(got.toSeq)
  }

  /** Min-label components of interleaved edge arrays on the driver:
    * union-find over the sorted distinct endpoints with parents as
    * indices, so the root of a set is its smallest id. Returns
    * (id, component) per endpoint.
    */
  private def localComponents(edges: Seq[Array[Long]]): Seq[(Long, Long)] = {
    val all = new Array[Long](edges.iterator.map(_.length).sum)
    var k = 0
    edges.foreach { a => System.arraycopy(a, 0, all, k, a.length); k += a.length }
    java.util.Arrays.sort(all)
    k = 0
    all.indices.foreach(i => if (k == 0 || all(i) != all(k - 1)) { all(k) = all(i); k += 1 })
    val ids = java.util.Arrays.copyOf(all, k)
    val parent = Array.tabulate(k)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) } // path halving
      r
    }
    edges.foreach { a =>
      var i = 0
      while (i < a.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, a(i)))
        val rb = find(java.util.Arrays.binarySearch(ids, a(i + 1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        i += 2
      }
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }

  /** Distributed min-label propagation with pointer jumping over the
    * checkpointed pair frame `p`; `round(n)` runs before round n's jobs
    * (round 1 includes the edge and label seeding).
    */
  private def propagate(p: DataFrame, maxIters: Int, round: Int => Unit): DataFrame = {
    round(1)
    val edges = p.select(col("a").as("s"), col("b").as("d"))
      .union(p.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint(false)
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      round(iter + 1)
      val candidate = edges.join(labels, edges("s") === labels("id"))
        .select(col("d").as("cid"), col("label").as("nlabel"))
        .groupBy("cid").agg(min("nlabel").as("nlabel"))
      // carry the OLD label through the propagation join so convergence
      // is a filter over the same materialization — not a second join
      val prop = labels.join(candidate, labels("id") === candidate("cid"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("mid"))
      // pointer jump THROUGH THE PREVIOUS round's materialized labels:
      // labels are always node ids, so label-of-label is an inner join
      // that loses no rows; jumping via `labels` (already checkpointed
      // last round) instead of a prop self-join means prop is consumed
      // exactly once and the round needs ONE localCheckpoint, not two.
      // The jump is one step staler than a prop-self-join, but chains
      // still halve per round and the fixpoint (and its early-exit
      // safety argument) is identical: stable labels are per-component
      // constant, and the constant can only be the component min.
      val joined = prop.as("x")
        .join(labels.select(col("id").as("jid"), col("label").as("jlabel")).as("y"),
          col("x.mid") === col("y.jid"))
        .select(col("x.id").as("id"), col("x.old").as("old"),
          least(col("x.mid"), col("y.jlabel")).as("label"))
        .localCheckpoint(false) // truncate iterative lineage (lazy: the
      // convergence count below is the materializing action — one job)
      val changed = joined.filter(col("label") =!= col("old")).count()
      labels = joined.select("id", "label")
      converged = changed == 0
      iter += 1
    }
    // a silent truncation would report one logical component as several
    // and dedup would KEEP near-duplicates — fail loud instead (a >20-hop
    // near-dup chain means the pair generator or maxIters needs attention)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "raise maxIters (or adopt large-star/small-star) for this graph")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }
}
