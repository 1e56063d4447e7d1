package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.core.{HashParams, Ids, JobTags}

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
  *    (bucket_key, representative id) rows only: each band bucket's capped
  *    representative array yields its candidate pairs in a map, with no
  *    join on the bucket key, so a hot bucket costs at most C(cap,2) pairs
  *    and never a skewed join partition;
  *  - SimHash emits one 64-bit signature per doc (map-only), pairs via a
  *    banded equi-join, never an all-pairs product;
  *  - n-gram Jaccard is the only quadratic-ish op and is gated on an
  *    explicit probe set (sampled ids), keeping the work |probes| x |docs|:
  *    only a table of the probe documents' rare shingles is broadcast
  *    (batched under a byte budget), and the corpus streams past it in one
  *    map-only pass, with no explode, join or aggregate; its hot set comes
  *    from per-task bucket counters (summed in a tree on the executors when
  *    the tasks are many) and an exact recount of the passing buckets'
  *    shingles, which [[hotShingles]] reads too; past its driver budget
  *    the recount shuffles only the shingles of those buckets.
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
    *
    * Words are the `string_split(text, ' ')` pieces and shingle i is
    * `w(i) + " " + w(i+1) + " " + w(i+2)` (the whole text when there are
    * fewer than 3 words). The text is encoded to UTF-8 once; a shingle's
    * bytes are then the range from the start of word i to the end of word
    * i+2, hashed in place with no string or array per shingle.
    */
  def minhashSig(text: String): Array[Long] = {
    val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sig = Array.fill(HashParams.NumMinHash)(Long.MaxValue)
    def add(off: Int, len: Int): Unit = {
      val x = Ids.code32(b, off, len)
      var h = 0
      while (h < HashParams.NumMinHash) {
        val v = HashParams.minhash(h, x)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
    }
    // starts of words j-2, j-1 and j while word j is scanned
    var w0 = 0
    var w1 = 0
    var w2 = 0
    var j = 0
    var p = 0
    while (p <= b.length) {
      if (p == b.length || b(p) == ' ') { // the end of word j
        if (j >= 2) add(w0, p - w0)
        w0 = w1; w1 = w2; w2 = p + 1
        j += 1
      }
      p += 1
    }
    if (j < 3) add(0, b.length)
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
    * Shape (shuffle fewer bytes, dedup before the quadratic stage):
    * documents collapse to DISTINCT signatures before banding. Exact
    * signature duplicates — the dominant web-corpus case — would otherwise
    * enter every one of the nBands band buckets and generate the same
    * member-quadratic pair set nBands times. One representative (min
    * doc_id) per distinct signature is banded, and each band bucket's
    * capped, ascending representative array yields its own rep pairs in a
    * typed `flatMap` — no join on the bucket key; one `distinct` removes
    * the rep pairs that several buckets share (each doc pair derives from
    * exactly one rep pair, so the member expansion needs NO quadratic
    * distinct). Within-group pairs stream from each group's ascending
    * `kept` array the same way: no pair array is built as a row value, so
    * an at-cap group never holds its C(cap,2) pairs at once. The member
    * expansion left-joins the rep pairs to the groups with at least 2 kept
    * members only; a singleton group's member is its rep. The emitted
    * pair SET in the uncapped regime is IDENTICAL to the member-level
    * banding (oracle-checked).
    *
    * The cap (the [[graft.functions.BoundedMinIds]] bounded-heap
    * aggregate — no Window, no full-bucket sort on one task) binds at two
    * places: members per signature group (bounding the within-group
    * expansion at C(cap,2)) and representatives per band bucket (bounding
    * the bucket's rep pairs at C(cap,2)). When no group and no bucket
    * reaches the cap this is exactly the per-bucket-members semantics.
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
    val groups = signatureGroups(spark, docs, bucketCap).localCheckpoint(false)
    val multi = groups.filter(size(col("kept")) >= 2)
    val within = multi.select("kept").as[Array[Long]].flatMap(ascendingPairs).toDF("a", "b")
    // cross-group candidates at REPRESENTATIVE level only
    val repPairs = groups.select(col("rep"), explode(col("bands")).as("bucket"))
      .groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(bucketCap)(col("rep")).as("reps"))
      .select("reps").as[Array[Long]]
      .flatMap(ascendingPairs).toDF("ra", "rb")
      .distinct()
    val members = multi.select(col("rep"), explode(col("kept")).as("m"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("m").as("ma")), Seq("ra"), "left")
      .join(members.select(col("rep").as("rb"), col("m").as("mb")), Seq("rb"), "left")
      .select(coalesce(col("ma"), col("ra")).as("ma"), coalesce(col("mb"), col("rb")).as("mb"))
      .select(least(col("ma"), col("mb")).as("a"), greatest(col("ma"), col("mb")).as("b"))
    within.unionByName(cross)
  }

  /** Every pair (xs(i), xs(j)), i < j, of an ascending array, in order —
    * produced one at a time, never held as a collection.
    */
  private def ascendingPairs(xs: Array[Long]): Iterator[(Long, Long)] =
    Iterator.range(0, xs.length).flatMap(i =>
      Iterator.range(i + 1, xs.length).map(j => (xs(i), xs(j))))

  /** The distinct signatures of `docs`, the unit [[minhashPairs]] caps
    * in: one row per signature with its min-id representative `rep`, its
    * `bucketCap` lowest member ids `kept` (ascending) and its band keys
    * `bands`, plus the `extra` aggregates over its members.
    */
  private def signatureGroups(spark: SparkSession, docs: DataFrame, bucketCap: Int,
                              extra: Column*): DataFrame = {
    import spark.implicits._
    val aggs = min("doc_id").as("rep") +:
      graft.functions.BoundedMinIds.minIds(bucketCap)(col("doc_id")).as("kept") +: extra
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (sigKey(minhashSig(t)), id) }
      .toDF("sig", "doc_id")
      .groupBy("sig").agg(aggs.head, aggs.tail: _*)
      .withColumn("bands", sigKeyBands(col("sig")))
      .drop("sig")
  }

  /** Candidate-verification stage of the dedup pipeline: LSH candidates are
    * cheap but approximate; this re-joins each candidate pair to its texts
    * and keeps pairs within `maxDist` edit distance, as `(a, b, dist)`.
    *
    * Scale notes: the pair set is NOT broadcast-hinted — minhashPairs bounds
    * pairs per bucket at cap^2/2, so a single at-cap bucket can emit ~5e7
    * pairs, far past broadcast range; AQE broadcasts while it actually fits
    * and shuffles when it doesn't. Two bounds keep the per-pair DP cheap:
    * `abs(len(ta)-len(tb)) <= maxDist` (a length gap is a lower bound on
    * edit distance) drops pairs before any DP, and the survivors go through
    * [[BandedLevenshtein]], which fills only the diagonal band of width
    * 2 * maxDist + 1 over code-point arrays and abandons a pair as soon as a
    * band row passes maxDist. Both return the exact distance for every kept
    * pair, so the stage stays oracle-checkable.
    *
    * The DP runs ONCE per pair that passes the length filter, in one typed
    * `flatMap` (one `MapPartitions` in the plan) over the joined
    * `(a, b, ta, tb)` rows; a pair is dropped where the kernel returns -1.
    */
  def editVerify(docs: DataFrame, candidates: DataFrame, maxDist: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("a"), col("text").as("ta"))
      .join(candidates, "a")
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select("a", "b", "ta", "tb").as[(Long, Long, String, String)]
      .flatMap { case (a, b, ta, tb) =>
        val d = BandedLevenshtein.distance(ta, tb, maxDist)
        if (d >= 0) Some((a, b, d)) else None
      }
      .toDF("a", "b", "dist")
  }

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

  /** What [[minhashPairs]] drops at `bucketCap` — the no-silent-caps
    * record. One row per capped unit, (unit, key, n_members, n_kept):
    *  - `bucket`: a band bucket (key: its hex band key) holding more
    *    DISTINCT signatures than the cap — the representatives past the
    *    cap lose their cross-group candidate pairs in that bucket;
    *  - `signature`: a signature group (key: its representative doc_id)
    *    with more members than the cap — the members past the cap get no
    *    pairs at all.
    * Empty when the cap drops nothing. Both units come from the same
    * signature groups [[minhashPairs]] builds.
    */
  def hotBuckets(spark: SparkSession, docs: DataFrame, bucketCap: Int): DataFrame = {
    val groups = signatureGroups(spark, docs, bucketCap, count(lit(1)).as("n_members"))
    val buckets = groups.select(explode(col("bands")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_members"))
      .select(lit("bucket").as("unit"), hex(col("bucket")).as("key"), col("n_members"))
    val sigs = groups.select(lit("signature").as("unit"), col("rep").cast("string").as("key"),
      col("n_members"))
    val cap = lit(bucketCap.toLong)
    buckets.unionByName(sigs)
      .filter(col("n_members") > cap)
      .withColumn("n_kept", least(col("n_members"), cap))
  }

  /** Calls `f(start, end)` for each 2-word shingle of `t`, in order: the
    * words are the `string_split(t, ' ')` pieces (`t.split(" ", -1)`), and
    * shingle i, `w(i) + " " + w(i+1)`, is `t.substring(start, end)`. No
    * string is built. A null `t` has no shingles, as `string_split(NULL)`
    * has no words.
    */
  private[graft] def foreachShingle(t: String)(f: (Int, Int) => Unit): Unit = {
    // starts of words j-1 and j while word j is scanned
    var w0 = 0
    var w1 = 0
    var j = 0
    var p = 0
    while (t != null && p <= t.length) {
      if (p == t.length || t.charAt(p) == ' ') { // the end of word j
        if (j >= 1) f(w0, p)
        w0 = w1; w1 = p + 1
        j += 1
      }
      p += 1
    }
  }

  /** A document's distinct 2-word shingles, string_split semantics. */
  private def shingleSet(t: String): scala.collection.mutable.HashSet[String] = {
    val set = scala.collection.mutable.HashSet.empty[String]
    foreachShingle(t)((s, e) => set += t.substring(s, e))
    set
  }

  /** Distinct (doc_id, shingle) pairs — 2-word shingles, string_split
    * semantics.
    */
  def shingled(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) => shingleSet(t).iterator.map(s => (id, s)) }
      .toDF("doc_id", "shingle")
  }

  /** n-gram (2-word shingle) Jaccard similarity, probe-gated and
    * DOCUMENT-FREQUENCY-CAPPED: shingles appearing in more than `dfCap`
    * documents are dropped from every profile (sizes AND intersection)
    * before any probe is matched — the standard hot-key guard. Without it,
    * one ubiquitous shingle ("of the") would touch |probes_with_it| probes
    * for each of |docs_with_it| documents, near-cartesian at corpus scale.
    * Dropped shingles are REPORTED by [[hotShingles]] (no silent caps),
    * which reads them from the same hot pass.
    *
    * `probe` is a doc-level predicate over the columns of `docs` (the
    * default samples every 50th doc_id): it selects the probe documents
    * before they are shingled, so it cannot refer to a shingle; a null
    * `probe` is false, as in `filter`. `doc_id` must be unique per row:
    * each row's shingle set is its document's profile, so two rows with
    * one id would be two documents.
    *
    * Shape: a hot pass of one or two map-only jobs, then one map-only
    * corpus pass. The hot set is an iceberg query (Fang et al., "Computing
    * Iceberg Queries Efficiently", VLDB 1998), answered exactly by a coarse
    * count and a recount of the candidates only:
    *  - Bucket count (tagged `Dedup.ngramJaccard/hot`): one job over
    *    (doc_id, text, probe). Each task adds every shingle occurrence to an
    *    array of 2^16 long counters, the bucket a hash of the shingle's
    *    character range in the text (no string is built), and keeps its
    *    probe rows. The arrays are summed by Spark's `treeAggregate`: with
    *    at most 64 tasks the driver adds each task's array into one sum as
    *    the results arrive; with more, the executors sum them in a tree
    *    first, so the driver receives at most 67 arrays (512 KB each)
    *    whatever the task count. A bucket's count is never below the df of
    *    a shingle in it: it counts occurrences, and colliding shingles add
    *    up.
    *  - Recount (tagged `Dedup.ngramJaccard/hot`), only when some bucket
    *    passes `dfCap`: one job over the bucket count's rows (an input
    *    shuffle is not run again), where each document yields its distinct
    *    shingles of the passing buckets and each task sends the driver their
    *    (string, partial df) pairs. The hot set is the shingles whose exact
    *    df passes `dfCap`; no shingle can when no bucket does, and the job
    *    is not run. The occurrences in the passing buckets bound the pairs
    *    sent; past 2^18 of them (a low cap, or shingles hot enough to fill
    *    their buckets) the same per-document shingles go through one
    *    spillable `groupBy` count instead, a shuffle of at most that many
    *    records, and the driver collects only the shingles past `dfCap`.
    *  - Corpus pass: the driver builds a [[ProbeTable]] from the probes'
    *    rare shingles ([[shingleSet]] minus the hot set): each shingle
    *    string maps to the indices of the probes holding it, so a match is
    *    exact, never "up to hash collisions". The table is broadcast once
    *    and one typed `mapPartitions` streams the corpus past it. Each
    *    document counts `inter` per probe it touches in a counter array
    *    reused by the task and emits its pairs then and there: all matches
    *    of one document meet in its own task.
    * Up to 64 tasks and 2^18 occurrences in the passing buckets, no job of
    * the call shuffles: no plan holds an exchange, a join or an aggregate.
    * Memory of the hot pass: a task holds its counter array (512 KB), its
    * probe rows and, in the recount, the strings of the passing buckets it
    * meets with their counts; the driver holds the summed counters and one
    * arriving array, the probe rows, and at most 2^18 recounted strings,
    * or, past that budget, the hot set with its dfs only (at most
    * occurrences / (dfCap + 1) strings).
    * A table is bounded by a byte budget (64 MB, an upper-bound estimate
    * per probe, hot set included). Past it, the probes are cut into
    * consecutive batches that each fit, with one corpus pass per batch,
    * and the passes are unioned; there is no join fallback. On the
    * 5,150-doc perfbench `dedup` corpus one call launches 3 Spark jobs
    * (the hot pass 2, the corpus pass 1).
    *
    * Emits (a=probe, b, inter, uni) where 5*inter >= uni (Jaccard >= 0.2)
    * over the rare-shingle profile, a != b. Integer-only output.
    */
  def ngramJaccard(spark: SparkSession, docs: DataFrame,
                   dfCap: Long = Long.MaxValue,
                   probe: org.apache.spark.sql.Column = col("doc_id") % 50 === 0): DataFrame =
    ngramJaccard(spark, docs, dfCap, probe, ProbeTableBytes, HotBuckets)

  /** [[ngramJaccard]] with the probe-table budget `tableBytes` and
    * `buckets` hot-pass counters.
    */
  private[graft] def ngramJaccard(spark: SparkSession, docs: DataFrame, dfCap: Long,
                                  probe: Column, tableBytes: Long, buckets: Int): DataFrame = {
    import spark.implicits._
    val pass = hotAndProbes(docs, dfCap, probe, buckets)
    val hot = pass.hot
    val profiles = pass.probes.map { case (id, t) => (id, shingleSet(t).filterInPlace(!hot(_)).toArray) }
    val corpus = docs.select("doc_id", "text").as[(Long, String)]
    probeBatches(profiles, hot.iterator.map(entryBytes).sum, tableBytes)
      .map { batch =>
        val table = spark.sparkContext.broadcast(ProbeTable(hot, batch))
        corpus.mapPartitions(rows => table.value.matches(rows))
      }
      .reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[(Long, Long, Long, Long)])
      .toDF("a", "b", "inter", "uni")
  }

  /** The number of hot-pass counters of [[ngramJaccard]]. */
  private[graft] val HotBuckets = 1 << 16

  /** The most occurrences the passing buckets may hold for the recount to
    * send the driver its (string, partial df) pairs, which they bound.
    * Past it the recount goes through one `groupBy` count.
    */
  private[graft] val RecountBudget = 1L << 18

  /** The fan-in of the bucket count's sum: with more tasks than this, the
    * executors sum the counter arrays in a tree before the driver does.
    */
  private[graft] val DriverArrays = 64

  /** What the hot pass of [[ngramJaccard]] found: the exact df of each
    * shingle held by more than `dfCap` rows of `docs`, the summed bucket
    * counters, the (doc_id, text) rows where `probe` holds, in partition
    * order, the (string, partial df) pairs the recount sent the driver (0
    * if none), and the (doc_id, text, probe) input every recount reads.
    */
  private[graft] final case class HotPass(dfs: Map[String, Long], counts: Array[Long],
                                          probes: Array[(Long, String)], recounted: Long,
                                          input: QueryExecution) {
    def hot: Set[String] = dfs.keySet
  }

  /** The hot pass of [[ngramJaccard]] over `buckets` counters: the bucket
    * count, then the [[recount]] of the buckets past `dfCap` under
    * `recountBudget`. The bucket count hands the driver at most `fanIn` + 3
    * counter arrays (Spark's tree stops within 3 of its fan-in).
    */
  private[graft] def hotAndProbes(docs: DataFrame, dfCap: Long, probe: Column,
                                  buckets: Int = HotBuckets, recountBudget: Long = RecountBudget,
                                  fanIn: Int = DriverArrays): HotPass =
    JobTags.tagged(docs.sparkSession.sparkContext, "Dedup.ngramJaccard") { tag =>
      tag("hot")
      // a SQL execution, seen by query listeners; the recounts reuse its rows
      val qe = docs.select(col("doc_id"), col("text"), coalesce(probe, lit(false))).queryExecution
      val tally = SQLExecution.withNewExecutionId(qe, Some("runJob")) {
        qe.toRdd.mapPartitionsWithIndex { (i, it) =>
          val c = new Array[Long](buckets)
          val ps = Array.newBuilder[(Long, String)]
          it.foreach { r =>
            val t = if (r.isNullAt(1)) null else r.getUTF8String(1).toString
            foreachShingle(t)((s, e) => c(bucket(t, s, e, buckets)) += 1)
            if (r.getBoolean(2)) ps += ((r.getLong(0), t))
          }
          Iterator(Tally(c, List(i -> ps.result())))
        }.treeAggregate(Tally(null, Nil))(_ + _, _ + _, treeDepth(qe.toRdd.getNumPartitions, fanIn))
      }
      val probes = tally.probes.sortBy(_._1).iterator.flatMap(_._2).toArray
      val counts = Option(tally.counts).getOrElse(new Array[Long](buckets))
      val (dfs, recounted) = recount(qe, counts, dfCap, recountBudget)
      HotPass(dfs, counts, probes, recounted, qe)
    }

  /** A share of the bucket count: occurrences per bucket (null in the
    * empty share) and the probe rows of each partition it covers, by
    * partition index.
    */
  private final case class Tally(counts: Array[Long], probes: List[(Int, Array[(Long, String)])]) {
    /** This share and `o`, summed into this share's counters. */
    def +(o: Tally): Tally =
      if (counts == null) o
      else if (o.counts == null) this
      else {
        var b = 0
        while (b < counts.length) { counts(b) += o.counts(b); b += 1 }
        Tally(counts, probes ++ o.probes)
      }
  }

  /** The least depth at which Spark's `treeAggregate` of `n` partials
    * hands the driver about `fanIn` of them (about n^(1/depth)); 1, a
    * single job stage, while `n <= fanIn`.
    */
  private def treeDepth(n: Int, fanIn: Int): Int = {
    require(fanIn >= 2, fanIn)
    var d = 1
    while (math.ceil(math.pow(n, 1.0 / d)) > fanIn) d += 1
    d
  }

  /** The exact df of each shingle held by more than `cap` rows of the hot
    * pass's `input`, and the (string, partial df) pairs sent the driver.
    * Each row yields its distinct shingles of the buckets whose counter
    * passes `cap` (no job runs when none does). Up to `budget` occurrences
    * in those buckets, which bound the pairs, each task counts its rows'
    * shingles for the driver to merge; past it one spillable `groupBy`
    * count hands the driver only the shingles over `cap`.
    */
  private def recount(input: QueryExecution, counts: Array[Long], cap: Long,
                      budget: Long): (Map[String, Long], Long) = {
    val spark = input.sparkSession
    val passing = counts.map(_ > cap)
    val occurrences = counts.iterator.filter(_ > cap).sum
    val shingles = input.toRdd.flatMap { r =>
      val t = if (r.isNullAt(1)) null else r.getUTF8String(1).toString
      val set = scala.collection.mutable.HashSet.empty[String]
      foreachShingle(t)((s, e) => if (passing(bucket(t, s, e, passing.length))) set += t.substring(s, e))
      set
    }
    if (occurrences == 0) (Map.empty, 0L)
    else if (occurrences > budget)
      (spark.createDataset(shingles)(Encoders.STRING).groupBy("value").count().filter(col("count") > cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap, 0L)
    else {
      val pairs = SQLExecution.withNewExecutionId(input, Some("runJob"))(shingles.mapPartitions { it =>
        val n = new java.util.HashMap[String, java.lang.Long]()
        it.foreach(n.merge(_, 1L, _ + _))
        n.asScala.iterator.map { case (s, k) => (s, k.longValue) }
      }.collect())
      (pairs.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > cap), pairs.length.toLong)
    }
  }

  /** The hot-pass bucket of `t.substring(s, e)` among `buckets`, from the
    * chars in place: String.hashCode's polynomial, spread by murmur3's
    * 32-bit finalizer.
    */
  private def bucket(t: String, s: Int, e: Int, buckets: Int): Int = {
    var h = 0
    var i = s
    while (i < e) { h = 31 * h + t.charAt(i); i += 1 }
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    Integer.remainderUnsigned(h, buckets)
  }

  /** The byte budget of one [[ProbeTable]]. */
  private[graft] val ProbeTableBytes = 64L << 20

  /** An upper bound on what one shingle adds to a table: the string (two
    * bytes a char), its map entry, its posting array and one posting.
    */
  private def entryBytes(s: String): Long = 100L + 2L * s.length

  /** `profiles` cut into consecutive batches whose tables each stay within
    * `budget` bytes, `fixed` of them taken by every table; a probe over the
    * budget on its own is a batch of one. Each probe's shingles are counted
    * as if no other probe shared them, so the estimate is an upper bound.
    */
  private def probeBatches(profiles: Array[(Long, Array[String])], fixed: Long,
                           budget: Long): Seq[Array[(Long, Array[String])]] = {
    val batches = Vector.newBuilder[Array[(Long, Array[String])]]
    var start = 0
    var bytes = fixed
    profiles.indices.foreach { i =>
      val b = 12L + profiles(i)._2.iterator.map(entryBytes).sum
      if (i > start && bytes + b > budget) { batches += profiles.slice(start, i); start = i; bytes = fixed }
      bytes += b
    }
    if (start < profiles.length) batches += profiles.drop(start)
    batches.result()
  }

  /** The broadcast side of [[ngramJaccard]]: the hot set, and for each rare
    * shingle of the probes the indices of the probes holding it, with each
    * probe's id and rare-shingle count.
    */
  private final class ProbeTable(hot: Set[String], ids: Array[Long], sizes: Array[Int],
                                 postings: java.util.HashMap[String, Array[Int]])
    extends Serializable {

    /** (a, b, inter, uni) for each probe `a` that shares a rare shingle
      * with row `b`, kept at a != b and 5*inter >= uni.
      */
    def matches(rows: Iterator[(Long, String)]): Iterator[(Long, Long, Long, Long)] = {
      val inter = new Array[Int](ids.length)
      val touched = new Array[Int](ids.length)
      rows.flatMap { case (b, t) =>
        var szb = 0
        var n = 0
        shingleSet(t).foreach { s =>
          if (!hot(s)) {
            szb += 1
            val ps = postings.get(s)
            if (ps != null) ps.foreach { p =>
              if (inter(p) == 0) { touched(n) = p; n += 1 }
              inter(p) += 1
            }
          }
        }
        val out = new Array[(Long, Long, Long, Long)](n)
        var kept = 0
        var k = 0
        while (k < n) {
          val p = touched(k)
          val uni = sizes(p) + szb - inter(p)
          if (ids(p) != b && 5L * inter(p) >= uni) {
            out(kept) = (ids(p), b, inter(p).toLong, uni.toLong); kept += 1
          }
          inter(p) = 0
          k += 1
        }
        out.iterator.take(kept)
      }
    }
  }

  private object ProbeTable {
    def apply(hot: Set[String], probes: Array[(Long, Array[String])]): ProbeTable = {
      val postings = new java.util.HashMap[String, Array[Int]]()
      probes.indices.flatMap(i => probes(i)._2.map(_ -> i)).groupMap(_._1)(_._2)
        .foreach { case (s, ps) => postings.put(s, ps.toArray) }
      new ProbeTable(hot, probes.map(_._1), probes.map(_._2.length), postings)
    }
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
          shingleSet(t).iterator.map { s =>
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
    * record: one row (n_dropped distinct shingles, max document frequency),
    * both null when `docs` holds no shingle, as `sum`/`max` over no rows.
    * Both come from [[ngramJaccard]]'s own hot pass, run with no probe and
    * as the plan is built: `n_dropped` is the size of its hot set, `max_df`
    * the largest df in it. When nothing is dropped, `max_df` comes from a
    * recount of the fullest buckets, then of the buckets whose counter
    * passes the best df found there (tagged `Dedup.hotShingles/max_df`):
    * exact, as a counter is never below the df of a shingle in its bucket.
    */
  def hotShingles(spark: SparkSession, docs: DataFrame, dfCap: Long): DataFrame =
    hotShingles(spark, docs, dfCap, HotBuckets, RecountBudget)

  /** [[hotShingles]] over `buckets` counters and the recount budget `recountBudget`. */
  private[graft] def hotShingles(spark: SparkSession, docs: DataFrame, dfCap: Long, buckets: Int,
                                 recountBudget: Long): DataFrame = {
    import spark.implicits._
    val HotPass(dfs, c, _, _, input) = hotAndProbes(docs, dfCap, lit(false), buckets, recountBudget)
    val maxDf =
      if (dfs.nonEmpty) Some(dfs.values.max)
      else JobTags.tagged(spark.sparkContext, "Dedup.hotShingles") { tag =>
        tag("max_df")
        val top = c.max // 0, and no job, when docs hold no shingle
        recount(input, c.map(n => if (n == top) n else 0L), 0L, recountBudget)._1.values.maxOption
          .map(best => (best +: recount(input, c, best, recountBudget)._1.values.toSeq).max)
      }
    Seq((maxDf.map(_ => dfs.size.toLong), maxDf)).toDF("n_dropped", "max_df")
  }

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
    JobTags.tagged(spark.sparkContext, "Dedup.connectedComponents") { tag =>
      tag("gate")
      val p = pairs.select(col("a"), col("b")).localCheckpoint(false)
      localEdges(p, localEdgeMax) match {
        case Some(edges) =>
          import spark.implicits._
          localComponents(edges).toDF("doc_id", "component")
        case None => propagate(p, maxIters, i => tag(s"round-$i"))
      }
    }
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
